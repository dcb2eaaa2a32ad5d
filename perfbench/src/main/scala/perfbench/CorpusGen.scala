package perfbench

import java.nio.file.Path

import scala.collection.mutable

/** Sizes of the synthetic retrieval corpus and its ingestion batches. */
final case class CorpusSizes(baseDocs: Int, vocab: Int, batchDocs: Int,
                             dupsPerBatch: Int, revivalsPerBatch: Int,
                             deletesPerBatch: Int, queriesPerBatch: Int,
                             k: Int)

/** One BM25 board row: (query_id, rank, doc_id, score_micro). */
final case class BoardRow(query: Long, rank: Int, doc: Long, score: Long)

/** One ingestion batch and what serving it must produce.
  *
  * @param incoming  (doc_id, text) arriving in this batch
  * @param dupPairs  (incoming id, held id) of the planted exact copies of
  *                  live documents: exactly what the gate must flag
  * @param tombstones live ids deleted by this batch
  * @param queries   (query_id, text) served after the batch is applied
  * @param board     expected top-k over the live corpus
  * @param filtered  expected top-k over live docs with id % 3 == 0
  * @param liveDocs  N after the batch; liveTokens: S after the batch */
final case class CorpusBatch(id: Long, incoming: Seq[(Long, String)],
                             dupPairs: Set[(Long, Long)],
                             tombstones: Seq[Long],
                             queries: Seq[(Long, String)],
                             board: Set[BoardRow], filtered: Set[BoardRow],
                             liveDocs: Long, liveTokens: Long)

/** Seeded corpus generator with an independent BM25 oracle.
  *
  * Documents are 30-60 whitespace-separated words drawn with a heavy skew
  * from a random vocabulary, plus one marker token unique to the
  * document. Each batch plants `dupsPerBatch` exact copies of live base
  * documents (which the minhash gate must flag), `revivalsPerBatch`
  * copies of documents deleted by an earlier batch, each revived at most
  * once (which it must not flag),
  * and deletes `deletesPerBatch` live base documents. Queries name one
  * document's marker plus two frequent words, so boards mix one exact
  * target with many weak matches.
  *
  * The oracle keeps every live document's tokens and recomputes the
  * reference's integer Okapi arithmetic exactly; it shares no code with
  * the index under test. */
final class CorpusGen(seed: Long, val sizes: CorpusSizes) {

  private val rng = new java.util.Random(Rand.mix(seed, 2))

  val vocab: Array[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < sizes.vocab) {
      val len = 3 + rng.nextInt(7)
      seen += Array.fill(len)(('a' + rng.nextInt(26)).toChar).mkString
    }
    seen.toArray
  }

  private def term(t: Int): String =
    if (t < vocab.length) vocab(t) else s"m${t - vocab.length}x"

  def text(tokens: Array[Int]): String = tokens.map(term).mkString(" ")

  private def newDoc(id: Long): Array[Int] = {
    val len = 30 + rng.nextInt(31)
    val words = Array.fill(len)(
      math.min(vocab.length - 1, (vocab.length * math.pow(rng.nextDouble(), 3)).toInt))
    val at = rng.nextInt(len + 1)
    (words.take(at) :+ (vocab.length + id.toInt)) ++ words.drop(at)
  }

  private val live = mutable.LongMap.empty[Array[Int]]
  private val dead = mutable.ArrayBuffer.empty[Array[Int]]
  private var liveTokens = 0L
  private var nextId = 1L
  private var batches = 0L

  /** Base documents never deleted: sources for planted copies. */
  private val stable = mutable.ArrayBuffer.empty[Long]
  /** Base documents deleted in this order, `deletesPerBatch` per batch. */
  private val deletable = mutable.Queue.empty[Long]

  private def insert(id: Long, toks: Array[Int]): Unit = {
    live(id) = toks
    liveTokens += toks.length
  }

  /** The base corpus, generated once: (doc_id, text). */
  val base: Seq[(Long, String)] = {
    val docs = (1 to sizes.baseDocs).map { _ =>
      val id = nextId
      nextId += 1
      val toks = newDoc(id)
      insert(id, toks)
      (if (id % 5 == 0) deletable else stable) += id
      (id, text(toks))
    }
    val order = Rand.shuffled(rng, deletable.toArray)
    deletable.clear()
    deletable ++= order
    docs
  }

  def writeBase(path: Path): Long = writeDocs(path, base)

  /** Documents as JSON lines {"doc_id": .., "text": ..}; the texts are
    * plain words, so no escaping is needed. */
  def writeDocs(path: Path, docs: Seq[(Long, String)]): Long =
    EtlGen.writeLines(path) { w =>
      docs.foreach { case (id, t) =>
        w.write(s"""{"doc_id": $id, "text": "$t"}""")
        w.write('\n')
      }
    }

  /** The next ingestion batch, with the oracle's expectations after it. */
  def nextBatch(): CorpusBatch = {
    batches += 1
    val b = batches
    val dupPairs = Seq.fill(sizes.dupsPerBatch) {
      val src = stable(rng.nextInt(stable.size))
      val id = nextId
      nextId += 1
      (id, src)
    }
    // each dead document is revived at most once: a revival is inserted
    // and stays live, so a second one would be a copy the gate must flag
    val revivals = Seq.fill(math.min(sizes.revivalsPerBatch, dead.size)) {
      val id = nextId
      nextId += 1
      (id, dead.remove(rng.nextInt(dead.size)))
    }
    val fresh = Seq.fill(sizes.batchDocs - dupPairs.size - revivals.size) {
      val id = nextId
      nextId += 1
      (id, newDoc(id))
    }
    val incoming = (dupPairs.map { case (id, src) => (id, live(src)) } ++
      revivals ++ fresh).sortBy(_._1)
    val tombstones = Seq.fill(math.min(sizes.deletesPerBatch, deletable.size))(
      deletable.dequeue())

    // deletes apply to the pre-batch state, then the novel docs land
    tombstones.foreach { id =>
      val toks = live.remove(id).get
      liveTokens -= toks.length
      dead += toks
    }
    (revivals ++ fresh).foreach { case (id, toks) => insert(id, toks) }

    val queryTerms = (0 until sizes.queriesPerBatch).map { q =>
      val target = q % 3 match {
        case 0 => fresh(rng.nextInt(fresh.size))._1
        case 1 if tombstones.nonEmpty => tombstones(rng.nextInt(tombstones.size))
        case _ => stable(rng.nextInt(stable.size))
      }
      // the target's marker plus two distinct frequent words
      (b * 100000L + q,
        Array(vocab.length + target.toInt, 5 + rng.nextInt(40), 45 + rng.nextInt(40)))
    }
    CorpusBatch(b, incoming.map { case (id, toks) => (id, text(toks)) },
      dupPairs.toSet, tombstones,
      queryTerms.map { case (qid, terms) => (qid, text(terms)) },
      CorpusGen.board(live, queryTerms, sizes.k),
      CorpusGen.board(live.filter(_._1 % 3 == 0), queryTerms, sizes.k),
      live.size.toLong, liveTokens)
  }
}

object CorpusGen {

  /** Top-k per query under the reference's integer Okapi BM25 (k1 = 1.2,
    * b = 0.75 in fixed point; ties by ascending doc id), over `docs` as
    * the whole corpus: N, S and df are taken from `docs` alone. */
  def board(docs: collection.Map[Long, Array[Int]],
            queries: Seq[(Long, Array[Int])], k: Int): Set[BoardRow] = {
    val wanted = queries.iterator.flatMap(_._2).toSet
    var n = 0L
    var s = 0L
    val df = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    val hits = mutable.HashMap.empty[Int, mutable.ArrayBuffer[(Long, Long, Long)]]
    docs.foreach { case (id, toks) =>
      n += 1
      s += toks.length
      val tf = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
      toks.foreach(t => if (wanted(t)) tf(t) += 1)
      tf.foreach { case (t, c) =>
        df(t) += 1
        hits.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += ((id, c, toks.length.toLong))
      }
    }
    queries.iterator.flatMap { case (qid, terms) =>
      val score = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
      terms.foreach { t =>
        val d = df(t)
        val idf = (1000000L * (2 * (n - d) + 1)) / (2 * d + 1)
        hits.getOrElse(t, Nil).foreach { case (id, tf, dl) =>
          val sat = (1000000L * tf * 22 * s) / (10 * s * tf + 3 * s + 9 * dl * n)
          score(id) += idf * sat / 1000000L
        }
      }
      score.toSeq.sortBy { case (id, sc) => (-sc, id) }.take(k)
        .zipWithIndex.map { case ((id, sc), i) => BoardRow(qid, i + 1, id, sc) }
    }.toSet
  }
}
