package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Bm25Index, Dedup, TextOps}

/** Persisted BM25 index laws: stored ≡ fresh (bit-identical boards at
  * any append count), replay idempotence under the commit marker,
  * torn-append exclusion, rebuild as pure compaction, and the
  * query-bounded serving plan. */
class Bm25IndexSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def docs = graft.sources.Tables.documents(spark, sf)
  private def queries = docs.filter(col("doc_id") % 29 === 0)
    .select(col("doc_id").as("query_id"),
      concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 6))
        .as("query_text"))

  private def board(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long, Long)] =
    df.select("query_id", "rk", "doc_id", "score_micro")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSeq.sorted

  test("stored ≡ fresh: one-shot index replays inline bm25TopK exactly") {
    val dir = graft.sources.Scratch.dir("bm25-idx-oneshot")
    val corpus = docs.filter(col("doc_id") % 29 =!= 0)
    Bm25Index.write(corpus, dir)
    val stored = board(Bm25Index.crossBm25TopK(spark, queries, dir, k = 5))
    val fresh = board(TextOps.bm25TopK(corpus, queries, k = 5))
    assert(stored == fresh, "persisted serve diverged from inline bm25TopK")
    assert(stored.nonEmpty, "fixture produced an empty board — gate is vacuous")
    // the metadata is read from disk: a commit record without (N, S)
    // is refused, never served as zeros
    val meta = Dedup.readMeta(spark, idxRoot(dir))
    Dedup.writeMeta(spark, idxRoot(dir), meta - "n_tokens")
    val ex = intercept[IllegalArgumentException](
      Bm25Index.crossBm25TopK(spark, queries, dir, k = 5))
    assert(ex.getMessage.contains("n_tokens"), ex.getMessage)
  }

  test("append law: base + two committed batches ≡ fresh over the union") {
    val dir = graft.sources.Scratch.dir("bm25-idx-append")
    val corpus = docs.filter(col("doc_id") % 29 =!= 0)
    Bm25Index.write(corpus.filter(col("doc_id") % 3 === 0), dir)
    Bm25Index.append(spark, dir, corpus.filter(col("doc_id") % 3 === 1),
      batchId = Some(0L))
    Bm25Index.append(spark, dir, corpus.filter(col("doc_id") % 3 === 2),
      batchId = Some(1L))
    val stored = board(Bm25Index.crossBm25TopK(spark, queries, dir, k = 5))
    val fresh = board(TextOps.bm25TopK(corpus, queries, k = 5))
    assert(stored == fresh,
      "append-folded stats diverged from the one-shot corpus")
    // replayed committed batch is a no-op (marker holds it)
    Bm25Index.append(spark, dir, corpus.filter(col("doc_id") % 3 === 1),
      batchId = Some(0L))
    assert(board(Bm25Index.crossBm25TopK(spark, queries, dir, k = 5))
      == fresh, "replaying a committed batch moved the board")
  }

  test("torn append (partials without marker) is excluded; replay heals") {
    val dir = graft.sources.Scratch.dir("bm25-idx-torn")
    val corpus = docs.filter(col("doc_id") % 29 =!= 0)
    val base = corpus.filter(col("doc_id") % 3 =!= 2)
    val delta = corpus.filter(col("doc_id") % 3 === 2)
    Bm25Index.write(base, dir)
    val baseBoard = board(Bm25Index.crossBm25TopK(spark, queries, dir, 5))
    // simulate the crash: the postings partition lands, the df
    // partition and the commit record do not
    val post = TextOps.docTermFreqs(delta, "doc_id", "text")
    post.withColumn("ingest_batch", lit(0L))
      .write.partitionBy("ingest_batch").mode("append")
      .parquet(s"${idxRoot(dir)}/postings")
    assert(board(Bm25Index.crossBm25TopK(spark, queries, dir, 5))
      == baseBoard, "uncommitted partition leaked into the served board")
    // the replayed batch overwrites its own partitions and commits
    Bm25Index.append(spark, dir, delta, batchId = Some(0L))
    assert(board(Bm25Index.crossBm25TopK(spark, queries, dir, 5))
      == board(TextOps.bm25TopK(corpus, queries, k = 5)),
      "healed replay diverged from the one-shot corpus")
  }

  test("rebuild: pure compaction — board frozen, files drop, marker survives") {
    val dir = graft.sources.Scratch.dir("bm25-idx-rebuild")
    val corpus = docs.filter(col("doc_id") % 29 =!= 0)
    Bm25Index.write(corpus.filter(col("doc_id") % 3 =!= 2), dir)
    Bm25Index.append(spark, dir, corpus.filter(col("doc_id") % 3 === 2),
      batchId = Some(7L))
    val before = board(Bm25Index.crossBm25TopK(spark, queries, dir, 5))
    def parquetFiles(p: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(p)).count(_.getName.endsWith(".parquet"))
    }
    val filesBefore = parquetFiles(s"${idxRoot(dir)}/postings")
    Bm25Index.rebuild(spark, dir, targetFiles = 1)
    assert(board(Bm25Index.crossBm25TopK(spark, queries, dir, 5)) == before,
      "rebuild moved the served board")
    assert(parquetFiles(s"${idxRoot(dir)}/postings") < filesBefore,
      "rebuild did not reduce the postings file count")
    assert(Dedup.readMeta(spark, idxRoot(dir))
      .get("last_committed_batch").contains("7"),
      "rebuild lost the commit marker")
    // a replayed batch ≤ marker still skips post-rebuild (its rows
    // live on in the base partition — double-fold would corrupt df)
    Bm25Index.append(spark, dir, corpus.filter(col("doc_id") % 3 === 2),
      batchId = Some(7L))
    assert(board(Bm25Index.crossBm25TopK(spark, queries, dir, 5)) == before,
      "replayed batch double-folded after rebuild")
  }

  test("delete law: write + append + delete ≡ fresh over corpus − deletes") {
    val dir = graft.sources.Scratch.dir("bm25-idx-del")
    val corpus = docs.filter(col("doc_id") % 29 =!= 0)
    Bm25Index.write(corpus.filter(col("doc_id") % 3 =!= 2), dir)
    Bm25Index.append(spark, dir, corpus.filter(col("doc_id") % 3 === 2),
      batchId = Some(0L))
    // tombstones span the base AND the appended batch
    Bm25Index.delete(spark, dir,
      corpus.filter(col("doc_id") % 5 === 1).select("doc_id"),
      batchId = Some(1L))
    val live = corpus.filter(col("doc_id") % 5 =!= 1)
    val fresh = board(TextOps.bm25TopK(live, queries, k = 5))
    assert(board(Bm25Index.crossBm25TopK(spark, queries, dir, 5)) == fresh,
      "deletion-folded serve diverged from a fresh build over the live corpus")
    assert(fresh.nonEmpty, "deletion fixture produced an empty board")
    // the deletion actually moved the board (fixture is non-vacuous)
    assert(fresh != board(TextOps.bm25TopK(corpus, queries, k = 5)),
      "tombstones did not intersect any served board — fixture is vacuous")
    // double-delete of already-committed tombstones retracts nothing
    Bm25Index.delete(spark, dir,
      corpus.filter(col("doc_id") % 5 === 1).select("doc_id"),
      batchId = Some(2L))
    assert(board(Bm25Index.crossBm25TopK(spark, queries, dir, 5)) == fresh,
      "double-delete double-retracted df/stats")
    // replay of a committed delete batch is a marker no-op
    Bm25Index.delete(spark, dir,
      corpus.filter(col("doc_id") % 5 === 1).select("doc_id"),
      batchId = Some(1L))
    assert(board(Bm25Index.crossBm25TopK(spark, queries, dir, 5)) == fresh,
      "replaying a committed delete moved the board")
    // tombstones for ids the index never held are harmless
    import spark.implicits._
    Bm25Index.delete(spark, dir, Seq(999999901L, 999999902L).toDF("doc_id"),
      batchId = Some(3L))
    assert(board(Bm25Index.crossBm25TopK(spark, queries, dir, 5)) == fresh,
      "unknown-id tombstones perturbed the served stats")
  }

  test("torn delete (partials without marker) is excluded; replay heals") {
    val dir = graft.sources.Scratch.dir("bm25-idx-torndel")
    val corpus = docs.filter(col("doc_id") % 29 =!= 0)
    Bm25Index.write(corpus, dir)
    val before = board(Bm25Index.crossBm25TopK(spark, queries, dir, 5))
    val tomb = corpus.filter(col("doc_id") % 5 === 1).select("doc_id")
    // simulate the crash: the NEGATIVE df partials of batch 0 land but
    // the tombstones and the commit record do not — the nastiest
    // torn layout, because a committed-side read of it would misscore
    // every term the deleted docs carried
    val delPost = TextOps.docTermFreqs(
      corpus.filter(col("doc_id") % 5 === 1), "doc_id", "text")
    delPost.groupBy("term").agg((-count(lit(1))).as("df"))
      .withColumn("ingest_batch", lit(0L))
      .write.partitionBy("ingest_batch").mode("append").parquet(s"${idxRoot(dir)}/df")
    assert(board(Bm25Index.crossBm25TopK(spark, queries, dir, 5)) == before,
      "uncommitted delete partials leaked into the served board")
    // replay overwrites the torn partition and commits all four pieces
    Bm25Index.delete(spark, dir, tomb, batchId = Some(0L))
    assert(board(Bm25Index.crossBm25TopK(spark, queries, dir, 5))
      == board(TextOps.bm25TopK(corpus.filter(col("doc_id") % 5 =!= 1),
        queries, k = 5)),
      "healed delete replay diverged from the live-corpus one-shot")
  }

  test("applyCdc: insert+delete under one marker ≡ fresh over the net " +
    "live corpus; delete+insert of one id is an UPDATE; replay skips") {
    val dir = graft.sources.Scratch.dir("bm25-idx-cdc")
    val corpus = docs.filter(col("doc_id") % 29 =!= 0)
    Bm25Index.write(corpus.filter(col("doc_id") % 3 === 0), dir)
    // batch 0: insert the 3≡1 docs, delete committed 3≡0 ∧ 5≡1 docs
    Bm25Index.applyCdc(spark, dir,
      corpus.filter(col("doc_id") % 3 === 1),
      corpus.filter(col("doc_id") % 3 === 0 && col("doc_id") % 5 === 1)
        .select("doc_id"),
      batchId = 0L)
    val live1 = corpus.filter((col("doc_id") % 3 === 0 ||
      col("doc_id") % 3 === 1) &&
      !(col("doc_id") % 3 === 0 && col("doc_id") % 5 === 1))
    val fresh1 = board(TextOps.bm25TopK(live1, queries, k = 5))
    assert(board(Bm25Index.crossBm25TopK(spark, queries, dir, 5)) == fresh1,
      "one-marker CDC batch diverged from the net-live fresh build")
    // committed replay (different content) skips outright
    Bm25Index.applyCdc(spark, dir, corpus.limit(3),
      corpus.limit(0).select("doc_id"), batchId = 0L)
    assert(board(Bm25Index.crossBm25TopK(spark, queries, dir, 5)) == fresh1,
      "replayed committed CDC batch was not skipped")
    // batch 1: an UPDATE — delete the LIVE 3≡1 ∧ 7≡0 docs and insert
    // new images of them (rewritten text) in the SAME batch. Deletes
    // apply first (old stats retract), inserts land above the shadow:
    // the board must serve the new images, bit-for-bit with a fresh
    // build over live1 with those docs' text replaced
    val updIds = corpus.filter(col("doc_id") % 3 === 1 &&
      col("doc_id") % 7 === 0)
    val updated = updIds.withColumn("text",
      concat(lit("updated image entirely different words "), col("text")))
    Bm25Index.applyCdc(spark, dir, updated, updIds.select("doc_id"),
      batchId = 1L)
    val live2 = live1
      .join(updIds.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(updated)
    assert(board(Bm25Index.crossBm25TopK(spark, queries, dir, 5))
      == board(TextOps.bm25TopK(live2, queries, k = 5)),
      "same-batch delete+insert did not serve the updated image exactly")
    // batch 2: RE-INSERT of ids deleted back in batch 0 — the shadow
    // tombstone spares later batches, so they serve (and re-count)
    // without any rebuild
    val backIds = corpus.filter(col("doc_id") % 3 === 0 &&
      col("doc_id") % 5 === 1)
    Bm25Index.applyCdc(spark, dir, backIds,
      backIds.limit(0).select("doc_id"), batchId = 2L)
    assert(board(Bm25Index.crossBm25TopK(spark, queries, dir, 5))
      == board(TextOps.bm25TopK(live2.unionByName(backIds), queries, k = 5)),
      "cross-batch re-insert of deleted ids diverged from fresh net-live")
    // stats stayed signed-exact through delete → update → re-insert
    assert(Bm25Index.statsConsistency(spark, dir) == ((0L, 0L, 0L)),
      "folded df/(N,S) partials diverged from the live recompute")
  }

  test("torn UPSERT batch: a crash after the postings write leaves " +
    "reads untouched; the replay heals to the clean-run state") {
    val dir = graft.sources.Scratch.dir("bm25-idx-tornups")
    val corpus = docs.filter(col("doc_id") % 29 =!= 0)
    Bm25Index.write(corpus, dir)
    val before = board(Bm25Index.crossBm25TopK(spark, queries, dir, 5))
    val upd = corpus.filter(col("doc_id") % 11 === 3)
      .withColumn("text", concat(lit("torn upsert image "), col("text")))
    // crash after the FIRST of the batch's four writes (postings; no
    // tomb, no signed df partials, no commit record): the partition
    // sits past the marker, so every read must exclude it whole
    Dedup.writeIndexTable(TextOps.docTermFreqs(upd, "doc_id", "text"),
      0L, s"${idxRoot(dir)}/postings")
    assert(board(Bm25Index.crossBm25TopK(spark, queries, dir, 5)) == before,
      "torn upsert partition leaked into the served board")
    // the replay dynamically overwrites its own partitions and commits
    // — byte-identical to a run that never crashed
    Bm25Index.applyCdc(spark, dir, upd, upd.select("doc_id"), batchId = 0L)
    val live = corpus.filter(col("doc_id") % 11 =!= 3).unionByName(upd)
    assert(board(Bm25Index.crossBm25TopK(spark, queries, dir, 5))
      == board(TextOps.bm25TopK(live, queries, k = 5)),
      "healed upsert replay diverged from the live-corpus one-shot")
    assert(Bm25Index.statsConsistency(spark, dir) == ((0L, 0L, 0L)),
      "healed upsert left skewed folded stats")
  }

  test("rebuild after delete: tombstones compact away, board frozen") {
    val dir = graft.sources.Scratch.dir("bm25-idx-delreb")
    val corpus = docs.filter(col("doc_id") % 29 =!= 0)
    Bm25Index.write(corpus, dir)
    Bm25Index.delete(spark, dir,
      corpus.filter(col("doc_id") % 5 === 1).select("doc_id"),
      batchId = Some(0L))
    val before = board(Bm25Index.crossBm25TopK(spark, queries, dir, 5))
    val postRows = spark.read.parquet(s"${idxRoot(dir)}/postings").count()
    Bm25Index.rebuild(spark, dir, targetFiles = 1)
    assert(!new java.io.File(s"${idxRoot(dir)}/tomb").exists(),
      "rebuild left the tombstone table behind")
    assert(spark.read.parquet(s"${idxRoot(dir)}/postings").count() < postRows,
      "rebuild did not physically drop tombstoned postings")
    assert(board(Bm25Index.crossBm25TopK(spark, queries, dir, 5)) == before,
      "delete-compacting rebuild moved the served board")
    assert(Dedup.readMeta(spark, idxRoot(dir))
      .get("last_committed_batch").contains("0"),
      "rebuild lost the commit marker")
  }

  test("maxDfFrac serving knob matches the inline form") {
    val dir = graft.sources.Scratch.dir("bm25-idx-dffrac")
    val corpus = docs.filter(col("doc_id") % 29 =!= 0)
    Bm25Index.write(corpus, dir)
    assert(
      board(Bm25Index.crossBm25TopK(spark, queries, dir, 5,
        maxDfFrac = 0.2))
        == board(TextOps.bm25TopK(corpus, queries, k = 5,
          maxDfFrac = 0.2)),
      "maxDfFrac behaves differently on the stored path")
  }

  test("wrong-kind dir and empty index are refused loudly") {
    val dir = graft.sources.Scratch.dir("bm25-idx-wrongkind")
    graft.operators.SimJoin.writePrefixIndex(
      docs.limit(20), "doc_id", "text", 6, 10, dir)
    val e = intercept[IllegalArgumentException] {
      Bm25Index.crossBm25TopK(spark, queries, dir, 5)
    }
    assert(e.getMessage.contains("not a BM25 index"))
    import spark.implicits._
    val dir2 = graft.sources.Scratch.dir("bm25-idx-empty")
    Bm25Index.write(Seq((1L, " ")).toDF("doc_id", "text"), dir2)
    val e2 = intercept[IllegalArgumentException] {
      Bm25Index.crossBm25TopK(spark, queries, dir2, 5)
    }
    assert(e2.getMessage.contains("no committed documents"))
  }

  test("serving plan is query-bounded: postings enter via a semi-join") {
    val dir = graft.sources.Scratch.dir("bm25-idx-plan")
    Bm25Index.write(docs.filter(col("doc_id") % 29 =!= 0), dir)
    val plan = Bm25Index.crossBm25TopK(spark, queries, dir, 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"),
      "stored postings must reduce to the query-term sliver via a semi-join")
  }

  test("filtered serve, FilteredStats: ≡ inline bm25TopK over the " +
    "tenant corpus; all-ids filter degenerates to the unfiltered serve") {
    val dir = graft.sources.Scratch.dir("bm25-flt-tenant")
    val corpus = docs.filter(col("doc_id") % 29 =!= 0)
    Bm25Index.write(corpus, dir)
    val allowed = docs.filter(col("lang") =!= "en").select("doc_id")
    val served = board(Bm25Index.crossBm25TopKFiltered(
      spark, queries, dir, allowed, k = 5))
    val fresh = board(TextOps.bm25TopK(
      corpus.filter(col("lang") =!= "en"), queries, k = 5))
    assert(served == fresh,
      "tenant-scope filtered serve diverged from a fresh per-tenant build")
    assert(served.nonEmpty, "tenant fixture produced an empty board")
    // the tenant board must actually differ from the unfiltered one —
    // otherwise the fixture never exercises the filter
    val unfiltered = board(Bm25Index.crossBm25TopK(spark, queries, dir, 5))
    assert(served != unfiltered,
      "fixture filter is vacuous — tenant board equals the unfiltered one")
    val all = board(Bm25Index.crossBm25TopKFiltered(
      spark, queries, dir, corpus.select("doc_id"), k = 5))
    assert(all == unfiltered,
      "an all-ids filter must serve exactly the unfiltered board")
  }

  test("filtered serve, HomeStats: pre-filter over the complete match " +
    "stream — surviving pairs keep their unfiltered scores") {
    val dir = graft.sources.Scratch.dir("bm25-flt-home")
    val corpus = docs.filter(col("doc_id") % 29 =!= 0)
    Bm25Index.write(corpus, dir)
    val allowed = docs.filter(col("lang") =!= "en").select("doc_id")
    val served = board(Bm25Index.crossBm25TopKFiltered(
      spark, queries, dir, allowed, k = 5, scope = Bm25Index.HomeStats))
    assert(served.nonEmpty, "home-scope fixture produced an empty board")
    // reference: the FULL unfiltered match stream (k = corpus size so
    // nothing is cut), post-hoc masked to allowed docs and re-ranked —
    // identical to pre-filtering ONLY because k exhausts the stream;
    // at serving k the post-hoc cut would lose survivors, which is
    // exactly why the operator pre-filters
    val allowedIds = allowed.collect().map(_.getLong(0)).toSet
    val recut = board(Bm25Index.crossBm25TopK(
        spark, queries, dir, k = 1000000))
      .filter(r => allowedIds.contains(r._3))
      .groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
        rows.sortBy(r => (-r._4, r._3)).take(5).zipWithIndex
          .map { case ((q, _, d, sc), i) => (q, i + 1, d, sc) }
      }.sorted
    assert(served == recut,
      "home-scope board must equal the exhaustively-recut unfiltered " +
        "stream (same stats, matches masked)")
    val all = board(Bm25Index.crossBm25TopKFiltered(spark, queries, dir,
      corpus.select("doc_id"), k = 5, scope = Bm25Index.HomeStats))
    assert(all == board(Bm25Index.crossBm25TopK(spark, queries, dir, 5)),
      "an all-ids filter must serve exactly the unfiltered board")
  }

  test("filtered serve refusals: key shape; empty tenant refuses " +
    "FilteredStats and serves an empty HomeStats board") {
    val dir = graft.sources.Scratch.dir("bm25-flt-refuse")
    Bm25Index.write(docs.filter(col("doc_id") % 29 =!= 0), dir)
    val e = intercept[IllegalArgumentException] {
      Bm25Index.crossBm25TopKFiltered(spark, queries, dir,
        docs.select("doc_id", "lang"), k = 5)
    }
    assert(e.getMessage.contains("single doc_id key"))
    val none = docs.filter(lit(false)).select("doc_id")
    val e2 = intercept[IllegalArgumentException] {
      Bm25Index.crossBm25TopKFiltered(spark, queries, dir, none, k = 5)
    }
    assert(e2.getMessage.contains("excludes every live document"))
    assert(board(Bm25Index.crossBm25TopKFiltered(spark, queries, dir,
      none, k = 5, scope = Bm25Index.HomeStats)).isEmpty,
      "home scope over an empty filter must serve an empty board, " +
        "not refuse — index-wide stats need no tenant corpus")
  }
}
