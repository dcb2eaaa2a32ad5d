package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted BM25 retrieval index — the serving-side artifact for a
  * continuously-fed retrieval corpus. [[TextOps.bm25TopK]] re-derives
  * postings, document frequencies and the (N, S) corpus stats on every
  * invocation; at 100 TB that is a full corpus re-tokenize per query
  * batch. This index pays the postings build ONCE, then every serving
  * call reads a query-term-bounded sliver of the stored postings — the
  * `crossPrefixJoin` lifecycle shape ([[SimJoin]]) applied to
  * retrieval.
  *
  * Layout under `dir` (the shared v2 `ingest_batch`-partitioned index
  * layout — [[Dedup.writeIndexTable]] / commit-marker semantics):
  *
  *  - `postings/` — (doc_id, term, tf, dl): the per-(doc, term) table
  *    from [[TextOps.docTermFreqs]], one partition per appended batch;
  *  - `df/` — (term, df) PER-BATCH SIGNED PARTIALS. df is a
  *    distributive count over docs (a doc lives in exactly one batch),
  *    so the read-side fold Σ_batches df is the EXACT global df —
  *    unlike the prefix index's deliberately-stale dictionary, BM25's
  *    idf needs current df, and here currency costs a vocab-bounded
  *    fold, never a corpus rescan. [[delete]] writes NEGATIVE partials
  *    into the same table (df is distributive over signed
  *    contributions — the `Maintain.mergeAggStateWithDeletes`
  *    argument), so the fold stays exact under takedowns too;
  *  - `tomb/` — (doc_id, shadow_upto) per-batch SHADOW tombstones
  *    written by [[delete]] (`Dedup.ShadowCol`): each kills the doc's
  *    rows from batches ≤ its `shadow_upto` (the marker at delete
  *    time) and spares later batches, so a batched re-insert — or a
  *    delete+insert UPDATE within one CDC batch — serves its new
  *    image. The serving path masks its (already query-term-bounded)
  *    match stream against them; dead postings stay on disk until
  *    [[rebuild]] or [[compact]] folds them away;
  *  - the metadata file — the commit record: `kind`,
  *    `last_committed_batch`, and the live corpus totals (N, S) as
  *    `n_docs` / `n_tokens` (as the minhash index keeps `n_docs`). Each
  *    write adds its batch's signed (n, s) to the pre-batch totals in
  *    the same rename that advances the marker, so serving reads (N, S)
  *    with no Spark job.
  *
  * Because every statistic stays exact — including the negative
  * delete partials — a served board equals the inline
  * [[TextOps.bm25TopK]] over (base ∪ all committed batches) −
  * committed tombstones BIT FOR BIT, at any append/delete count:
  * "stored ≡ fresh" holds continuously, no rebuild required for
  * correctness. [[rebuild]] is therefore pure compaction hygiene: fold
  * the batch partitions into the base, drop tombstoned postings
  * physically, and reset the tombstone table, so scan cost stops
  * accreting file-open overhead and the tombstone anti-join returns to
  * zero-cost (the `compactMinhashIndex` argument).
  *
  * Crash safety: the initial [[write]] and every [[rebuild]] land via
  * [[Dedup.swapInDir]] (mid-build crash leaves the old state — or
  * nothing — at `dir`; the delete+rename instant is loudly unreadable
  * and repaired by [[Dedup.recoverSwap]]). [[append]]/[[delete]] write
  * their tables non-atomically but the commit record strictly LAST, so
  * for batchId ≥ 0 calls [[Dedup.committedOnly]] reads exclude a torn
  * call's partitions, a torn call leaves (N, S) at the pre-batch
  * totals, and a replayed batchId either skips (marker holds it) or
  * dynamically overwrites its own partitions, adding its (n, s) to the
  * same pre-batch totals. A batchId=None
  * (synchronous) call writes into the always-committed base partition
  * with NO torn-write protection — it is a one-shot under the
  * single-writer contract, exactly like `appendToMinhashIndex`'s
  * synchronous path; route retried/streamed traffic through batchIds.
  * Appends assume batch doc_ids are not currently LIVE in the index
  * (a live id re-ingested without a delete double-counts df/(N, S) —
  * the same uniqueness contract the minhash index's append carries).
  * A DELETED id may be re-ingested through any batched path: its old
  * rows and (n, s) were retracted at delete time and the shadow
  * tombstone spares the new batch — an update is delete+insert, in
  * one CDC batch or across batches. Only the synchronous
  * (batchId=None) append refuses re-inserts, because its rows land in
  * the always-shadowed base partition ([[Dedup.refuseShadowedInserts]]). */
object Bm25Index {

  private[graft] val Kind = "bm25_index"

  /** Fixed on-disk table schemas, passed EXPLICITLY to every read:
    * parquet schema inference fires a footer-reading Spark job per
    * `spark.read.parquet` call, and the serve ([[serve]]) over a
    * sharded home opens 2 tables × S shards
    * — at the S-in-the-hundreds sizing that is hundreds of tiny
    * sequential driver jobs per serve, for schemas that never change
    * (they are this writer's own fixed layout). Explicit schemas make
    * every open job-free; the serve's job count is then provably
    * independent of S (`PlanAuditSpec`). */
  private val postingsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("term",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("tf",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("dl",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField(Dedup.IngestBatchCol,
      org.apache.spark.sql.types.LongType)))
  private val dfSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("term",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("df",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField(Dedup.IngestBatchCol,
      org.apache.spark.sql.types.LongType)))

  private def readPostings(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(postingsSchema).parquet(s"$root/postings")
  private def readDfTable(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(dfSchema).parquet(s"$root/df")

  /** Commit-record keys of the live corpus totals: N (documents) and S
    * (Σ document lengths). */
  private val NDocs = "n_docs"
  private val NTokens = "n_tokens"

  private def validate(meta: Map[String, String], dir: String): Unit = {
    require(meta.get("kind").contains(Kind),
      s"$dir is not a BM25 index (kind=${meta.getOrElse("kind", "<absent>")})")
    require(meta.contains(NDocs) && meta.contains(NTokens),
      s"BM25 index at $dir has no (N, S) in its metadata ($NDocs and " +
        s"$NTokens are required) — rewrite it with Bm25Index.write")
  }

  /** Σ (n, s) over (n, s) rows ([[TextOps.bm25StatsPartials]],
    * negated for retractions) — one `.head()`. */
  private def totalsOf(partials: DataFrame): (Long, Long) = {
    val r = partials.agg(coalesce(sum(col("n")), lit(0L)),
      coalesce(sum(col("s")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** `meta` with a batch's signed (n, s) added to its (N, S) totals. */
  private def addTotals(meta: Map[String, String],
                        partials: DataFrame): Map[String, String] = {
    val (n, s) = totalsOf(partials)
    meta + (NDocs -> (meta(NDocs).toLong + n).toString) +
      (NTokens -> (meta(NTokens).toLong + s).toString)
  }

  /** Negated (n, s) partials of retracted postings. */
  private def retracted(delPost: DataFrame): DataFrame =
    TextOps.bm25StatsPartials(delPost)
      .select((-col("n")).as("n"), (-col("s")).as("s"))

  private def dfPartials(postings: DataFrame): DataFrame =
    postings.groupBy("term").agg(count(lit(1)).as("df"))

  /** One index directory opened for a read or a commit: the version
    * root resolved ONCE ([[Dedup.indexRoot]]'s contract) and its commit
    * record read and validated once. (N, S), the df partials, the
    * tombstones and the postings all come from this one record, so a
    * commit by the single writer between two table reads can never
    * pair one record's (N, S) with the next record's postings — readers
    * take no lease. */
  private final class Snapshot(spark: SparkSession, dir: String) {
    val root: String = Dedup.indexRoot(spark, dir)
    val meta: Map[String, String] = Dedup.readMeta(spark, root)
    validate(meta, dir)

    /** The commit record's (N, S) — no Spark job; zero docs allowed
      * (the refusal belongs to whoever owns the total: [[liveTotals]]). */
    def totals: (Long, Long) = (meta(NDocs).toLong, meta(NTokens).toLong)

    /** Committed shadow tombstones — (doc_id, `Dedup.ShadowCol`) — or
      * None when no delete has ever run (missing `tomb/` = the common
      * append-only case pays zero cost; an empty-born tomb table from an
      * insert-only CDC batch counts as absent). */
    lazy val tombs: Option[DataFrame] =
      Dedup.committedTombsAt(spark, s"$root/tomb", meta, "doc_id")

    /** The committed signed df partials, RAW (un-aggregated) and lazy —
      * [[foldDf]] folds them, over one directory or a shard union. */
    def dfPartials: DataFrame =
      Dedup.committedOnly(readDfTable(spark, root), meta).select("term", "df")

    /** The committed LIVE postings (doc_id, term, tf, dl), tombstones
      * masked. With `probedKeys` (a broadcast-sized distinct-term frame)
      * the scan semi-joins to the probed terms FIRST (partition-pruned
      * committed scan) and the shadow mask runs over the already-bounded
      * stream — the serve's match stream. */
    def livePostings(probedKeys: Option[DataFrame] = None): DataFrame = {
      val committed = Dedup.committedOnly(readPostings(spark, root), meta)
      Dedup.maskShadowed(
        probedKeys.fold(committed)(committed.join(_, Seq("term"), "left_semi")),
        "doc_id", tombs, "doc_id")
        .select("doc_id", "term", "tf", "dl")
    }
  }

  /** Exact global document frequencies: ONE `groupBy(term).sum` over
    * signed partials (appends positive, deletes negative) of one
    * directory or of a shard union — df is distributive, so one fold
    * over all partials ≡ the fold of per-shard folds, whose S shuffle
    * stages would each materialize as their own AQE job. Terms whose
    * docs are all deleted fold to 0 and drop (applied to the GLOBAL
    * sum) — exactly as a fresh build over the live corpus would never
    * emit them. */
  private def foldDf(partials: DataFrame): DataFrame =
    partials.groupBy("term").agg(sum(col("df")).as("df"))
      .filter(col("df") > 0)

  /** Σ of the commit records' (N, S) over `shards`, refused only when
    * the GLOBAL N is 0: a takedown may drain one shard of a live home,
    * and a drained shard contributes (0, 0). */
  private def liveTotals(shards: Seq[Snapshot], index: String): (Long, Long) = {
    val (n, s) = shards.map(_.totals)
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    require(n > 0, s"$index holds no committed documents")
    (n, s)
  }

  /** The one whole-index writer behind [[write]], [[writeFromPostings]]
    * and [[rebuild]]: `post` and its df partials land in a fresh
    * version, then the commit record — `base` with the (N, S) of
    * `post` — strictly last, and the version swaps in whole
    * ([[Dedup.swapInDir]]): stale batch partitions and tombstones of the
    * old version never ride into the new one. `post` must be
    * materialized; both tables and the totals read it. */
  private def swapInIndex(spark: SparkSession, dir: String, post: DataFrame,
                          base: Map[String, String]): Unit = {
    val (nDocs, sTok) = totalsOf(TextOps.bm25StatsPartials(post))
    val meta = base + (NDocs -> nDocs.toString) + (NTokens -> sTok.toString)
    Dedup.swapInDir(spark, dir) { tmp =>
      // two independent writes off the one postings frame — overlapped
      // (Par, guide §2.6); the commit record strictly after
      Par.run(Seq(
        () => Dedup.writeIndexTable(post, -1L, s"$tmp/postings",
          overwriteAll = true),
        () => Dedup.writeIndexTable(dfPartials(post), -1L, s"$tmp/df",
          overwriteAll = true)))
      Dedup.writeMeta(spark, tmp, meta)
    }
  }

  /** Build the index over `corpus` (one tokenize pass; postings feed
    * the df fold and the (N, S) totals off the same materialized table
    * — the [[TextOps.bm25TopK]] branch-reuse shape, persisted). Writing
    * over an existing index replaces EVERYTHING. */
  def write(corpus: DataFrame, dir: String, id: String = "doc_id",
            text: String = "text"): Unit = {
    val spark = corpus.sparkSession
    IndexLease.withLease(spark, dir, "Bm25Index.write") {
      val (post, release) = Dedup.materializeTracked(
        TextOps.docTermFreqs(corpus, id, text))
      try swapInIndex(spark, dir, post, Map("kind" -> Kind))
      finally release()
    }
  }

  /** Append a batch: its postings and df partials land in their own
    * `ingest_batch` partitions; the commit record adds the batch's
    * (n, s) to (N, S) and commits both — an [[applyCdc]] batch with no
    * deletes. Replay-idempotent for batchId ≥ 0 (skip if committed,
    * partition-overwrite if torn); batchId=None is a one-shot with no
    * torn-write protection (see the object doc). */
  def append(spark: SparkSession, dir: String, newDocs: DataFrame,
             batchId: Option[Long] = None, id: String = "doc_id",
             text: String = "text"): Unit =
    commit(spark, dir, newDocs, IndexCdc.emptyDeletes(spark, Kind, id),
      batchId, id, text, "Bm25Index.append")

  /** Delete documents from the index — the takedown /
    * right-to-be-forgotten leg a daily-ingesting corpus needs daily.
    * `tombstones` carries the doc ids to remove (any other columns are
    * ignored; duplicates and ids the index never held are harmless).
    * It is an [[applyCdc]] batch with no inserts.
    *
    * Mechanics: the retraction is derived FROM THE STORED POSTINGS —
    * the deleted docs' (term, tf, dl) rows are exactly what their
    * ingestion contributed, so writing their df counts NEGATED into the
    * df partials and subtracting their (n, s) from the commit record's
    * (N, S) keeps both exact over the live corpus (df and (N, S) are
    * distributive over signed contributions —
    * `Maintain.mergeAggStateWithDeletes` applied to retrieval). The ids
    * land in `tomb/` as SHADOW tombstones (`Dedup.ShadowCol` — they
    * kill only rows from batches ≤ the marker at delete time, so a
    * later batched re-insert of the id serves and re-counts); the
    * serving path masks its match stream against them, and postings
    * rows stay on disk until [[rebuild]]/[[compact]] fold them away.
    * The retraction targets only ids the index currently holds LIVE,
    * so a double-delete (or a delete of an unknown id) retracts and
    * tombstones nothing.
    * Cost: one postings semi-join (vocab of the deleted docs) + two
    * batch-bounded writes — never a corpus rescan. A replay re-derives
    * the SAME retraction, because single-writer monotone batchIds mean
    * nothing else committed in between. */
  def delete(spark: SparkSession, dir: String, tombstones: DataFrame,
             batchId: Option[Long] = None, id: String = "doc_id"): Unit =
    commit(spark, dir, IndexCdc.emptyInserts(spark, Kind, id, "text"),
      tombstones, batchId, id, "text", "Bm25Index.delete")

  /** One CDC change-batch applied atomically under ONE commit marker —
    * the family's in-place commit, which [[append]] and [[delete]] run
    * with one side empty and [[IndexCdc]] routes change streams to. It
    * writes the batch's insert postings, its SIGNED df partials (insert
    * positives ∪ delete negatives in one table write), and its
    * tombstones into one partition, then commits the batch's signed
    * (n, s) with the marker, strictly last. Deletes apply FIRST, to the
    * PRE-batch state (the shadow tombstone's `shadow_upto` is the
    * pre-batch marker, so it kills no row of this batch): a
    * delete+insert of one id in the batch is an UPDATE — the old
    * image's (n, s) retracts, the new image indexes and counts — and a
    * re-insert of an id deleted in an earlier batch serves the same
    * way, no rebuild required. Inserting a currently-live id WITHOUT
    * deleting it in the same batch remains the double-count
    * caller-contract violation it always was. */
  def applyCdc(spark: SparkSession, dir: String, newDocs: DataFrame,
               tombstones: DataFrame, batchId: Long,
               id: String = "doc_id", text: String = "text"): Unit =
    commit(spark, dir, newDocs, tombstones, Some(batchId), id, text,
      "Bm25Index.applyCdc")

  /** The family's one in-place commit body ([[applyCdc]]):
    * `batchId = None` is the synchronous path — base partition, marker
    * untouched, re-inserts of tombstoned ids refused. A statically
    * empty side writes nothing. `op` names the lease and the refusals. */
  private def commit(spark: SparkSession, dir: String, newDocs: DataFrame,
                     tombstones: DataFrame, batchId: Option[Long],
                     id: String, text: String, op: String): Unit =
    IndexLease.withLease(spark, dir, op) {
    val snap = new Snapshot(spark, dir)
    val (root, meta) = (snap.root, snap.meta)
    if (batchId.exists(_ <= Dedup.lastCommittedBatch(meta))) return
    val ids = tombstones.select(col(id).cast("long").as("doc_id")).distinct()
    Dedup.refuseShadowedInserts(newDocs, id, snap.tombs, "doc_id", op, dir,
      syncPath = batchId.isEmpty)
    // LIVE pre-batch postings: the retraction must see exactly what
    // this batch's tombstones newly kill, never already-shadowed rows
    val livePost = snap.livePostings()
    // ONE materialization for the whole retraction: the killed postings
    // livePost ⋉ ids ≡ livePost ⋉ (ids ∩ live), and the tombstone id set
    // is its distinct doc_id — deriving it from the materialized frame
    // replaces a second checkpoint + broadcast semi-join per batch
    // (§1.2; both sides agree exactly, including zero-postings docs,
    // which appear in neither)
    val (delPost, relT) = Dedup.materializeTracked(
      livePost.join(ids, Seq("doc_id"), "left_semi"))
    val fresh = delPost.select("doc_id").distinct()
    try {
      // deletes-first: ALL inserts index (an update's new image too)
      val (post, relI) = Dedup.materializeTracked(
        TextOps.docTermFreqs(newDocs, id, text))
      try {
        val part = batchId.getOrElse(-1L)
        // three independent batch-partition writes off the two
        // materialized frames — overlapped (Par, guide §2.6); marker
        // strictly last
        Par.run(Seq(
          () => Dedup.writeIndexTable(post, part, s"$root/postings"),
          () => Dedup.writeTombs(fresh, Dedup.lastCommittedBatch(meta),
            part, s"$root/tomb"),
          () => Dedup.writeIndexTable(
            dfPartials(post).unionByName(
              dfPartials(delPost).select(col("term"), (-col("df")).as("df"))),
            part, s"$root/df")))
        Dedup.writeMeta(spark, root,
          addTotals(meta, TextOps.bm25StatsPartials(post)
            .unionByName(retracted(delPost)))
            ++ batchId.map(b => "last_committed_batch" -> b.toString))
      } finally relI()
    } finally relT()
  }

  /** Folds a CDC/append-fed index's per-batch partitions back into
    * `targetFiles` files per table — the retrieval twin of
    * `Dedup.compactMinhashIndex`: at micro-batch cadence postings, the
    * signed df partials, and the tombstones fragment one file set per
    * batch, the classic streaming-sink killer. Committed rows are
    * preserved EXACTLY (the signed partials keep folding to the same
    * totals), so a readable mix of compacted and uncompacted
    * TABLES is content-identical and the per-table swap sequence is
    * safe here — unlike [[rebuild]], whose content changes and
    * therefore swaps one directory. The metadata is copied as it is —
    * `last_committed_batch` (folded batches live on in the base
    * partition, so replayed batchIds still skip) and (N, S) alike.
    * Tombstoned postings are folded away physically and the tombstone
    * table dropped (squashing batches into the base would erase the
    * shadow ordering — see `Dedup.compactTables`); the signed df
    * partials fold verbatim, so every read-side total is unchanged.
    * Offline single-writer maintenance. */
  def compact(spark: SparkSession, dir: String,
              targetFiles: Int = 4): Unit =
    IndexLease.withLease(spark, dir, "Bm25Index.compact") {
      validate(Dedup.readMeta(spark, Dedup.indexRoot(spark, dir)), dir)
      Dedup.compactTables(spark, dir, targetFiles,
        masked = Seq("postings" -> Seq("doc_id", "term", "tf", "dl")),
        idCol = "doc_id",
        unmasked = Seq("df" -> Seq("term", "df")))
    }

  /** Exact global (N, S) of the live corpus, read from the commit
    * record — no Spark job. */
  def foldedStats(spark: SparkSession, dir: String): (Long, Long) =
    liveTotals(Seq(new Snapshot(spark, dir)), s"BM25 index at $dir")

  /** Serve a query batch from the stored index: top-k per query,
    * bit-identical to [[TextOps.bm25TopK]] over the index's full
    * committed LIVE content (appends minus tombstoned docs) — the
    * one-directory case of [[serve]], where the cost shape lives.
    * `maxDfFrac` is the same serving-path pruning knob as the inline
    * form (a semantics change, caller-owned). */
  def crossBm25TopK(spark: SparkSession, queries: DataFrame, dir: String,
                    k: Int = 5, qid: String = "query_id",
                    qtext: String = "query_text",
                    maxDfFrac: Double = 1.0): DataFrame =
    serve(spark, queries, dir, Seq(dir), "BM25 index", "crossBm25TopK", k,
      qid, qtext, maxDfFrac, None)

  /** Statistics scope for [[crossBm25TopKFiltered]] — the ONE real
    * semantic fork in filtered lexical retrieval, so it is a typed
    * knob, never a silent default. */
  sealed trait FilterScope
  /** df/N/S recomputed over the FILTERED live corpus: the board a
    * dedicated per-tenant index would serve (idf reflects the corpus
    * the caller can actually retrieve from). Serving pays one
    * df/stats fold over the allowed docs' postings — ∝ the FILTER's
    * corpus, never the home. */
  case object FilteredStats extends FilterScope
  /** Home-level df/N/S with only the match stream masked — the
    * Lucene/Elasticsearch `filter` convention (idf is an index-wide
    * constant, so the same doc scores identically under every
    * filter). Serving cost is [[crossBm25TopK]]'s match stream plus
    * an ids-only semi-join. */
  case object HomeStats extends FilterScope

  /** Metadata-FILTERED serving over the stored index — "top-k
    * matching WHERE <predicate>", the lexical twin of
    * [[Similarity.ivfTopKFiltered]] (tenant / language / license /
    * date filters on the retrieval corpus). The predicate arrives as
    * `allowed`: a (`doc_id`) key set computed from ANY metadata table
    * by ordinary pushed-down Spark filters — the index stays
    * metadata-free, so ONE stored home serves every filter with no
    * per-filter builds.
    *
    * Semantics are PRE-filter in both scopes (k survivors come back
    * whenever the live index holds k allowed matches — never a
    * post-hoc cut of an unfiltered board); the scopes differ only in
    * where idf/length-normalization statistics come from:
    *
    *  - [[FilteredStats]] (default): bit-identical to
    *    [[TextOps.bm25TopK]] over the filtered live corpus — the
    *    exactness law a per-tenant index would give, by the same
    *    distributivity argument [[writeFromPostings]] rests on
    *    (df/N/S recompute exactly from any live-postings slice).
    *  - [[HomeStats]]: bit-identical to [[crossBm25TopK]]'s match
    *    stream restricted to allowed docs — every surviving (query,
    *    doc) pair keeps its unfiltered score.
    *
    * Scale shape: the allowed keys are ids-only (no text payload) —
    * selective filters broadcast into the semi-join; HomeStats adds
    * nothing else to the serve. FilteredStats additionally folds
    * df/(N, S) over the allowed docs' postings — one scan bounded by
    * the filtered corpus (a tenant's postings, not the home's), the
    * honest price of tenant-local idf. */
  def crossBm25TopKFiltered(spark: SparkSession, queries: DataFrame,
                            dir: String, allowed: DataFrame, k: Int = 5,
                            qid: String = "query_id",
                            qtext: String = "query_text",
                            maxDfFrac: Double = 1.0,
                            scope: FilterScope = FilteredStats): DataFrame =
    serve(spark, queries, dir, Seq(dir), "BM25 index",
      "crossBm25TopKFiltered", k, qid, qtext, maxDfFrac,
      Some((allowed, scope)))

  /** THE BM25 serve, over a list of index directories: a monolithic
    * index passes `Seq(dir)`, a sharded home its shard directories
    * ([[ShardedIndex.crossBm25TopKSharded]]) — so the one-shard case IS
    * the monolithic serve, plan for plan. Each directory is opened
    * ONCE ([[Snapshot]]).
    *
    * The corpus-side postings scan reduces to the batch's own distinct
    * query terms (broadcast semi-join — the query batch is the
    * per-trigger unit, batch-bounded by contract, never
    * corpus-derived; the `crossPrefixJoin` probed-keys shape), then
    * the match stream masks the committed tombstones — the mask's
    * probe side is the already-term-bounded match stream, so deletes
    * cost one scan of the (single-column) tombstone table per serve,
    * reclaimed by [[rebuild]]. Serving cost is Σ_q Σ_t df(t) — the
    * match stream — plus a vocab-bounded df fold, independent of how
    * many batches the index accreted.
    *
    * Exactness at any shard count: shards partition the corpus
    * disjointly and df/(N, S) are distributive counts, so Σ over
    * per-shard signed partials IS the global statistic; every
    * match-stream row carries the same (tf, dl) it would carry
    * unsharded; scores are integer micro-units summed per (query, doc)
    * — order-free. The S match streams union lazily (ONE job, not S),
    * the S df partials fold in ONE aggregate ([[foldDf]]) and (N, S) is
    * a sum of commit records (no Spark job), so the job count is
    * independent of S (`PlanAuditSpec`).
    *
    * `filter` is the filtered serve's (allowed keys, scope); a sharded
    * home's live postings union IS the monolithic home's, so both
    * scopes stay bit-identical across layouts too. `index` and `home`
    * name the index in the refusals, `what` the public caller. */
  private[operators] def serve(spark: SparkSession, queries: DataFrame,
                               home: String, dirs: Seq[String],
                               index: String, what: String, k: Int,
                               qid: String, qtext: String,
                               maxDfFrac: Double,
                               filter: Option[(DataFrame, FilterScope)])
      : DataFrame = {
    TextOps.requireBm25Args(what, k, maxDfFrac)
    val allowedKeys = filter.map { case (allowed, scope) =>
      (allowedDocKeys(allowed, what), scope) }
    val shards = dirs.map(new Snapshot(spark, _))
    def union(f: Snapshot => DataFrame): DataFrame =
      shards.map(f).reduce(_.unionByName(_))
    val qterms = TextOps.bm25QueryTerms(queries, qid, qtext)
    allowedKeys match {
      case Some((ids, FilteredStats)) =>
        tenantBoard(
          union(_.livePostings()).join(ids, Seq("doc_id"), "left_semi"),
          qterms, k, maxDfFrac,
          s"$what: the filter excludes every live document of $home")
      case _ =>
        val (nDocs, sTok) = liveTotals(shards, s"$index at $home")
        val probedKeys = broadcast(qterms.select("term").distinct())
        val post = union(_.livePostings(Some(probedKeys)))
        // HomeStats: home statistics, only the match stream masked
        val matched = allowedKeys.fold(post) { case (ids, _) =>
          post.join(ids, Seq("doc_id"), "left_semi") }
        TextOps.bm25Board(matched, foldDf(union(_.dfPartials)), qterms,
          nDocs, sTok, maxDfFrac, k)
    }
  }

  /** The `allowed` key-set shape contract shared by every filtered
    * serve: exactly one `doc_id` column of an INTEGRAL type, cast to
    * the postings' key type. Non-integral key sets (string/UUID ids)
    * are refused loudly — a silent cast would turn every key to NULL,
    * drop every row, and serve an empty/misleading board. The returned
    * frame carries an explicit broadcast hint: the ids-only contract
    * IS the broadcast-sized contract, and relying on AQE size
    * estimation instead lets a poorly-estimated key set silently add a
    * corpus-keyed shuffle of the match stream in deployment (the exact
    * regression `PlanAuditSpec`'s no-extra-exchange pin documents, but
    * that pin only runs at fixture scale). */
  private[operators] def allowedDocKeys(allowed: DataFrame,
                                        what: String): DataFrame = {
    val cols = allowed.columns.toSeq
    require(cols == Seq("doc_id"),
      s"$what: `allowed` must be a single doc_id key " +
        s"column (got ${cols.mkString(", ")}) — compute it by filtering " +
        "any metadata table and selecting the id")
    val dt = allowed.schema("doc_id").dataType
    val integral = dt match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    require(integral,
      s"$what: `allowed` doc_id must be an integral key (got $dt) — " +
        "a non-numeric key set would cast to NULL and silently exclude " +
        "every document")
    val keys = allowed.select(col("doc_id").cast("long").as("doc_id"))
    // size guard on the hint (driver-side Catalyst estimate — no extra
    // job on the serve path): a caller that hands a corpus-scale
    // "filter" would otherwise OOM the driver building the broadcast
    // relation where the unhinted plan degrades to a shuffle join
    // gracefully. The estimate is coarse, but it only needs to catch
    // the grossly-oversized case; genuinely selective key sets estimate
    // far below the cap.
    val est = keys.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= (1L << 30)) broadcast(keys) else keys
  }

  /** [[FilteredStats]]-scope board off an ALREADY-FILTERED live
    * postings slice — the per-tenant-index arithmetic shared by the
    * monolithic and sharded filtered serves (a sharded home's live
    * postings union IS the monolithic home's, so sharding stays an
    * operational knob under filters too). LOCAL-checkpoints the slice:
    * the eager checkpoint computes it once, then the stats head(), the
    * df fold and the match scan all read the cached blocks — never the
    * home's full postings twice. Neither alternative survives this
    * per-query-batch SERVING path: a reliable checkpoint leaks one
    * on-disk copy of the tenant slice per serve call (files are never
    * reclaimed without `cleanCheckpoints`), and `persist` registers
    * the plan in the session CacheManager with a strong reference —
    * the ContextCleaner never reclaims it, so one cached slice would
    * leak per call until session end. A localCheckpoint's blocks are
    * plain RDD storage: when the served board goes unreachable the RDD
    * is GC'd and the ContextCleaner drops the blocks. (Non-replicated
    * — an executor loss fails the serve, which retries; acceptable for
    * a stateless read path.) */
  private def tenantBoard(post: DataFrame, qterms: DataFrame, k: Int,
                          maxDfFrac: Double, emptyMsg: String): DataFrame =
    TextOps.bm25SelfBoard(post.localCheckpoint(), qterms, k, maxDfFrac,
      s"$emptyMsg — an empty tenant corpus has no idf; " +
        "widen the filter or serve HomeStats over an empty board")

  /** The FULL committed live postings of the index — (doc_id, term,
    * tf, dl), tombstones masked. The corpus-equivalent artifact a
    * whole-index rewrite (rebuild, re-shard) works from: df and (N, S)
    * recompute from it exactly, so an index written from these rows
    * serves bit-identically without the original text. */
  private[graft] def livePostings(spark: SparkSession,
                                  dir: String): DataFrame =
    new Snapshot(spark, dir).livePostings()

  /** [[write]] from an already-tokenized postings frame — the
    * re-shard writer: a sharded home's new shards are built from LIVE
    * postings slices (the original text is not stored), with df and
    * (N, S) re-derived per slice, exact by distributivity. */
  private[graft] def writeFromPostings(post: DataFrame, dir: String): Unit = {
    val spark = post.sparkSession
    IndexLease.withLease(spark, dir, "Bm25Index.writeFromPostings") {
      val (p, release) = Dedup.materializeTracked(post)
      try swapInIndex(spark, dir, p, Map("kind" -> Kind))
      finally release()
    }
  }

  /** Recomputes df and (N, S) from the LIVE postings (committed minus
    * tombstoned) and diffs them against the folded signed df partials
    * and the commit record's (N, S) — the [[graft.operators.IndexAudit]]
    * cross-check that makes a torn synchronous delete DETECTABLE: a
    * batchId=None [[delete]] performs two non-atomic writes (tomb,
    * negative df) before its metadata rename, and a crash mid-call
    * leaves a doc masked while its statistics still count (or df
    * retracted but N/S not) — skew no marker can diagnose, because the
    * base partition is always committed. Under any crash-free history
    * the partials and totals match the live recompute EXACTLY, so any
    * nonzero diff here is that torn write (or a second writer). Costs
    * one full postings scan — the audit's countChecks tier, not the
    * metadata tier. Returns
    * (mismatched df terms, N diff, S diff); all-zero = consistent. */
  private[graft] def statsConsistency(spark: SparkSession,
                                      dir: String): (Long, Long, Long) = {
    val snap = new Snapshot(spark, dir)
    val live = snap.livePostings()
    val dfMismatch = dfPartials(live).withColumnRenamed("df", "df_live")
      .join(foldDf(snap.dfPartials).withColumnRenamed("df", "df_fold"),
        Seq("term"), "full_outer")
      .filter(coalesce(col("df_live"), lit(0L)) =!=
        coalesce(col("df_fold"), lit(0L)))
      .count()
    val (nLive, sLive) = totalsOf(TextOps.bm25StatsPartials(live))
    val (nFold, sFold) = liveTotals(Seq(snap), s"BM25 index at $dir")
    (dfMismatch, nLive - nFold, sLive - sFold)
  }

  /** Compaction hygiene (NOT a correctness op — the folds are already
    * exact): fold every committed batch's LIVE postings (appends minus
    * tombstoned docs) into the base partition, re-derive df and (N, S)
    * from them, drop the tombstone table, and swap the WHOLE directory
    * in one rename ([[Dedup.swapInDir]] — a per-table sequence would have
    * readable-but-mixed crash windows; the directory swap's only crash
    * window is loudly unreadable and [[Dedup.recoverSwap]]-repairable).
    * Metadata (including the commit marker) survives, so a replayed
    * batch ≤ marker still skips — appended rows live on in the base
    * and deleted rows are now physically gone. */
  def rebuild(spark: SparkSession, dir: String, targetFiles: Int = 4): Unit =
    IndexLease.withLease(spark, dir, "Bm25Index.rebuild") {
    val snap = new Snapshot(spark, dir)
    val (post, release) = Dedup.materializeTracked(snap.livePostings())
    try {
      // an all-deleted corpus would rebuild to empty-born tables that
      // no reader can open — refuse with the honest instruction instead
      require(post.head(1).nonEmpty,
        s"Bm25Index.rebuild: every document in $dir is deleted — " +
          "nothing to rebuild; delete the index directory instead")
      swapInIndex(spark, dir, post.coalesce(targetFiles), snap.meta)
    } finally release()
  }
}
