package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** EXACT set-similarity self-join via prefix filtering — the lossless
  * counterpart to the recall-bounded candidate generators in [[Dedup]]
  * (MinHash banding is probabilistic; the rare-shingle index drops
  * pairs whose every shared shingle is common). Prefix filtering
  * (AllPairs, Bayardo et al. WWW'07; PPJoin, Xiao et al. WWW'08;
  * distributed form Vernica et al. SIGMOD'10) guarantees EVERY pair at
  * or above the threshold survives candidate generation:
  *
  *   Order each document's shingle set by one global total order
  *   (document frequency ascending — rarest first — ties by value).
  *   With prefix length |x| − ⌈t·|x|⌉ + 1, any two sets with
  *   Jaccard ≥ t must share at least one PREFIX element (PPJoin
  *   Lemma 1) — so joining on prefix elements only is lossless, while
  *   ubiquitous shingles (the candidate-explosion hazard) sit at the
  *   END of the order and never enter a prefix unless a document is
  *   almost nothing but common shingles.
  *
  * Scale shape: the posting table is (doc, shingle-hash) — narrow; the
  * df fold and the per-doc re-sort are one shuffle each on hash keys;
  * the candidate self-join runs over PREFIX postings only (a ~t-fraction
  * of the postings, biased to rare shingles, so bucket sizes stay small
  * by construction — at t = 0.6 the sf0.01 corpus generates 116
  * candidates out of 124,750 possible pairs, verified exact). The
  * threshold is a RATIONAL num/den and every filter is integer
  * arithmetic — the whole plan replays bit-for-bit in an external
  * engine, including the prefix length ⌈num·sz/den⌉ = (num·sz + den−1)
  * div den.
  *
  * Trade vs [[Dedup.ngramJaccardPairs]]: that operator bounds WORK
  * (df-capped postings) at the cost of recall on common-shingle pairs;
  * this one guarantees recall at the cost of prefix-join volume that
  * grows when documents are dominated by corpus-common shingles. A 100
  * TB curation stack wants both: the capped index for routine sweeps,
  * the lossless join when a dedup pass must be provably complete. */
object SimJoin {

  /** All pairs with shingle-set Jaccard ≥ thrNum/thrDen, exactly.
    * Returns (doc_a, doc_b, inter, un, jaccard) with integer
    * intersection/union sizes and jaccard rounded to 6 places. */
  def prefixJaccardJoin(df: DataFrame, id: String, text: String,
                        thrNum: Int, thrDen: Int,
                        shingleWidth: Int = 3): DataFrame = {
    require(thrNum > 0 && thrDen > 0 && thrNum <= thrDen,
      s"prefixJaccardJoin: threshold must be in (0,1]: $thrNum/$thrDen")
    // shingle sets computed once, reused by the df fold, the prefix cut
    // and both verify sides (lineage truncated, GC-reclaimed).
    // fan = false: measured r21 A/B — on this self-join path the
    // conditional fan-out shuffle costs more than the one-pass shingle
    // hashing it parallelizes (the next op shuffles regardless)
    val sets = Dedup.materialize(
      Dedup.shingleHashesFlat(df, id, text, shingleWidth, fan = false)
        .filter(size(col("hs")) > 0))
    val posting = sets.select(col("doc_id"), explode(col("hs")).as("h"))
    val dfreq = posting.groupBy("h").agg(count(lit(1)).as("df"))
    // per-doc global-order sort WITHOUT a global rank: (df asc, h asc)
    // IS the total order, so sorting each doc's (df, h) structs locally
    // is equivalent to ranking against a global dictionary — the exact
    // trick that keeps this one shuffle instead of an EntityRes-style
    // range exchange. (Shared with the index paths via
    // [[prefixPostings]] — the prefix-length arithmetic is
    // losslessness-critical and must exist exactly once.)
    val pref = prefixPostings(sets, dfreq, thrNum, thrDen)
    val cand = pref.as("x").join(pref.as("y"),
        col("x.h") === col("y.h") &&
          col("x.doc_id") < col("y.doc_id") &&
          // length filter: min·den ≥ max·num is necessary for jac ≥ t
          greatest(col("x.sz"), col("y.sz")) * thrNum <=
            least(col("x.sz"), col("y.sz")) * thrDen)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("ha")),
        Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hb")),
        Seq("doc_b"))
      .withColumn("inter",
        graft.functions.exprs.intersect_count(col("ha"), col("hb"))
          .cast("long"))
      .withColumn("un",
        size(col("ha")).cast("long") + size(col("hb")) - col("inter"))
      // jac ≥ num/den ⟺ inter·den ≥ un·num — integer, exact
      .filter(col("inter") * thrDen >= col("un") * thrNum)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("un"),
        round(col("inter").cast("double") / col("un"), 6).as("jaccard"))
  }

  /** Persisted form of the lossless join for INGESTION-TIME dedup —
    * the prefix-filter sibling of `Dedup.writeMinhashIndex` and
    * `Similarity.writeEmbeddingIndex`, completing the family: every
    * candidate generator now has a write-once / check-batches form.
    *
    * Layout under `dir`: `sets` (doc_id, hs — the verify side),
    * `df` (h, df — the global order's dictionary), `prefix`
    * (doc_id, sz, h — precomputed prefix postings), plus metadata
    * pinning (thrNum, thrDen, shingleWidth).
    *
    * Losslessness across the index boundary: the PPJoin lemma needs
    * only that BOTH sides cut prefixes under one fixed total order —
    * rarity makes the filter selective but is not load-bearing for
    * recall. Incoming batches rank their shingles by the STORED df
    * (unseen shingles take df = 0, sorting to the very front — they
    * exist in no indexed document, so they cannot cost recall and the
    * extra prefix volume they add is bounded by the batch's own novel
    * content). Consequently a STALE dictionary after appends degrades
    * selectivity only, never completeness; a rebuild refreshes the df
    * order for pruning power. */
  private[graft] val PrefixIndexKind = "prefix_index"

  private def validatePrefixMeta(meta: Map[String, String],
                                 dir: String): Unit =
    require(meta.get("kind").contains(PrefixIndexKind),
      s"$dir is not a prefix index (kind=${meta.getOrElse("kind", "<absent>")})")

  /** Shadow-tombstone mask over the committed tombstones
    * ([[deleteFromPrefixIndex]], `Dedup.maskShadowed`); identity when
    * no delete ever ran, so the append-only path pays nothing for the
    * feature. `df` must still carry `ingest_batch`; `dir` is the
    * RESOLVED version root. */
  private def liveOnly(spark: SparkSession, dir: String,
                       meta: Map[String, String])(df: DataFrame): DataFrame =
    Dedup.maskShadowed(df, "doc_id",
      Dedup.committedTombsAt(spark, s"$dir/tomb", meta, "doc_id"), "doc_id")

  /** Takedown leg for the prefix index — the lossless sibling of
    * `Dedup.deleteFromMinhashIndex`: a right-to-be-forgotten delete
    * must remove a document's shingle sets and prefix postings from
    * the dedup index too, or future batches keep matching (and thereby
    * re-identifying) content the corpus no longer holds. `sets` and
    * `prefix` rows are per-document, so deletion is pure masking: ids
    * land in `tomb/` as their own committed batch and every read path
    * anti-joins them out. The `df` dictionary DOES hold cross-document
    * counts, but by the order-invariance argument above it is
    * selectivity-only — a stale (over-counting) df order can never
    * change the VERIFIED result, the same contract appends already
    * rely on — so nothing is retracted from it. Physical removal (and
    * df refresh) happens at the next [[rebuildPrefixIndex]]. It is an
    * [[applyPrefixCdc]] batch with no inserts (`batchId = None` is the
    * synchronous one-shot). Tombstones are SHADOW tombstones
    * (`Dedup.ShadowCol`): they kill only rows from batches ≤ the
    * marker at delete time, so a later batched re-insert of the id
    * serves — no rebuild required. No statistics and no counts hang
    * off this family's tombstones, so the ids are written as-is
    * (deduped), no index scan at all — deleting unknown ids stays
    * free and harmless. */
  def deleteFromPrefixIndex(spark: SparkSession, dir: String,
                            tombstones: DataFrame,
                            batchId: Option[Long] = None): Unit =
    commitPrefix(spark, dir,
      IndexCdc.emptyInserts(spark, PrefixIndexKind, "doc_id", "text"),
      tombstones, batchId, "doc_id", "text", "deleteFromPrefixIndex")

  def writePrefixIndex(df: DataFrame, id: String, text: String,
                       thrNum: Int, thrDen: Int, dir: String,
                       shingleWidth: Int = 3): Unit = {
    require(thrNum > 0 && thrDen > 0 && thrNum <= thrDen,
      s"writePrefixIndex: threshold must be in (0,1]: $thrNum/$thrDen")
    val sets = Dedup.materialize(
      Dedup.shingleHashesFlat(df, id, text, shingleWidth)
        .filter(size(col("hs")) > 0))
    val posting = sets.select(col("doc_id"), explode(col("hs")).as("h"))
    val dfreq = Dedup.materialize(
      posting.groupBy("h").agg(count(lit(1)).as("df")))
    writePrefixFromSets(sets, dfreq, thrNum, thrDen, shingleWidth, dir)
  }

  /** Writes a complete prefix-index home at `dir` from precomputed
    * shingle SETS under a GIVEN dictionary — the shared layout writer
    * behind [[writePrefixIndex]] (df derived from the corpus itself)
    * and the per-shard writer of the sharded family
    * ([[graft.operators.ShardedIndex.writePrefix]]), where the
    * dictionary is ONE home-level decision: the PPJoin lemma needs both
    * sides of any future probe to cut prefixes under one fixed total
    * order, so every shard persists the same `df` table (vocab-bounded
    * — the redundancy is the price of shard self-containedness) and
    * cuts its slice's prefixes under it. Pointer commit: replaces
    * everything atomically; readers of the old index keep serving. */
  private[graft] def writePrefixFromSets(sets: DataFrame, dfreq: DataFrame,
                                         thrNum: Int, thrDen: Int,
                                         shingleWidth: Int,
                                         dir: String): Unit = {
    val spark = sets.sparkSession
    IndexLease.withLease(spark, dir, "writePrefixIndex") {
      Dedup.swapInDir(spark, dir) { tmp =>
        // three independent table writes off the (materialized) sets +
        // dictionary — overlapped (Par, guide §2.6): each is a chain of
        // small jobs that leaves most cores idle, so the build pays the
        // longest write instead of the sum; the meta commit lands
        // strictly after all three
        Par.run(Seq(
          () => Dedup.writeIndexTable(sets, -1L, s"$tmp/sets",
            overwriteAll = true),
          () => Dedup.writeIndexTable(dfreq, -1L, s"$tmp/df",
            overwriteAll = true),
          () => Dedup.writeIndexTable(
            prefixPostings(sets, dfreq, thrNum, thrDen),
            -1L, s"$tmp/prefix", overwriteAll = true)))
        Dedup.writeMeta(spark, tmp, Map(
          "kind" -> PrefixIndexKind, "pj_num" -> thrNum.toString,
          "pj_den" -> thrDen.toString, "pj_w" -> shingleWidth.toString))
      }
    }
  }

  /** The index's live (doc_id, hs) sets — committed rows, tombstones
    * masked: the verify-side content a reshard rebuilds new shards
    * from ([[graft.operators.ShardedIndex.reshard]]). */
  private[graft] def liveSets(spark: SparkSession, dir: String): DataFrame = {
    val root = Dedup.indexRoot(spark, dir)
    val meta = Dedup.readMeta(spark, root)
    validatePrefixMeta(meta, dir)
    liveOnly(spark, root, meta)(
      Dedup.committedOnly(Dedup.readPq(spark, s"$root/sets"), meta))
      .select("doc_id", "hs")
  }

  /** (thrNum, thrDen, shingleWidth) from the stored metadata — no
    * defaults: a prefix index always persists all three, so absence
    * means a torn artifact and re-cutting at defaults would silently
    * change the join's semantics. */
  private[graft] def prefixParams(spark: SparkSession,
                                  dir: String): (Int, Int, Int) = {
    val meta = Dedup.readMeta(spark, Dedup.indexRoot(spark, dir))
    validatePrefixMeta(meta, dir)
    def req(key: String): Int = meta.get(key).map(_.toInt).getOrElse(
      throw new IllegalArgumentException(
        s"prefix index at $dir has no '$key' in its metadata — " +
          "writePrefixIndex always persists it; the artifact is torn " +
          "or foreign-edited"))
    (req("pj_num"), req("pj_den"), req("pj_w"))
  }

  /** (doc_id, sz, h) prefix postings of `sets` under the (df, h) order
    * given by `dfreq` (shingles absent from `dfreq` take df = 0). */
  private def prefixPostings(sets: DataFrame, dfreq: DataFrame,
                             thrNum: Int, thrDen: Int): DataFrame = {
    val posting = sets.select(col("doc_id"), explode(col("hs")).as("h"))
    val sorted = posting.join(dfreq, Seq("h"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("st"),
        count(lit(1)).as("sz"))
    val prefixLen =
      s"cast(sz - (($thrNum * sz + ${thrDen - 1}) div $thrDen) + 1 as int)"
    sorted
      .select(col("doc_id"), col("sz"),
        explode(expr(s"slice(st, 1, $prefixLen)")).as("e"))
      .select(col("doc_id"), col("sz"), col("e.h").as("h"))
  }

  /** EXACT bipartite similarity join of an incoming batch against the
    * stored corpus: every (new, indexed) pair with Jaccard ≥ the
    * index's threshold, provably none missed. The batch's shingle sets
    * are cut under the STORED dictionary; candidates join batch prefix
    * postings against the PRECOMPUTED index prefix postings (the
    * corpus-side prefix work was paid once at write time); verify reads
    * the stored sets. Returns (new_id, matched_id, inter, un, jaccard). */
  def crossPrefixJoin(spark: SparkSession, newDocs: DataFrame, dir: String,
                      id: String = "doc_id",
                      text: String = "text"): DataFrame = {
    val w = prefixParams(spark, dir)._3
    crossPrefixJoinSets(spark,
      Dedup.materialize(
        Dedup.shingleHashesFlat(newDocs, id, text, w)
          .filter(size(col("hs")) > 0)),
      dir)
  }

  /** [[crossPrefixJoin]] from PRECOMPUTED batch shingle sets (doc_id,
    * hs — the [[graft.operators.Dedup.shingleHashesFlat]] shape,
    * materialized by the caller) — the shared core that lets the
    * sharded serve ([[graft.operators.ShardedIndex.crossPrefixJoinSharded]])
    * shingle the batch ONCE and probe S shards: per-shard work is then
    * only the batch's prefix cut under THAT shard's stored dictionary
    * (batch-bounded) plus the query-bounded candidate/verify joins. */
  private[graft] def crossPrefixJoinSets(spark: SparkSession,
                                         newSets: DataFrame,
                                         dir: String): DataFrame = {
    // version snapshot: resolve once — this probe keeps reading the
    // resolved version even while a rebuild commits the next one
    val root = Dedup.indexRoot(spark, dir)
    val meta = Dedup.readMeta(spark, root)
    validatePrefixMeta(meta, dir)
    val (thrNum, thrDen) = (meta("pj_num").toInt, meta("pj_den").toInt)
    val dfreq = Dedup.committedOnly(
      Dedup.readPq(spark, s"$root/df"), meta).select("h", "df")
    val newPref = Dedup.materialize(
      prefixPostings(newSets, dfreq, thrNum, thrDen))
    // batch-scoped index slice: the candidate join only ever needs
    // stored postings whose shingle the BATCH's prefixes contain, and
    // the batch's distinct prefix-shingle set is batch-bounded (the
    // per-trigger unit, not corpus-derived) — broadcast it so the
    // 100 TB-side posting scan reduces to a semi-joined sliver instead
    // of shuffling the whole table per micro-batch (the
    // crossMinhashPairs probed-slice shape).
    // tombstoned docs ([[deleteFromPrefixIndex]]) are masked out of
    // BOTH the candidate side and the verify side at this one choke
    // point — a deleted doc can never surface as candidate or partner
    val live = liveOnly(spark, root, meta) _
    val probedKeys = broadcast(newPref.select("h").distinct())
    val idxPref = live(Dedup.committedOnly(
      Dedup.readPq(spark, s"$root/prefix"), meta))
      .select("doc_id", "sz", "h")
      .join(probedKeys, Seq("h"), "left_semi")
    val cand = newPref.as("x").join(idxPref.as("y"),
        col("x.h") === col("y.h") &&
          greatest(col("x.sz"), col("y.sz")) * thrNum <=
            least(col("x.sz"), col("y.sz")) * thrDen)
      .select(col("x.doc_id").as("new_id"), col("y.doc_id").as("matched_id"))
      .distinct()
    cand
      .join(newSets.select(col("doc_id").as("new_id"), col("hs").as("ha")),
        Seq("new_id"))
      .join(live(Dedup.committedOnly(Dedup.readPq(spark, s"$root/sets"),
          meta))
        .select(col("doc_id").as("matched_id"), col("hs").as("hb")),
        Seq("matched_id"))
      .withColumn("inter",
        graft.functions.exprs.intersect_count(col("ha"), col("hb"))
          .cast("long"))
      .withColumn("un",
        size(col("ha")).cast("long") + size(col("hb")) - col("inter"))
      .filter(col("inter") * thrDen >= col("un") * thrNum)
      .select(col("new_id"), col("matched_id"), col("inter"), col("un"),
        round(col("inter").cast("double") / col("un"), 6).as("jaccard"))
  }

  /** Append a batch to the index WITHOUT refreshing the dictionary:
    * the batch's sets and its prefix postings (cut under the STORED
    * order) land in their own `ingest_batch` partition via the shared
    * v2 index layout — a replayed batchId is skipped outright (durable
    * commit marker) or, if its previous attempt crashed mid-append,
    * dynamically overwrites its own partition. df is left stale —
    * selectivity-only debt, by the losslessness argument above. An
    * [[applyPrefixCdc]] batch with no deletes. */
  def appendPrefixIndex(spark: SparkSession, dir: String,
                        newDocs: DataFrame, batchId: Option[Long] = None,
                        id: String = "doc_id",
                        text: String = "text"): Unit =
    commitPrefix(spark, dir, newDocs,
      IndexCdc.emptyDeletes(spark, PrefixIndexKind, id), batchId, id, text,
      "appendPrefixIndex")

  /** Shingles `newDocs`, lands the sets in their `ingest_batch = part`
    * partition, and returns the batch's sets for the prefix cut. For a
    * durable batch (part ≥ 0) the WRITE is the materialization: the
    * batch's own just-written partition reads back partition-pruned
    * (single writer — nothing else touches it), so the shingling runs
    * once, no checkpoint job, and its blocks live on disk in the table
    * where they were going anyway. The synchronous part = -1 path
    * appends into the base partition, which already holds prior rows —
    * a read-back could not isolate the batch, so it keeps the explicit
    * checkpoint. A statically empty batch writes nothing and returns
    * itself. */
  private def writeBatchSets(spark: SparkSession, root: String,
                             newDocs: DataFrame, id: String, text: String,
                             w: Int, part: Long): DataFrame = {
    val setsPlan = Dedup.shingleHashesFlat(newDocs, id, text, w)
      .filter(size(col("hs")) > 0)
    if (Dedup.staticallyEmpty(setsPlan)) setsPlan
    else if (part >= 0L) {
      Dedup.writeIndexTable(setsPlan, part, s"$root/sets")
      Dedup.readPq(spark, s"$root/sets")
        .filter(col(Dedup.IngestBatchCol) === part)
        .select("doc_id", "hs")
    } else {
      val newSets = Dedup.materialize(setsPlan)
      Dedup.writeIndexTable(newSets, part, s"$root/sets")
      newSets
    }
  }

  /** One CDC change-batch applied to the prefix index atomically under
    * ONE commit marker — the family's in-place commit, which
    * [[appendPrefixIndex]] and [[deleteFromPrefixIndex]] run with one
    * side empty and [[IndexCdc]] routes change streams to: inserts are
    * shingled and their prefixes cut under the STORED dictionary (order
    * staleness is selectivity-only, per the losslessness argument
    * above), deletes tombstoned, sets + prefixes + tombstones all in
    * one `ingest_batch` partition with the marker strictly last.
    * Within one batch deletes apply FIRST (shadow tombstones kill
    * only pre-batch rows), so delete+insert of one id is an UPDATE
    * and a re-insert of an id deleted in an earlier batch serves —
    * see `Dedup.ShadowCol`. */
  def applyPrefixCdc(spark: SparkSession, dir: String, newDocs: DataFrame,
                     tombstones: DataFrame, batchId: Long,
                     id: String = "doc_id", text: String = "text"): Unit =
    commitPrefix(spark, dir, newDocs, tombstones, Some(batchId), id, text,
      "applyPrefixCdc")

  /** The prefix family's one in-place commit body ([[applyPrefixCdc]]):
    * `batchId = None` is the synchronous path (base partition, marker
    * untouched); a statically empty side writes nothing. `op` names the
    * lease and the refusals. */
  private def commitPrefix(spark: SparkSession, dir: String,
                           newDocs: DataFrame, tombstones: DataFrame,
                           batchId: Option[Long], id: String, text: String,
                           op: String): Unit =
    IndexLease.withLease(spark, dir, op) {
    val root = Dedup.indexRoot(spark, dir)
    val meta = Dedup.readMeta(spark, root)
    validatePrefixMeta(meta, dir)
    if (batchId.exists(_ <= Dedup.lastCommittedBatch(meta))) return
    val ids = tombstones.select(col(id).cast("long").as("doc_id")).distinct()
    Dedup.refuseShadowedInserts(newDocs, id,
      Dedup.committedTombsAt(spark, s"$root/tomb", meta, "doc_id"),
      "doc_id", op, dir, syncPath = batchId.isEmpty)
    val (thrNum, thrDen) = (meta("pj_num").toInt, meta("pj_den").toInt)
    val part = batchId.getOrElse(-1L)
    // deletes apply first (the shadow tombstone kills pre-batch rows
    // only), so the batch's own inserts — including an update's new
    // image — are all indexed. Sets land first (the write IS the
    // batch's materialization — see writeBatchSets); the prefix cut
    // reads the batch partition back, and the tombstone write is
    // independent of it, so the two overlap (Par, guide §2.6) — the
    // marker bump stays strictly last. An empty insert side never opens
    // the stored dictionary, whose first read infers its schema in a job
    val newSets = writeBatchSets(spark, root, newDocs, id, text,
      meta("pj_w").toInt, part)
    Par.run(Seq(
      () => if (!Dedup.staticallyEmpty(newSets)) Dedup.writeIndexTable(
        prefixPostings(newSets, Dedup.committedOnly(
          Dedup.readPq(spark, s"$root/df"), meta).select("h", "df"),
          thrNum, thrDen),
        part, s"$root/prefix"),
      () => Dedup.writeTombs(ids, Dedup.lastCommittedBatch(meta), part,
        s"$root/tomb")))
    Dedup.writeMeta(spark, root,
      meta ++ batchId.map(b => "last_committed_batch" -> b.toString))
  }

  /** Folds a CDC/append-fed prefix index's per-batch partitions back
    * into `targetFiles` files per table — `Dedup.compactMinhashIndex`
    * for the lossless family. Live rows only, tombstones folded away
    * physically (`Dedup.compactTables` — squashing batches into the
    * base would erase the shadow ordering); served pairs before ≡
    * after, and `last_committed_batch` survives so replayed batchIds
    * still skip. The stale-df debt stays [[rebuildPrefixIndex]]'s
    * job — df is selectivity-only and folds verbatim. Offline
    * single-writer maintenance. */
  def compactPrefixIndex(spark: SparkSession, dir: String,
                         targetFiles: Int = 4): Unit =
    IndexLease.withLease(spark, dir, "compactPrefixIndex") {
      validatePrefixMeta(
        Dedup.readMeta(spark, Dedup.indexRoot(spark, dir)), dir)
      Dedup.compactTables(spark, dir, targetFiles,
        masked = Seq("sets" -> Seq("doc_id", "hs"),
          "prefix" -> Seq("doc_id", "sz", "h")),
        idCol = "doc_id",
        unmasked = Seq("df" -> Seq("h", "df")))
    }

  /** Rebuild the dictionary and every stored prefix from the CURRENT
    * committed LIVE sets (post-append/post-delete hygiene): restores
    * the df order's full pruning power and physically removes
    * tombstoned docs ([[deleteFromPrefixIndex]]) — the tombstone table
    * vanishes with the old layout. Linear in index size — the same
    * honest cost class as `Dedup.rebuildMinhashIndex`; the whole index
    * swaps as ONE directory (`Dedup.swapInDir`; repair a crashed swap
    * with `Dedup.recoverSwap`), never a readable mix of old and new
    * tables. Offline single-writer maintenance. */
  def rebuildPrefixIndex(spark: SparkSession, dir: String): Unit =
    IndexLease.withLease(spark, dir, "rebuildPrefixIndex") {
    val root = Dedup.indexRoot(spark, dir)
    val meta = Dedup.readMeta(spark, root)
    validatePrefixMeta(meta, dir)
    val (thrNum, thrDen) = (meta("pj_num").toInt, meta("pj_den").toInt)
    // materialized: three derived tables reuse it
    val (sets, release) = Dedup.materializeTracked(
      liveOnly(spark, root, meta)(
        Dedup.committedOnly(Dedup.readPq(spark, s"$root/sets"), meta))
        .select("doc_id", "hs"))
    try {
      // an all-deleted corpus would rebuild to empty-born tables that
      // no reader can open — refuse with the honest instruction instead
      require(sets.head(1).nonEmpty,
        s"rebuildPrefixIndex: every document in $dir is deleted — " +
          "nothing to rebuild; delete the index directory instead")
      val posting = sets.select(col("doc_id"), explode(col("hs")).as("h"))
      val dfreq = Dedup.materialize(
        posting.groupBy("h").agg(count(lit(1)).as("df")))
      Dedup.swapInDir(spark, dir) { tmp =>
        // three independent writes off the two materialized frames —
        // overlapped (Par, guide §2.6); meta strictly after
        Par.run(Seq(
          () => Dedup.writeIndexTable(sets, -1L, s"$tmp/sets",
            overwriteAll = true),
          () => Dedup.writeIndexTable(dfreq, -1L, s"$tmp/df",
            overwriteAll = true),
          () => Dedup.writeIndexTable(
            prefixPostings(sets, dfreq, thrNum, thrDen),
            -1L, s"$tmp/prefix", overwriteAll = true)))
        Dedup.writeMeta(spark, tmp, meta)
      }
    } finally release()
  }
}
