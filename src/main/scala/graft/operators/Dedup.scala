package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Deduplication operators for LLM-data pipelines (SURVEY §2.9): exact,
  * normalized-exact, MinHash+LSH, SimHash, and shared hashing helpers.
  *
  * Scale design (100 TB): every variant is blocking-based — candidates
  * come from an equality join on a compact key (text hash, LSH band,
  * SimHash byte-band), never from an all-pairs comparison. The only
  * shuffles are groupBy/join on those keys, and signatures are computed
  * in one narrow codegen'd pass. Hashes are md5-derived (not Spark's
  * Murmur3) so a SQL oracle can reproduce them bit-for-bit.
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Modulus for the MinHash permutation family (2^31 − 1, prime). */
  val P = 2147483647L

  /** Default per-(band_idx, band_key) occupancy cap for every banded
    * candidate generator (MinHash, SimHash, sign-LSH — self-join and
    * bipartite forms). Web-scale corpora contain MEGA-DUPLICATE
    * clusters — a boilerplate template duplicated 10⁶× collects in ONE
    * band bucket, and a pairwise self-join there plans C(10⁶, 2) ≈
    * 5·10¹¹ candidate pairs. Buckets past the cap are diverted to the
    * linear hub-star path ([[hubStarPairs]]): a bucket that large IS a
    * near-identical cluster, so spanning it through its minimum id (one
    * exactly-verified edge per member) resolves it completely for
    * `duplicateClusters` at occ − 1 pairs instead of C(occ, 2). The
    * trade is recall on ADVERSARIALLY heterogeneous over-cap buckets
    * (members unlike the hub lose edges they had under full pairwise) —
    * on honest hashing such buckets essentially don't occur, and the
    * diversion is logged loudly either way. */
  val DefaultMaxBucket = 1000
  /** Permutation j: h → (a(j)·h + b(j)) mod P. Coefficients small enough
    * that a(j)·h stays < 2^63 for 32-bit shingle hashes. */
  def hashA(j: Int): Long = 999983L * j + 12345L
  def hashB(j: Int): Long = 424243L * j + 7L

  /** 32-bit hash of a string via the first 8 hex chars of md5 — chosen
    * (over Murmur3) because DuckDB computes the identical value. */
  def md5Hash32(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 8), 16, 10).cast("long")

  /** 60-bit sibling (15 hex chars, still inside int64): for uses where
    * the hash is reduced mod a corpus-scale quantity — 32 bits of range
    * would bias the draw once the modulus approaches 2^32 (a 100 TB
    * token line exceeds it), 60 bits keeps the bias ≤ 2^-28. */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** True iff the frame's OPTIMIZED plan provably yields no rows — a
    * zero-row local relation (`df.limit(0)`, a filter Catalyst proves
    * false, the empty side `IndexCdc.emptyInserts`/`emptyDeletes`
    * builds), or a plan that derives rows only from one through
    * projections, filters, repartitions, non-outer generators
    * (`posexplode` — which Catalyst does not fold), grouped
    * aggregates and the joins those rows drive: the one-sided CDC
    * batch shapes (insert-only / delete-only batches, every `append`
    * and `delete`). Pure plan inspection, no Spark job;
    * conservative — a frame that is merely empty AT RUNTIME stays
    * false and takes the normal path. */
  private[graft] def staticallyEmpty(df: DataFrame): Boolean =
    yieldsNoRows(df.queryExecution.optimizedPlan)

  private def yieldsNoRows(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans._
    import org.apache.spark.sql.catalyst.plans.logical._
    p match {
      case l: LocalRelation => l.data.isEmpty
      case _: Project | _: Filter | _: RepartitionOperation =>
        yieldsNoRows(p.children.head)
      case g: Generate => !g.outer && yieldsNoRows(g.child)
      case a: Aggregate =>
        a.groupingExpressions.nonEmpty && yieldsNoRows(a.child)
      case j: Join => j.joinType match {
        case Inner | Cross | LeftSemi =>
          yieldsNoRows(j.left) || yieldsNoRows(j.right)
        case LeftOuter | LeftAnti => yieldsNoRows(j.left)
        case _ => false
      }
      case _ => false
    }
  }

  /** Eagerly materializes an intermediate reused by several downstream
    * branches. With a checkpoint dir configured (cluster runs) this is a
    * RELIABLE checkpoint: blocks land on the cluster FS and survive
    * executor loss. Without one (local/bench runs) it falls back to
    * `localCheckpoint` — blocks are GC-managed instead of pinned in the
    * session CacheManager like `persist`, but are NON-REPLICATED and
    * lineage-truncated, so an executor loss would fail the job; that
    * trade is acceptable only in single-JVM runs, which is exactly when
    * no checkpoint dir is set. */
  private[graft] def materialize(df: DataFrame): DataFrame =
    materializeTracked(df)._1

  /** [[materialize]] plus a cleanup thunk that deletes this generation's
    * reliable-checkpoint files (a no-op for `localCheckpoint`). Reliable
    * checkpoints are NOT reclaimed by Spark unless
    * `spark.cleaner.referenceTracking.cleanCheckpoints` is set at context
    * creation, so an iterative caller ([[duplicateClusters]]) must delete
    * superseded generations itself or leak one dataset copy per round.
    *
    * The files to delete are derived from the checkpointed RDD itself
    * (the `LogicalRDD` backing the returned frame reports its own
    * `getCheckpointFile`) — never from a before/after listing of the
    * shared checkpoint dir, which would race with any concurrent
    * checkpoint on the same session and delete another job's live files.
    *
    * The dataset is persisted across the checkpoint call: Spark writes a
    * reliable checkpoint in a SECOND job after the eager count, so an
    * unpersisted plan would recompute its whole upstream twice. Persist →
    * checkpoint → unpersist computes it once and pins nothing afterwards. */
  private[graft] def materializeTracked(df: DataFrame): (DataFrame, () => Unit) = {
    // a plan Catalyst already folded to zero rows has nothing to
    // recompute — checkpointing it would spend a whole Spark job (plus
    // a broadcast per downstream join) to pin emptiness. One-sided CDC
    // batches hit this on every applier (§1.2).
    if (staticallyEmpty(df)) return (df, () => ())
    val sc = df.sparkSession.sparkContext
    sc.getCheckpointDir match {
      case Some(_) =>
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val cp = df.checkpoint() // eager; write job reads the persisted blocks
          // exactly this generation's rdd-<id> directory, reported by the
          // checkpointed RDD inside the returned frame's LogicalRDD
          val paths = cp.queryExecution.analyzed.collect {
            case l: org.apache.spark.sql.execution.LogicalRDD =>
              l.rdd.getCheckpointFile
          }.flatten.map(new org.apache.hadoop.fs.Path(_))
          // contract check: an eager reliable checkpoint MUST surface its
          // file — an empty list would turn cleanup into a silent leak
          require(paths.nonEmpty,
            "materializeTracked: checkpointed frame reports no checkpoint file")
          (cp, () => paths.foreach { p =>
            p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
          })
        } finally df.unpersist()
      case None => (df.localCheckpoint(), () => ())
    }
  }

  /** Schema-memoized parquet read for the engine's own fixed-layout
    * tables. A bare `readPq(spark, path)` runs a footer-reading
    * Spark job PER CALL to infer the schema — ~50-80 ms of job
    * scheduling even warm, and the serve/fold paths read 2-4 tables
    * per invocation (the [[Bm25Index]] explicit-schema rationale,
    * generalized). Every table this engine writes has a schema that is
    * FIXED for the lifetime of its path (version roots are new `vN`
    * paths, scratch dirs are UUID-fresh), so the first read's inferred
    * schema is memoized by path and every later read of that path is
    * inference-job-free. [[writeIndexTable]] and the IVF layout writer
    * seed the memo with the schema they wrote ([[seedPqSchema]]), so a
    * table this session wrote is never inferred at all. The memo holds
    * only StructTypes — a few hundred bytes per distinct path, bounded
    * by the number of index tables a session touches. NOT for
    * foreign/unknown inputs, whose schema the footer must stay
    * authoritative for. */
  private[graft] val pqSchemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.spark.sql.types.StructType]()

  /** Memo key: the version-pointer segment is normalized away, so
    * `…/v3/sets` and `…/v7/sets` share one entry. Replacement commits
    * (compact/rebuild/swap) re-write the SAME column set for every
    * core table — that is the writers' construction, and it is what
    * made the per-path memo sound in the first place — so a later
    * version's schema IS the earlier one's, and re-inferring it per
    * version bump was a pure footer-job tax on every maintenance
    * chain (measured r21: 11 inference jobs inside one q_backup_sharded
    * run, each a scheduled Spark job). The ONE documented
    * cross-version schema migration — a pre-codes IVF `assigned`
    * gaining the packed-codes column at rebuild
    * ([[Similarity.ivfTopKQuantized]]'s refusal message) — keeps
    * concrete-path keying. */
  private[graft] def pqMemoKey(path: String): String =
    if (path.endsWith("/assigned")) path
    else path.replaceAll("/v\\d+(?=/|$)", "/v#")

  private[graft] def readPq(spark: org.apache.spark.sql.SparkSession,
                            path: String): DataFrame = {
    val sch = pqSchemaMemo.computeIfAbsent(pqMemoKey(path),
      _ => spark.read.parquet(path).schema)
    spark.read.schema(sch).parquet(path)
  }

  /** Aggressive text normalization: lowercase, strip non-alphanumerics,
    * collapse whitespace. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), "\\s+", " "))

  /** Exact duplicate groups by content hash: (text_hash, n_copies,
    * keeper = min id). Hash-groupBy — one shuffle on the 16-byte hash,
    * never on the document body. */
  def exactDuplicates(df: DataFrame, id: String, text: String): DataFrame =
    df.groupBy(md5(col(text).cast("binary")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col(id)).as("keeper"))
      .filter(col("n_copies") > 1)

  /** Like [[exactDuplicates]] but over [[normalizeText]]. */
  def normalizedDuplicates(df: DataFrame, id: String, text: String): DataFrame =
    df.groupBy(md5(normalizeText(col(text)).cast("binary")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col(id)).as("keeper"))
      .filter(col("n_copies") > 1)

  /** Splits a banded blocking frame (any columns + `band_idx`,
    * `band_key`) into (within-cap rows, Some(over-cap rows)) by
    * per-bucket occupancy, with loud accounting of the diverted volume.
    *
    * The occupancy check is ONE eager aggregate over the band keys
    * (column pruning drops the payloads; map-side combine shrinks the
    * shuffle to distinct-bucket counts) — the same order of work as the
    * sizing count the embedding path already pays. When NO bucket is
    * over cap — every healthy corpus — the input is returned UNCHANGED
    * with `None`: the common-case plan is bit-identical to the uncapped
    * one, zero extra exchanges, and the guard's entire cost is that one
    * narrow pass. Only a corpus that actually holds a mega-duplicate
    * cluster pays for the split plan: occupancy rides as a window count
    * over (band_idx, band_key) — one exchange on exactly the
    * partitioning the downstream band-key join needs — and the over-cap
    * rows divert to [[hubStarPairs]]. The window buffers one bucket per
    * partition; a diverted mega-bucket spills, which is the bounded
    * cost the cap exists to pay instead of C(occ, 2) join rows. */
  private[graft] def splitByOccupancy(
      banded: DataFrame, maxBucket: Int,
      opName: String): (DataFrame, Option[DataFrame]) = {
    require(maxBucket >= 2, s"$opName: maxBucket must be >= 2, got $maxBucket")
    val over = banded.groupBy("band_idx", "band_key")
      .agg(count(lit(1)).as("__occ"))
      .filter(col("__occ") > maxBucket)
      .agg(count(lit(1)), coalesce(sum(col("__occ")), lit(0L))).head()
    if (over.getLong(0) == 0L) (banded, None)
    else {
      log.warn(s"$opName: diverting ${over.getLong(0)} band bucket(s) " +
        s"holding ${over.getLong(1)} rows past maxBucket=$maxBucket to the " +
        "linear hub-star path — a bucket this size is a near-identical " +
        "mega-duplicate cluster; its pairs are spanned through the bucket " +
        "minimum, not enumerated")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("band_idx", "band_key")
      val withOcc = banded.withColumn("__occ", count(lit(1)).over(w))
      (withOcc.filter(col("__occ") <= maxBucket).drop("__occ"),
        Some(withOcc.filter(col("__occ") > maxBucket).drop("__occ")))
    }
  }

  /** [[splitByOccupancy]] for the bipartite (ingestion) forms: the
    * corpus-side banded frame is first restricted to the buckets the
    * BATCH's own keys touch, so the eager occupancy guard aggregates
    * O(index rows matching the batch) — bounded by maxBucket × batch
    * keys plus any diverted clusters — instead of re-aggregating the
    * whole held index on every micro-batch (a corpus-wide shuffle per
    * batch would erode the steady-state "per-batch cost independent of
    * corpus size" claim as the index grows). Untouched buckets produce
    * no candidates in either branch, and a touched bucket keeps ALL its
    * corpus rows (the restriction is by key only), so per-bucket
    * occupancy — and the divert decision — is exact. The probed slice
    * is materialized so the guard's aggregate and the candidate join
    * share one scan of the index tables. */
  private[graft] def splitProbedByOccupancy(
      corpusBanded: DataFrame, batchBanded: DataFrame, maxBucket: Int,
      opName: String): (DataFrame, Option[DataFrame]) = {
    val probed = materialize(corpusBanded.join(
      batchBanded.select("band_idx", "band_key").distinct(),
      Seq("band_idx", "band_key")))
    splitByOccupancy(probed, maxBucket, opName)
  }

  /** Linear spanning candidates for over-cap buckets: each bucket's
    * MINIMUM id becomes the hub and every other member pairs with it —
    * occ − 1 pairs instead of C(occ, 2), and the hub is the minimum, so
    * (outA < outB) holds by construction. Downstream exact verification
    * is unchanged: a hub-star pair that fails the Jaccard/Hamming/cosine
    * check drops like any other candidate, so the cap can never
    * introduce a false positive — only bound the enumeration. */
  private[graft] def hubStarPairs(big: DataFrame, idCol: String,
                                  outA: String, outB: String): DataFrame = {
    val hubs = big.groupBy("band_idx", "band_key")
      .agg(min(col(idCol)).as("__hub"))
    big.join(hubs, Seq("band_idx", "band_key"))
      .filter(col(idCol) =!= col("__hub"))
      .select(col("__hub").as(outA), col(idCol).as(outB))
  }

  /** [[hubStarPairs]] for banded rows that CARRY their verify payload
    * (the minhash `hs` set, the simhash signature): the hub's payload
    * comes out of the same per-bucket aggregate as the hub id (min of
    * (id, payload) structs — the struct minimum is the id minimum), so
    * the star needs NO re-attach join: both sides of every candidate
    * pair leave this stage verify-ready, adding zero exchanges to the
    * shared-blocking plan. */
  private[graft] def hubStarPairsWithPayload(
      big: DataFrame, idCol: String, payloadCol: String,
      outA: String, outPayloadA: String,
      outB: String, outPayloadB: String): DataFrame = {
    val hubs = big.groupBy("band_idx", "band_key")
      .agg(min(struct(col(idCol), col(payloadCol))).as("__hub"))
    big.join(hubs, Seq("band_idx", "band_key"))
      .filter(col(idCol) =!= col(s"__hub.$idCol"))
      .select(col(s"__hub.$idCol").as(outA),
        col(s"__hub.$payloadCol").as(outPayloadA),
        col(idCol).as(outB), col(payloadCol).as(outPayloadB))
  }

  /** Candidate near-dup pairs via MinHash + LSH banding, verified with
    * exact Jaccard on the shingle-hash sets:
    * (doc_a, doc_b, jaccard) with jaccard ≥ jaccardMin.
    *
    * numHashes signatures in `bands` bands of numHashes/bands rows — a
    * pair collides iff some band's signature matches exactly, so the
    * join key is (band_idx, band_signature): pure equality shuffle,
    * bucket sizes bounded by true duplicate-cluster sizes. Because a
    * corpus CAN contain a mega-duplicate cluster (and then a bucket is
    * exactly that big), buckets past `maxBucket` never self-join:
    * they divert to the linear hub-star span ([[hubStarPairs]], same
    * exact verify), keeping candidate volume linear under any input. */
  def minhashPairs(df: DataFrame, id: String, text: String,
                   numHashes: Int = 16, bands: Int = 4,
                   jaccardMin: Double = 0.5,
                   maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val sigs = minhashSignatures(df, id, text, numHashes)
    val banded = sigs.select(col("doc_id"), col("hs"),
      posexplode(array(bandKeyCols(numHashes, bands): _*))
        .as(Seq("band_idx", "band_key")))
    val (small, bigOpt) = splitByOccupancy(banded, maxBucket, "minhashPairs")
    val l = small.select(col("doc_id").as("doc_a"), col("hs").as("ha"),
      col("band_idx"), col("band_key"))
    val r = small.select(col("doc_id").as("doc_b"), col("hs").as("hb"),
      col("band_idx"), col("band_key"))
    val pairwise = l.join(r, Seq("band_idx", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "ha", "hb")
    // star pairs leave verify-ready (the hub's shingle set comes out of
    // the same per-bucket aggregate as its id) — no re-attach joins, so
    // the diverted branch adds zero exchanges to the shared plan
    val candidates = bigOpt.fold(pairwise)(big =>
      pairwise.union(hubStarPairsWithPayload(big, "doc_id", "hs",
        "doc_a", "ha", "doc_b", "hb").select("doc_a", "doc_b", "ha", "hb")))
    candidates.distinct()
      // one-pass primitive Jaccard (vs size(array_intersect(..)) which
      // Catalyst re-evaluates in both the filter and the projection)
      .withColumn("jaccard",
        round(graft.functions.exprs.jaccard_sim(col("ha"), col("hb")), 6))
      .filter(col("jaccard") >= jaccardMin)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** (doc_id, hs, sig) — shingle-hash set + full MinHash signature per
    * document, the one corpus pass every blocking variant starts from.
    * Signature pass as one custom primitive-loop expression (the
    * transform/array_min composition evaluates interpreted lambdas with
    * per-element boxing — profiled ~10× slower). Materialized eagerly
    * ([[materialize]]: reliable checkpoint on clusters, localCheckpoint
    * locally): band keys and the Jaccard verify both reuse it. */
  private def minhashSignatures(df: DataFrame, id: String, text: String,
                                numHashes: Int): DataFrame =
    materialize(shingleHashesFlat(df, id, text)
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"), col("hs"),
        graft.functions.exprs.minhash_sig(col("hs"), numHashes,
          999983L, 424243L, 12345L, 7L, P).as("sig")))

  /** The per-band key columns over a `sig` array column:
    * numHashes/bands signature rows concatenated per band. */
  private def bandKeyCols(numHashes: Int, bands: Int): Seq[Column] = {
    val rows = numHashes / bands
    (0 until bands).map { b =>
      concat_ws("_",
        (0 until rows).map(r => element_at(col("sig"), b * rows + r + 1)): _*)
    }
  }

  /** (doc_id, band_idx, band_key) exploded from a [[minhashSignatures]]
    * frame — the ids-only blocking table the persisted-index format
    * stores (no `hs` payload riding on every band row). */
  private def bandKeysOf(sigs: DataFrame, numHashes: Int,
                         bands: Int): DataFrame =
    sigs.select(col("doc_id"),
      posexplode(array(bandKeyCols(numHashes, bands): _*))
        .as(Seq("band_idx", "band_key")))

  /** The corpus-side artifact of ingestion-time dedup, persistable via
    * [[writeMinhashIndex]] / [[readMinhashIndex]]: `bands` is (doc_id,
    * band_idx, band_key) — the blocking keys; `sets` is (doc_id, hs) —
    * the shingle-hash sets the Jaccard verify re-attaches. Split in two
    * tables so the band explode doesn't store every shingle set `bands`
    * times. numHashes/nBands ride along so [[crossMinhashPairs]] signs
    * the incoming side with EXACTLY the corpus's parameters — a
    * mismatched pairing cannot be expressed through this API. */
  final case class MinhashIndex(bands: DataFrame, sets: DataFrame,
                                numHashes: Int, nBands: Int)

  /** Builds the corpus-side [[MinhashIndex]] in memory (one corpus
    * pass). Deployments that ingest continuously should [[writeMinhashIndex]]
    * once and [[readMinhashIndex]] per batch instead — the whole point
    * of the bipartite design is that a daily batch never rescans the
    * held corpus. */
  def buildMinhashIndex(corpus: DataFrame, id: String, text: String,
                        numHashes: Int = 16, bands: Int = 4): MinhashIndex = {
    val sigs = minhashSignatures(corpus, id, text, numHashes)
    MinhashIndex(bandKeysOf(sigs, numHashes, bands),
      sigs.select(col("doc_id"), col("hs")), numHashes, bands)
  }

  private[graft] val IndexMetaFile = "_graft_index_meta.properties"
  /** Bumped on any change to the signature math (shingle n, hash family,
    * band-key encoding) OR the on-disk layout — a persisted index from
    * an older scheme must fail loudly at load, never silently join
    * garbage. v2: tables are partitioned by `ingest_batch` (-1 = base
    * corpus + synchronous appends; ≥ 0 = streaming micro-batches) and
    * the metadata carries a `last_committed_batch` marker, the pair that
    * makes streamed appends idempotent under at-least-once replay. */
  private[graft] val MinhashIndexKind = "minhash-v2"
  /** The partition column the v2 layout adds to every index table. Data
    * columns never collide with it; readers project it away. */
  private[graft] val IngestBatchCol = "ingest_batch"

  /** Highest streaming micro-batch folded AND committed into the index
    * at `dir` (-1 if none). Batches ≤ this are fully durable — marker
    * written strictly after the table appends; partitions ABOVE it are
    * uncommitted leftovers of a crashed append, excluded by every read
    * and overwritten by the batch's replay. */
  private[graft] def lastCommittedBatch(meta: Map[String, String]): Long =
    meta.get("last_committed_batch").map(_.toLong).getOrElse(-1L)

  /** Committed-rows view of a v2 index table: partitions past the
    * commit marker are crash leftovers, never data. Partition-prunes —
    * the filter costs directory listing, not I/O. */
  private[graft] def committedOnly(df: DataFrame,
                                   meta: Map[String, String]): DataFrame =
    df.filter(col(IngestBatchCol) <= lit(lastCommittedBatch(meta)))
  /** The hash-family fingerprint persisted with every index: shingle n,
    * permutation coefficients and modulus. An index built by an engine
    * with different constants produces band keys this engine cannot
    * reproduce, so load refuses it. */
  private val MinhashFamily = s"shingle3:md5-32:a=999983+12345:b=424243+7:p=$P"

  /** Single-writer contract: the metadata (and the append paths that
    * update it) assume ONE writer per index directory — the streaming
    * loop is exactly that. Write-temp-then-rename keeps a crashed
    * writer from ever leaving a truncated metadata file: readers see
    * the old complete metadata or the new complete metadata, nothing
    * in between (rename is atomic on HDFS and local fs). */
  private[graft] def writeMeta(spark: org.apache.spark.sql.SparkSession,
                               dir: String, kv: Map[String, String]): Unit = {
    // in-place commit point (the marker/metadata rename): a leased
    // writer that lost its lease to a stale takeover must abort HERE,
    // before publishing — see IndexLease.verifyBeforeCommit
    IndexLease.verifyBeforeCommit(spark, dir)
    val p = new org.apache.hadoop.fs.Path(dir, IndexMetaFile)
    val tmp = new org.apache.hadoop.fs.Path(dir, IndexMetaFile + ".tmp")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val props = new java.util.Properties()
    kv.foreach { case (k, v) => props.setProperty(k, v) }
    val out = fs.create(tmp, true)
    try props.store(out, "graft signature index metadata") finally out.close()
    org.apache.hadoop.fs.FileContext
      .getFileContext(fs.makeQualified(p).toUri,
        spark.sparkContext.hadoopConfiguration)
      .rename(fs.makeQualified(tmp), fs.makeQualified(p),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private[graft] def readMeta(spark: org.apache.spark.sql.SparkSession,
                              dir: String): Map[String, String] = {
    val p = new org.apache.hadoop.fs.Path(dir, IndexMetaFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) {
      // the one state layout a reader can diagnose: main dir gone but a
      // complete __swap sibling beside it = a maintenance op crashed
      // inside its delete+rename instant — name the one-call repair
      val sib = new org.apache.hadoop.fs.Path(dir + "__swap")
      require(!(!fs.exists(new org.apache.hadoop.fs.Path(dir)) &&
          fs.exists(sib)),
        s"state at $dir is missing but a complete replacement survives at " +
          s"$sib — a swap-in crashed between delete and rename; run " +
          s"graft.operators.Dedup.recoverSwap(spark, \"$dir\") to repair")
      require(false,
        s"no index metadata at $p — $dir is not a graft index directory")
    }
    val props = new java.util.Properties()
    val in = fs.open(p)
    try props.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    props.stringPropertyNames().asScala.map(k => k -> props.getProperty(k)).toMap
  }

  /** Persists the corpus-side [[MinhashIndex]] under `dir` (`bands/` and
    * `sets/` parquet + a metadata file carrying numHashes, bands and the
    * hash-family fingerprint, all checked fail-loud by
    * [[readMinhashIndex]]). This is the deployment mode of
    * [[crossMinhashPairs]]: sign the held corpus ONCE, then every
    * ingestion batch pays only its own signatures plus one equality
    * join against these tables. */
  def writeMinhashIndex(corpus: DataFrame, id: String, text: String,
                        dir: String, numHashes: Int = 16,
                        bands: Int = 4): Unit = {
    val spark = corpus.sparkSession
    IndexLease.withLease(spark, dir, "writeMinhashIndex") {
      val idx = buildMinhashIndex(corpus, id, text, numHashes, bands)
      swapInMinhash(spark, dir, idx.bands, idx.sets,
        minhashParams(numHashes, bands))
    }
  }

  /** The commit-record keys of a fresh minhash index. */
  private def minhashParams(numHashes: Int,
                            bands: Int): Map[String, String] = Map(
    "kind" -> MinhashIndexKind, "numHashes" -> numHashes.toString,
    "bands" -> bands.toString, "family" -> MinhashFamily)

  /** The minhash family's one whole-index writer, behind
    * [[writeMinhashIndex]], [[writeMinhashFromTables]] and
    * [[rebuildMinhashIndex]]: `bands` and `sets` land in a fresh
    * version, then the commit record — `meta` plus `n_docs`, which
    * rides the sets write as an Observation instead of a separate count
    * job (§1.2) — strictly last. Pointer commit: the version replaces
    * EVERYTHING atomically — stale batch partitions and tombstones
    * from the old index can never ride into the new one, and readers
    * of the old one keep serving it. */
  private def swapInMinhash(spark: org.apache.spark.sql.SparkSession,
                            dir: String, bands: DataFrame, sets: DataFrame,
                            meta: Map[String, String]): Unit =
    swapInDir(spark, dir) { tmp =>
      val obs = org.apache.spark.sql.Observation()
      // two independent writes overlapped (Par, guide §2.6)
      Par.run(Seq(
        () => writeIndexTable(bands, -1L, s"$tmp/bands", overwriteAll = true),
        () => writeIndexTable(sets.observe(obs, count(lit(1)).as("n")), -1L,
          s"$tmp/sets", overwriteAll = true)))
      writeMeta(spark, tmp,
        meta + ("n_docs" -> obs.get("n").asInstanceOf[Long].toString))
    }

  /** [[writeMinhashIndex]] from already-signed tables — the re-shard
    * writer: a sharded home's new shards are built from LIVE
    * bands/sets slices (signatures are per-document deterministic
    * under the stored parameters, so routing the stored rows IS
    * re-signing the corpus). Parameters ride in explicitly because the
    * slices carry no metadata of their own. */
  private[graft] def writeMinhashFromTables(bands: DataFrame,
                                            sets: DataFrame,
                                            numHashes: Int, nBands: Int,
                                            dir: String): Unit = {
    val spark = sets.sparkSession
    IndexLease.withLease(spark, dir, "Dedup.writeMinhashFromTables") {
      val (b, relB) = materializeTracked(bands)
      val (s2, relS) = materializeTracked(sets)
      try swapInMinhash(spark, dir, b, s2, minhashParams(numHashes, nBands))
      finally { relB(); relS() }
    }
  }

  /** One index-table write under the v2 layout: rows land in the
    * `ingest_batch=<batch>` partition. `overwriteAll` replaces the whole
    * table (initial build); otherwise the write is scoped to the batch's
    * own partition — `mode("overwrite")` plus DYNAMIC partition
    * overwrite for a real micro-batch (batch ≥ 0: a replayed batch
    * REPLACES its own partition instead of double-appending — the
    * idempotency backbone), plain `append` into the base partition for
    * synchronous batch = -1 callers, which by the single-writer
    * contract run once. A statically empty frame writes nothing.
    *
    * Seeds [[readPq]]'s schema memo ([[seedPqSchema]]) with
    * `ingest_batch` as a partition column, typed as partition inference
    * types its value. A whole-table write replaces the entry; an
    * in-place write keeps the one the table already has. */
  private[graft] def writeIndexTable(rows: DataFrame, batch: Long,
                                     path: String,
                                     overwriteAll: Boolean = false): Unit = {
    // an in-place write of a statically empty frame (the empty side of
    // an append or delete) has no partition to add: skip its job
    if (!overwriteAll && staticallyEmpty(rows)) return
    val part = rows.withColumn(IngestBatchCol, lit(batch))
    val w = part.write.partitionBy(IngestBatchCol)
    if (overwriteAll) w.mode("overwrite").parquet(path)
    else if (batch >= 0L)
      w.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    else w.mode("append").parquet(path)
    seedPqSchema(path, rows.schema,
      Seq(org.apache.spark.sql.types.StructField(IngestBatchCol,
        if (batch.isValidInt) org.apache.spark.sql.types.IntegerType
        else org.apache.spark.sql.types.LongType)),
      replace = overwriteAll)
  }

  /** Seeds [[readPq]]'s schema memo for a table this session just wrote
    * at `path` with what a read of it infers: the written `data` columns
    * made nullable (Spark writes every parquet column optional), then
    * the `partitions` columns as partition inference types their
    * values. `replace` for a whole-table write; an in-place write keeps
    * the entry the table already has. */
  private[graft] def seedPqSchema(path: String,
                                  data: org.apache.spark.sql.types.StructType,
                                  partitions: Seq[org.apache.spark.sql.types.StructField],
                                  replace: Boolean): Unit = {
    val names = partitions.map(_.name).toSet
    val read = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.graftbridge.ColumnBridge.asNullable(data)
        .filterNot(f => names(f.name)) ++ partitions)
    if (replace) pqSchemaMemo.put(pqMemoKey(path), read)
    else pqSchemaMemo.putIfAbsent(pqMemoKey(path), read)
  }

  private def validateMinhashMeta(meta: Map[String, String],
                                  dir: String): Unit = {
    require(meta.get("kind").contains(MinhashIndexKind),
      s"signature index at $dir has kind=${meta.getOrElse("kind", "<absent>")}, " +
        s"this engine reads $MinhashIndexKind — rebuild with writeMinhashIndex")
    require(meta.get("family").contains(MinhashFamily),
      s"signature index at $dir was built under hash family " +
        s"${meta.getOrElse("family", "<absent>")} but this engine uses " +
        s"$MinhashFamily — its band keys are not reproducible here; rebuild")
  }

  /** True iff the v2 index table at `path` holds at least one WRITTEN
    * partition. A zero-row [[writeIndexTable]] — e.g. the tombstone
    * write of an insert-only CDC change batch, or the postings write
    * of a delete-only one — creates the directory with a _SUCCESS
    * marker but no `ingest_batch=` partition subdirs; reading that is
    * an UNABLE_TO_INFER_SCHEMA analysis error, so readers of tables
    * that can be BORN empty must treat it as absent. */
  private[graft] def indexTableHasData(spark: org.apache.spark.sql.SparkSession,
                                       path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(s =>
      s.isDirectory && s.getPath.getName.startsWith(IngestBatchCol + "="))
  }

  /** ---- Shadow tombstones (r16): deletion that UPDATES can cross ----
    *
    * A tombstone row is (id, [[ShadowCol]]): it kills exactly the
    * index rows of that id whose `ingest_batch` is ≤ `shadow_upto` —
    * never rows from later batches. Every delete leg stamps
    * `shadow_upto = lastCommittedBatch` AT APPLY TIME, which is ≥ the
    * batch of every row then committed, so a plain delete still kills
    * everything it sees — but a LATER insert of the same id lands in a
    * strictly higher batch and serves. This is the LSM tombstone
    * ordering, and it makes the CDC surface able to express updates:
    *
    *   - within one batch `b`, deletes apply to the PRE-batch state
    *     (`shadow_upto = b-1`-or-less) and inserts land at batch `b` —
    *     delete+insert of one id in a batch is an UPDATE (the new
    *     image serves, the old rows and their statistics retract);
    *   - across batches, re-inserting a previously deleted id just
    *     works — no rebuild required;
    *   - inserting an id that is currently LIVE (without deleting it
    *     in the same batch) remains the caller-contract violation it
    *     always was: the index would hold two images of one id.
    *
    * The synchronous (batchId = None) paths write into the base
    * partition (-1), which every tombstone's `shadow_upto ≥ -1`
    * shadows — so a synchronous RE-insert of a deleted id cannot be
    * expressed and refuses loudly ([[refuseShadowedInserts]]); route
    * re-inserts through a batchId. Compaction and rebuild apply the
    * mask physically (live rows only, tombstones dropped), which is
    * what keeps the shadow ordering consistent with their fold of all
    * batches into the base partition. Tombstones written before this
    * scheme carry no ordering column and are read as
    * `shadow_upto = Long.MaxValue` — they keep masking everything,
    * exactly their original semantics, and a re-insert against them
    * still refuses with the rebuild remedy. */
  private[graft] val ShadowCol = "shadow_upto"

  /** Committed tombstones of a v2 index — (idCol, [[ShadowCol]]) — or
    * None when no delete ever ran, so the append-only read path pays
    * zero cost for the feature's existence. A tombstone table that
    * exists but holds no written partition (insert-only CDC batches)
    * counts as absent ([[indexTableHasData]]). Pre-shadow tombstones
    * (no [[ShadowCol]] on disk) read as Long.MaxValue — mask
    * everything, their original semantics; mergeSchema keeps a table
    * holding BOTH generations readable AND deterministic (without it,
    * Spark types the table from one sampled footer — a mixed table
    * would flip semantics with file order). Cost: one footer read per
    * tomb file — bounded by the delete batches since the last
    * compaction, which folds the table back to `targetFiles`. */
  private[graft] def committedTombsAt(spark: org.apache.spark.sql.SparkSession,
                                      path: String,
                                      meta: Map[String, String],
                                      idCol: String): Option[DataFrame] =
    if (indexTableHasData(spark, path)) {
      // EXPLICIT schema instead of mergeSchema=true: schema merging
      // reads every footer through a Spark job per open — a sharded
      // serve pays one per tomb-bearing shard — while the table's
      // layout is this writer's own fixed (id, shadow_upto) shape.
      // Legacy pre-shadow files simply lack the column; the parquet
      // reader fills it with NULL under an explicit schema, and the
      // coalesce below maps NULL -> mask-everything — exactly the
      // semantics the mergeSchema branch produced.
      val raw = spark.read.schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(idCol,
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField(ShadowCol,
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField(IngestBatchCol,
            org.apache.spark.sql.types.LongType))))
        .parquet(path)
      val shadowed = raw.withColumn(ShadowCol,
        coalesce(col(ShadowCol), lit(Long.MaxValue)))
      Some(committedOnly(shadowed, meta).select(idCol, ShadowCol))
    } else None

  /** [[writeIndexTable]] returning the number of rows written, counted
    * by an Observation riding the write instead of a separate count
    * job (§1.2); a statically empty frame writes nothing and counts 0. */
  private[graft] def writeCounted(rows: DataFrame, batch: Long,
                                  path: String): Long =
    if (staticallyEmpty(rows)) 0L
    else {
      val obs = org.apache.spark.sql.Observation()
      writeIndexTable(rows.observe(obs, count(lit(1)).as("n")), batch, path)
      obs.get("n").asInstanceOf[Long]
    }

  /** Row count without a Spark job for a statically empty frame. */
  private[graft] def countRows(df: DataFrame): Long =
    if (staticallyEmpty(df)) 0L else df.count()

  /** One tombstone-table write: `ids` (single id column) stamped with
    * `shadow_upto = shadowUpto`, landing in the `ingest_batch = batch`
    * partition under the usual replay semantics. Returns the number of
    * tombstones written ([[writeCounted]]). */
  private[graft] def writeTombs(ids: DataFrame, shadowUpto: Long,
                                batch: Long, path: String): Long =
    writeCounted(ids.withColumn(ShadowCol, lit(shadowUpto)), batch, path)

  /** THE masking choke point: drops every row of `rows` that a
    * committed tombstone shadows (same id, `shadow_upto ≥` the row's
    * `ingest_batch`). `rows` must still carry [[IngestBatchCol]];
    * identity when no delete ever ran. The tombstone side aggregates
    * to one (id, max shadow) row per deleted id before the join —
    * takedown-scale, broadcastable by AQE like the anti-join this
    * generalizes. */
  private[graft] def maskShadowed(rows: DataFrame, idCol: String,
                                  tombs: Option[DataFrame],
                                  tombIdCol: String): DataFrame =
    tombs.fold(rows) { t =>
      val sh = t.groupBy(col(tombIdCol).as("__tid"))
        .agg(max(col(ShadowCol)).as("__shadow"))
      rows.join(sh, rows(idCol) === sh("__tid"), "left")
        .filter(col("__shadow").isNull ||
          col(IngestBatchCol) > col("__shadow"))
        .drop("__tid", "__shadow")
    }

  /** The ids of `ids` that are currently LIVE in the masked frame
    * `liveRows` (which must carry `liveIdCol`) — the delete legs'
    * "what does this tombstone actually kill" set: double-deletes and
    * never-held ids drop out, so counts stay exact and the tombstone
    * table never accretes no-op rows. `liveRows` is by-name: a
    * statically empty `ids` (an append's delete side) never builds it,
    * so it never pays the table read's schema inference either. */
  private[graft] def liveAmong(ids: DataFrame, idCol: String,
                               liveRows: => DataFrame,
                               liveIdCol: String): DataFrame =
    if (staticallyEmpty(ids)) ids
    else ids.join(liveRows.select(col(liveIdCol).as(idCol)).distinct(),
      Seq(idCol), "left_semi")

  /** Refuses the two insert shapes shadow masking cannot absorb:
    * synchronous (base-partition) inserts of ANY tombstoned id — the
    * base partition is shadowed by every tombstone, so the row would
    * be silently invisible — and batched inserts of ids held by
    * PRE-SHADOW tombstones (`shadow_upto = Long.MaxValue`, written
    * before the ordering column existed), which mask all future
    * batches too. Batched re-inserts against shadow-aware tombstones
    * are legal and not checked here. Costs one semi-join of the
    * batch-bounded insert ids against the single-column tomb side;
    * `None` (no delete ever ran) costs nothing. On the sync path a hit
    * id may be tombstoned yet currently LIVE (re-inserted via a later
    * batch) — there the batchId remedy would mint a SECOND live image
    * of one id, the unchecked duplicate-id contract violation, so the
    * refusal classifies the (≤3 collected) hits against the family's
    * live set ([[IndexCdc.liveIds]], evaluated only on a hit) and
    * points live ids at the delete+insert (update) encoding instead. */
  private[graft] def refuseShadowedInserts(inserts: DataFrame, idCol: String,
                                           tombs: Option[DataFrame],
                                           tombIdCol: String,
                                           op: String, dir: String,
                                           syncPath: Boolean): Unit = {
    // refusal over zero inserts is vacuous — skip the semi-join job
    // (insert-empty = the delete-only micro-batch shape, §1.2)
    if (staticallyEmpty(inserts)) return
    tombs.foreach { t =>
      val blocking =
        if (syncPath) t else t.filter(col(ShadowCol) === Long.MaxValue)
      val hits = inserts.select(col(idCol).cast("long").as("__rid"))
        .distinct()
        .join(blocking.select(col(tombIdCol).cast("long").as("__rid")),
          Seq("__rid"), "left_semi")
        .limit(3).collect().map(_.getLong(0))
      // None = the live/dead classification itself failed (e.g. a torn
      // index whose liveIds read throws) — distinct from "all hits are
      // dead": defaulting a LIVE id to the dead-id remedy ("route it
      // through a batchId") would mint the duplicate-id violation this
      // refusal exists to prevent, so an unclassifiable hit gets its
      // own message pointing at the audit first
      lazy val liveHitsOpt: Option[Set[Long]] =
        scala.util.Try(
          IndexCdc.liveIds(inserts.sparkSession, dir)
            .filter(col("id").isin(hits.map(Long.box): _*))
            .collect().map(_.getLong(0)).toSet
        ).toOption
      lazy val liveHits: Set[Long] = liveHitsOpt.getOrElse(Set.empty)
      require(hits.isEmpty,
        if (syncPath && liveHitsOpt.isEmpty)
          s"$op: insert re-uses tombstoned id(s) " +
            s"${hits.mkString("(", ", ", ")")} at $dir, and whether they " +
            "are currently live (re-inserted via a later batch) could " +
            "not be determined — the index's live-id read failed, so " +
            "the artifact may be torn. Do NOT blindly re-insert: if an " +
            "id is live, inserting again on any path mints a second " +
            "live image (the duplicate-id violation); if dead, the sync " +
            "insert would be invisible under its tombstone. Run " +
            "IndexAudit.audit first, then encode an update as " +
            "delete+insert in ONE CDC batch (applyCdc) for live ids or " +
            "route dead ids through a batchId"
        else if (syncPath && hits.exists(liveHits))
          s"$op: insert re-uses id(s) " +
            s"${hits.filter(liveHits).mkString("(", ", ", ")")} at $dir " +
            "that are currently LIVE (deleted once, then re-inserted via " +
            "a batch) — inserting again on ANY path would put a second " +
            "live image of one id in the index, the duplicate-id " +
            "contract violation. Encode an update as delete+insert of " +
            "the id in ONE CDC batch (applyCdc), or delete the id first" +
            (if (hits.exists(h => !liveHits(h)))
              s"; id(s) ${hits.filterNot(liveHits).mkString("(", ", ", ")")}" +
                " are deleted (not live) — route those through a batchId"
             else "")
        else if (syncPath)
          s"$op: synchronous (batchId=None) insert re-uses deleted id(s) " +
            s"${hits.mkString("(", ", ", ")")} at $dir — synchronous " +
            "inserts land in the base partition, which every tombstone " +
            "shadows, so the row would be invisible on every board. " +
            "Route the re-insert through a batchId (append/applyCdc with " +
            "batchId > the commit marker), or rebuild the index first"
        else
          s"$op: insert batch re-uses id(s) " +
            s"${hits.mkString("(", ", ", ")")} deleted by a PRE-SHADOW " +
            s"tombstone at $dir (written before tombstones carried an " +
            "ordering column; it masks all batches, including this one). " +
            "Rebuild the index — the rebuild folds the old tombstones " +
            "away physically — then re-insert")
    }
  }

  /** Takedown leg for the minhash signature index — a right-to-be-
    * forgotten delete must remove a document's CONTENT FINGERPRINT
    * from the dedup index too, or future batches keep matching (and
    * thereby re-identifying) data the corpus no longer holds. Bands
    * and sets rows are per-document independent (no cross-document
    * statistics — unlike BM25's df there is nothing to retract), so
    * deletion is pure masking: the ids land in `tomb/` as their own
    * committed batch and [[readMinhashIndex]] anti-joins BOTH tables —
    * a deleted doc can never appear as a candidate, a verify partner,
    * or a bucket representative. `n_docs` decrements by the
    * newly-tombstoned ids actually held, keeping the sizing metadata a
    * live count. Physical removal happens at the next
    * [[rebuildMinhashIndex]] or [[compactMinhashIndex]], which read
    * the live set and swap a tombstone-free layout in. It is an
    * [[applyMinhashCdc]] batch with no inserts (`batchId = None` is the
    * synchronous one-shot). Tombstones are SHADOW tombstones
    * ([[ShadowCol]]): they kill only rows from batches ≤ the marker at
    * delete time, so a later batched re-insert of the id serves —
    * delete is no longer a one-way door. Deleting an id the index
    * does not currently hold is a no-op (nothing written, nothing
    * decremented), which also makes double-deletes exact. */
  def deleteFromMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                             dir: String, tombstones: DataFrame,
                             batchId: Option[Long] = None): Unit =
    commitMinhash(spark, dir,
      IndexCdc.emptyInserts(spark, MinhashIndexKind, "doc_id", "text"),
      tombstones, batchId, "doc_id", "text", "deleteFromMinhashIndex")

  /** One CDC change-batch applied to the minhash index atomically
    * under ONE commit marker — the family's in-place commit, which
    * [[appendToMinhashIndex]] and [[deleteFromMinhashIndex]] run with
    * one side empty and [[IndexCdc]] routes change streams to: the
    * batch's band keys, sets, and tombstones land in one
    * `ingest_batch` partition, marker strictly last. Within
    * ONE batch deletes apply FIRST (to the pre-batch state) and
    * inserts land after: delete+insert of one id is an UPDATE — the
    * new image serves, the old rows fall under the shadow tombstone
    * ([[ShadowCol]]) — and a re-insert of an id deleted in an earlier
    * batch serves the same way, no rebuild required. Inserting a
    * currently-live id WITHOUT deleting it in the same batch remains
    * the duplicate-image caller-contract violation it always was.
    * `n_docs` nets the batch's signed inserts against its
    * newly-tombstoned held docs — the live count (an upsert nets 0). */
  def applyMinhashCdc(spark: org.apache.spark.sql.SparkSession,
                      dir: String, newDocs: DataFrame,
                      tombstones: DataFrame, batchId: Long,
                      id: String = "doc_id", text: String = "text"): Unit =
    commitMinhash(spark, dir, newDocs, tombstones, Some(batchId), id, text,
      "applyMinhashCdc")

  /** The minhash family's one in-place commit body: [[applyMinhashCdc]]
    * with `batchId = None` for the synchronous path (base partition,
    * marker untouched), and [[appendToMinhashIndex]] /
    * [[deleteFromMinhashIndex]] with the other side statically empty,
    * which writes nothing. `op` names the lease and the refusals. */
  private def commitMinhash(spark: org.apache.spark.sql.SparkSession,
                            dir: String, newDocs: DataFrame,
                            tombstones: DataFrame, batchId: Option[Long],
                            id: String, text: String, op: String): Unit =
    IndexLease.withLease(spark, dir, op) {
    val root = indexRoot(spark, dir)
    val meta = readMeta(spark, root)
    validateMinhashMeta(meta, dir)
    if (batchId.exists(_ <= lastCommittedBatch(meta))) return
    val ids = tombstones.select(col(id).cast("long").as("doc_id")).distinct()
    val priorTombs = committedTombsAt(spark, s"$root/tomb", meta, "doc_id")
    refuseShadowedInserts(newDocs, id, priorTombs, "doc_id", op, dir,
      syncPath = batchId.isEmpty)
    // materialized: the fresh-ids plan reads tomb/ (via the mask),
    // which the write below appends to — and the n_docs count reuses it
    val (fresh, relT) = materializeTracked(
      liveAmong(ids, "doc_id",
        maskShadowed(committedOnly(readPq(spark, s"$root/sets"), meta),
          "doc_id", priorTombs, "doc_id"), "doc_id"))
    try {
      val nh = meta("numHashes").toInt
      val nb = meta("bands").toInt
      // deletes apply FIRST, to the pre-batch state; the batch's own
      // inserts land at this batchId, above every shadow_upto, so
      // delete+insert of one id in this batch is an UPDATE — the new
      // image is signed and serves
      val sigs = minhashSignatures(newDocs, id, text, nh)
      val part = batchId.getOrElse(-1L)
      // the three table writes are independent (materialized inputs,
      // distinct paths) — overlapped (Par, guide §2.6); the n_docs
      // deltas ride the writes as Observations (writeCounted), and the
      // marker bump stays strictly last
      val Seq(_, nIns, nDel) = Par.run(Seq(
        () => { writeIndexTable(bandKeysOf(sigs, nh, nb), part,
          s"$root/bands"); 0L },
        () => writeCounted(sigs.select(col("doc_id"), col("hs")), part,
          s"$root/sets"),
        () => writeTombs(fresh, lastCommittedBatch(meta), part,
          s"$root/tomb")))
      writeMeta(spark, root,
        meta + ("n_docs" -> (meta("n_docs").toLong + nIns - nDel).toString)
          ++ batchId.map(b => "last_committed_batch" -> b.toString))
    } finally relT()
  }

  /** Loads a [[writeMinhashIndex]] artifact, refusing (with an
    * actionable message) an index whose kind or hash-family fingerprint
    * doesn't match this engine — the silent failure mode would be a
    * band-key join that simply never matches. Parameters come FROM the
    * metadata, so callers cannot pair an index with the wrong
    * numHashes/bands. Tombstoned docs ([[deleteFromMinhashIndex]]) are
    * masked out of both tables at this one choke point — every
    * consumer (cross checks, streams, rebuild) sees only live docs. */
  def readMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                       dir: String): MinhashIndex = {
    // version snapshot: resolve once — this handle keeps serving the
    // resolved version even while a rebuild commits the next one
    val root = indexRoot(spark, dir)
    val meta = readMeta(spark, root)
    validateMinhashMeta(meta, dir)
    val tombs = committedTombsAt(spark, s"$root/tomb", meta, "doc_id")
    def live(df: DataFrame): DataFrame =
      maskShadowed(df, "doc_id", tombs, "doc_id")
    MinhashIndex(
      live(committedOnly(readPq(spark, s"$root/bands"), meta))
        .select("doc_id", "band_idx", "band_key"),
      live(committedOnly(readPq(spark, s"$root/sets"), meta))
        .select("doc_id", "hs"),
      meta("numHashes").toInt, meta("bands").toInt)
  }

  /** Folds a batch into a persisted index IN PLACE: signs `batch` with
    * the index's OWN parameters (read from metadata — the caller cannot
    * mismatch them) and appends to the `bands`/`sets` tables. This is
    * the other half of the ingestion loop: check a batch with
    * [[crossMinhashPairs]], then append its novel documents here so the
    * NEXT batch dedups against them — still never rescanning held data;
    * each append costs only the batch's own signatures.
    *
    * Idempotency: pass the streaming micro-batch id as `batchId` and a
    * replay of an at-least-once-delivered batch is EXACTLY ONCE in
    * effect — an already-committed batch (id ≤ the metadata's
    * `last_committed_batch`; Structured Streaming batch ids are
    * monotonic) is skipped outright, and a batch whose previous attempt
    * crashed mid-append lands in its own `ingest_batch` partition via
    * DYNAMIC partition overwrite, replacing the crashed attempt's
    * leftovers instead of double-appending them (which reads never saw
    * anyway: they filter to committed partitions). The commit marker is
    * written strictly last — this is an [[applyMinhashCdc]] batch with
    * no deletes. Without `batchId` (synchronous callers) the append is
    * a plain one-shot under the single-writer contract: a caller
    * retrying a failure must route retries through a batchId. */
  def appendToMinhashIndex(batch: DataFrame, id: String, text: String,
                           dir: String,
                           batchId: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    commitMinhash(spark, dir, batch,
      IndexCdc.emptyDeletes(spark, MinhashIndexKind, id), batchId, id, text,
      "appendToMinhashIndex")
  }

  /** ---- Version-pointer commits (r16) ----
    *
    * Replacement ops (write/rebuild/compact/state folds — anything that
    * must land a multi-table state atomically) commit through a
    * VERSIONED layout:
    *
    *   - `<dir>/CURRENT` — one line, `v<N>`: the pointer;
    *   - `<dir>/v<N>/…` — a complete layout, immutable once committed
    *     except for the in-place marker protocol;
    *   - `<dir>/v<N+1>/…` — the next replacement, built IN FULL beside
    *     the serving one.
    *
    * The commit is ONE atomic rename of the pointer file. Readers
    * resolve the pointer at open ([[indexRoot]]) and keep serving the
    * version they opened — an hours-long rebuild or compaction never
    * blocks serving, and there is NO unreadable window (the
    * delete+rename sibling swap this replaces had one; its repair,
    * [[recoverSwap]], survives as legacy compat for pre-pointer
    * crashes). A crash at ANY point before the pointer rename leaves a
    * partial `v<N+1>` the next attempt deletes; after it, the commit is
    * complete. Retention: each commit keeps the newest
    * [[retainVersions]] versions (default 2 — the new one plus its
    * predecessor, whose file list open readers may hold) and prunes
    * the rest; raise `-Dgraft.index.retain.versions` for pinned
    * long-lived readers ([[versionRoot]]). Driver-side listing cost
    * only.
    *
    * In-place ops (append/delete/applyCdc) mutate the CURRENT version
    * root under the marker protocol — additive partitions with the
    * marker strictly last — which preserves open-reader snapshots by
    * itself.
    *
    * A directory with NO `CURRENT` file is the flat pre-pointer
    * layout: readers use it as the root unchanged; its first
    * replacement op migrates it (builds `v1`, commits the pointer),
    * and the flat tables are pruned at the `v2` commit like any other
    * previous version — which is why an index home must contain ONLY
    * the index (checkpoints/CDC feeds beside it, never inside — the
    * same contract the old whole-directory swap imposed). */
  private[graft] val PointerFile = "CURRENT"
  private[graft] val LeaseFile = "LEASE"
  private val VersionRe = "^v(\\d+)$".r

  /** How many committed versions a replacement commit leaves on disk
    * (the new one included). The default 2 is the minimum: the
    * previous version stays for one commit so open readers holding its
    * file list finish their scans. Deployments with LONG-lived readers
    * (a training job pinned to a snapshot for hours while maintenance
    * commits several times) raise `-Dgraft.index.retain.versions` —
    * retention is the only thing standing between an open snapshot and
    * a prune. Values below 2 are clamped up: pruning the version a
    * commit just replaced would re-open the unreadable window the
    * pointer layout exists to kill. */
  def retainVersions: Int =
    math.max(2, sys.props.get("graft.index.retain.versions")
      .flatMap(_.toIntOption).getOrElse(2))

  /** The version numbers present on disk at `dir`, ascending — the
    * committed one is [[pointerVersion]]; older entries are retained
    * snapshots still open-able via [[versionRoot]] until retention
    * prunes them. Empty for a flat pre-pointer layout. */
  def listVersions(spark: org.apache.spark.sql.SparkSession,
                   dir: String): Seq[Int] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.collect {
      case s if s.isDirectory => s.getPath.getName
    }.collect { case VersionRe(n) => n.toInt }.sorted
  }

  /** Pinned-snapshot root: the path to read version `v` of the index
    * at `dir` — pass it anywhere a reader takes an index directory
    * (`readMinhashIndex(spark, versionRoot(...))`, ...): a version
    * root has no pointer file of its own, so readers use it as-is.
    * This is the time-travel/reproducibility read (serve or train
    * against the EXACT snapshot a run started from, while maintenance
    * commits newer versions beside it). A version is FROZEN once it is
    * no longer CURRENT — in-place maintenance (append/delete/applyCdc)
    * only ever touches the serving version, and replacement commits
    * build new version dirs — so pin a version the next replacement
    * commit has moved past (or schedule a cheap compact as the freeze
    * point). The pin stays valid until retention ([[retainVersions]])
    * prunes the version, and refuses by name when it already has.
    * Read-only by contract — run maintenance against `dir`, never
    * against a version root. */
  def versionRoot(spark: org.apache.spark.sql.SparkSession,
                  dir: String, version: Int): String = {
    val root = s"$dir/v$version"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new org.apache.hadoop.fs.Path(root)), {
      val have = listVersions(spark, dir)
      s"index at $dir has no version $version" +
        (if (have.isEmpty) " (flat pre-pointer layout — no versions yet)"
         else s" — on disk: ${have.mkString("v", ", v", "")}; older " +
           "versions are pruned by retention (raise " +
           "-Dgraft.index.retain.versions to keep more)")
    })
    root
  }

  /** EXPLICIT retention pass — deletes every version at `dir` except
    * the newest `keep` (the serving version is always kept, whatever
    * `keep` says). Commit-time retention ([[retainVersions]], applied
    * inside [[swapInDir]]) bounds history passively: an old version
    * lingers until the NEXT replacement commit, which may be days
    * away. That lag is exactly the compliance window a right-to-be-
    * forgotten deadline cannot tolerate — after a rebuild physically
    * purges a takedown (certified by `IndexCdc.versionDiff`), the
    * frozen predecessor still HOLDS the bytes. This op closes that
    * window on demand, under the home's writer lease (pinned readers
    * of a pruned version fail loudly at their next open — the same
    * contract commit-time pruning already imposes; `keep = 1` is the
    * compliance form, serving-version-only). Deliberate-delete by
    * design: never called by any maintenance path automatically. */
  def pruneVersions(spark: org.apache.spark.sql.SparkSession,
                    dir: String, keep: Int = 1): Unit =
    IndexLease.withLease(spark, dir, "Dedup.pruneVersions") {
      require(keep >= 1, s"Dedup.pruneVersions: keep must be >= 1, " +
        s"got $keep")
      val serving = pointerVersion(spark, dir).getOrElse(
        throw new IllegalArgumentException(
          s"Dedup.pruneVersions: $dir has no version-pointer layout — " +
            "nothing to prune (flat layouts migrate on their first " +
            "replacement op)"))
      val vs = listVersions(spark, dir)
      val keepSet = vs.takeRight(keep).toSet + serving
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      vs.filterNot(keepSet).foreach { v =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/v$v"), true)
      }
    }

  /** The committed version number at `dir`, or None for a flat
    * pre-pointer layout (or a not-yet-written index). */
  private[graft] def pointerVersion(spark: org.apache.spark.sql.SparkSession,
                                    dir: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(dir, PointerFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val content =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      content match {
        case VersionRe(n) => Some(n.toInt)
        case other =>
          throw new IllegalArgumentException(
            s"corrupt version pointer at $p ('$other') — point CURRENT " +
              "at the newest complete v<k> directory (one line, e.g. " +
              "'v3') to restore serving")
      }
    }
  }

  /** Resolves the directory the CURRENT tables live in: `<dir>/v<N>`
    * under the pointer layout, `dir` itself for flat legacy. EVERY
    * read and every in-place mutation resolves through here once, at
    * entry — the resolved root is a consistent snapshot for the whole
    * operation even if a concurrent replacement commits meanwhile. */
  private[graft] def indexRoot(spark: org.apache.spark.sql.SparkSession,
                               dir: String): String =
    pointerVersion(spark, dir) match {
      case Some(v) =>
        val root = s"$dir/v$v"
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        require(fs.exists(new org.apache.hadoop.fs.Path(root)),
          s"index at $dir: CURRENT points to v$v but $root is missing — " +
            "the pointer was hand-edited or retention was violated; " +
            "point CURRENT at the newest complete v<k> directory")
        root
      case None => dir
    }

  private def writePointer(spark: org.apache.spark.sql.SparkSession,
                           dir: String, v: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, PointerFile)
    val tmp = new org.apache.hadoop.fs.Path(dir, PointerFile + ".tmp")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(tmp, true)
    try out.write(s"v$v\n".getBytes("UTF-8")) finally out.close()
    org.apache.hadoop.fs.FileContext
      .getFileContext(fs.makeQualified(p).toUri,
        spark.sparkContext.hadoopConfiguration)
      .rename(fs.makeQualified(tmp), fs.makeQualified(p),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Whole-layout replacement via version-pointer commit: `build`
    * writes a COMPLETE new layout into `<dir>/v<N+1>` (reading the
    * serving version lazily is safe — it is not touched), then the
    * pointer swings in one atomic rename. See the layout doc above for
    * the crash and retention story. Single-writer maintenance
    * (enforced by the lease where the entry point takes one); readers
    * need no coordination at all. */
  private[graft] def swapInDir(spark: org.apache.spark.sql.SparkSession,
                               dir: String)(build: String => Unit): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val next = pointerVersion(spark, dir).getOrElse(0) + 1
    val target = s"$dir/v$next"
    // garbage from a crashed prior attempt — the pointer never moved,
    // so nothing served from it
    fs.delete(new org.apache.hadoop.fs.Path(target), true)
    build(target)
    IndexLease.verifyBeforeCommit(spark, dir)
    writePointer(spark, dir, next)
    if (next >= 2) {
      // prune everything but the newest `retainVersions` versions
      // (default 2: the new one + its predecessor, whose file lists
      // open readers may hold) and the control files; this is also
      // where a migrated flat layout's legacy tables (and any swap-era
      // residue) go away — runs from the v2 commit on REGARDLESS of
      // retainVersions, because a raised retention should keep more
      // version DIRS, not let non-version garbage linger for
      // retainVersions-1 commits. Raising
      // -Dgraft.index.retain.versions keeps deeper snapshot history
      // for pinned readers (see versionRoot).
      val keep =
        Set(PointerFile, PointerFile + ".tmp", LeaseFile) ++
          (math.max(1, next - retainVersions + 1) to next).map(v => s"v$v")
      fs.listStatus(new org.apache.hadoop.fs.Path(dir)).foreach { s =>
        if (!keep.contains(s.getPath.getName)) fs.delete(s.getPath, true)
      }
    }
  }

  /** Crash repair for [[swapInDir]]'s one unrecoverable-by-reads
    * window: a crash between the old directory's delete and the
    * sibling's rename leaves `dir` missing while the fully-built
    * replacement survives at `<dir>__swap`. This turns that 3 a.m.
    * page into one call — if the main directory is MISSING and the
    * sibling exists, rename the sibling in and return true. Any other
    * configuration is a no-op returning false: in particular an intact
    * main directory is NEVER touched, even with a sibling beside it (a
    * leftover sibling from a crash mid-BUILD is stale garbage — the
    * next maintenance run deletes it), so calling this on a healthy
    * state is always safe. [[readMeta]] suggests it by name when it
    * finds exactly this layout. */
  def recoverSwap(spark: org.apache.spark.sql.SparkSession,
                  dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val sib = new org.apache.hadoop.fs.Path(dir + "__swap")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) && fs.exists(sib)) {
      require(fs.rename(sib, p), s"recoverSwap: rename $sib -> $p failed")
      true
    } else false
  }

  /** Version-commit compaction for the standard multi-table layouts:
    * folds each table's committed rows (projected to `cols`, coalesced
    * to `targetFiles` files, all in the base partition) into the next
    * version, copying the metadata — the marker included, so folded
    * batches live on in the base and replayed batchIds still skip.
    *
    * `masked` tables carry per-id rows and are folded LIVE-ONLY
    * ([[maskShadowed]]), with the tombstone table dropped from the new
    * version — compaction squashes every row into the base partition,
    * which erases the batch ordering shadow tombstones kill by, so the
    * mask must be applied physically here rather than carried. Served
    * results are unchanged (the mask was already hiding those rows);
    * physical removal simply stops being a rebuild-only event.
    * `unmasked` tables (BM25's signed df partials) hold no
    * per-id rows and fold verbatim — their signed sums are
    * order-free. Reads the serving version LAZILY — safe under pointer
    * commits, which never touch it; coalesce, not repartition — file
    * merging needs no shuffle. */
  private[graft] def compactTables(spark: org.apache.spark.sql.SparkSession,
                                   dir: String, targetFiles: Int,
                                   masked: Seq[(String, Seq[String])],
                                   idCol: String,
                                   unmasked: Seq[(String, Seq[String])] =
                                     Seq.empty): Unit = {
    val root = indexRoot(spark, dir)
    val meta = readMeta(spark, root)
    val tombs = committedTombsAt(spark, s"$root/tomb", meta, idCol)
    def liveOf(t: String, cols: Seq[String]): DataFrame =
      maskShadowed(
        committedOnly(readPq(spark, s"$root/$t"), meta),
        idCol, tombs, idCol)
        .select(cols.map(col): _*)
    // an all-deleted index would compact to empty-born tables no
    // reader can open — refuse with the honest instruction instead
    masked.headOption.filter(_ => tombs.nonEmpty).foreach { case (t, cols) =>
      require(liveOf(t, cols).head(1).nonEmpty,
        s"compact: every row in $dir is deleted — nothing to fold; " +
          "delete the index directory instead")
    }
    swapInDir(spark, dir) { tmp =>
      // per-table folds are independent (each reads the old version,
      // writes its own table under tmp) — overlapped (Par, guide
      // §2.6): a compact pays the largest table's fold instead of the
      // sum of all tables'; the meta commit lands strictly after
      Par.run(
        masked.map { case (t, cols) => () =>
          writeIndexTable(liveOf(t, cols).coalesce(targetFiles),
            -1L, s"$tmp/$t", overwriteAll = true)
        } ++
        unmasked.map { case (t, cols) => () =>
          writeIndexTable(
            committedOnly(readPq(spark, s"$root/$t"), meta)
              .select(cols.map(col): _*).coalesce(targetFiles),
            -1L, s"$tmp/$t", overwriteAll = true)
        })
      writeMeta(spark, tmp, meta)
    }
  }

  /** Folds a micro-batch-fed index back into `targetFiles` files per
    * table. [[graft.streaming.StreamOps.selfMaintainingDedupStream]]-style
    * ingestion accretes one
    * parquet file set per batch — at minute-level cadence the bands/sets
    * tables fragment into thousands of small files, the classic
    * streaming-sink killer: scan cost becomes file-open cost and the
    * driver's listing grows unbounded. Compaction preserves rows and
    * metadata EXACTLY — including `last_committed_batch`, so a
    * post-compaction restart still skips already-folded batches (their
    * rows live on in the base partition; `crossMinhashPairs` before ≡
    * after, asserted by `IndexMaintenanceSpec`). Run it offline on the
    * single writer's schedule — e.g. every N batches or when the file
    * count passes a threshold. */
  def compactMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                          dir: String, targetFiles: Int = 4): Unit =
    IndexLease.withLease(spark, dir, "compactMinhashIndex") {
      validateMinhashMeta(readMeta(spark, indexRoot(spark, dir)), dir)
      // live rows only, tombstones folded away physically: squashing
      // batches into the base would erase the ordering shadow
      // tombstones mask by, so the mask is applied here instead
      compactTables(spark, dir, targetFiles,
        masked = Seq("bands" -> Seq("doc_id", "band_idx", "band_key"),
          "sets" -> Seq("doc_id", "hs")),
        idCol = "doc_id")
    }

  /** Re-cuts a persisted index's blocking FROM ITS OWN `sets` table —
    * the held corpus never needs to exist outside the index. The stored
    * shingle-hash sets are the sufficient statistic for every MinHash
    * parameter choice: signatures (and from them band keys) are
    * recomputed at `numHashes`/`bands` (0 = keep the current value), so
    * re-banding a years-old index needs no access to the original
    * documents. Also compacts as a side effect (everything lands in the
    * base partition) and preserves `last_committed_batch`. Reads the
    * LIVE set: after [[deleteFromMinhashIndex]], tombstoned docs are
    * physically dropped and the tombstone table vanishes with the old
    * layout — the whole index swaps as ONE directory
    * ([[swapInDir]]; repair a crashed swap with [[recoverSwap]]).
    * Offline single-writer maintenance, like [[compactMinhashIndex]]. */
  def rebuildMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                          dir: String, numHashes: Int = 0,
                          bands: Int = 0): Unit =
    IndexLease.withLease(spark, dir, "rebuildMinhashIndex") {
    val root = indexRoot(spark, dir)
    val meta = readMeta(spark, root)
    validateMinhashMeta(meta, dir)
    val nh = if (numHashes > 0) numHashes else meta("numHashes").toInt
    val nb = if (bands > 0) bands else meta("bands").toInt
    require(nh % nb == 0,
      s"rebuildMinhashIndex: numHashes=$nh not divisible by bands=$nb")
    val held = committedOnly(readPq(spark, s"$root/sets"), meta)
    val liveSets = maskShadowed(held, "doc_id",
      committedTombsAt(spark, s"$root/tomb", meta, "doc_id"), "doc_id")
    // materialized: both derived tables and the count reuse it
    val (sigs, release) = materializeTracked(
      liveSets.select(col("doc_id"), col("hs"),
        graft.functions.exprs.minhash_sig(col("hs"), nh,
          999983L, 424243L, 12345L, 7L, P).as("sig")))
    try {
      // an all-deleted corpus would rebuild to empty-born tables that
      // no reader can open — refuse with the honest instruction instead
      require(sigs.head(1).nonEmpty,
        s"rebuildMinhashIndex: every document in $dir is deleted — " +
          "nothing to rebuild; delete the index directory instead")
      swapInMinhash(spark, dir, bandKeysOf(sigs, nh, nb),
        sigs.select(col("doc_id"), col("hs")),
        meta + ("numHashes" -> nh.toString) + ("bands" -> nb.toString))
    } finally release()
  }

  /** Ingestion-time near-dup check — the operation a continuously-fed
    * corpus actually runs: which `incoming` documents near-dup something
    * already in `corpus`. Same banded blocking as [[minhashPairs]] but
    * BIPARTITE: neither side self-joins. This overload signs BOTH sides
    * per call; deployments hold the corpus side fixed and should use the
    * [[MinhashIndex]] overload against a [[readMinhashIndex]] artifact,
    * paying only the batch's own signatures. Returns (new_id,
    * matched_id, jaccard ≥ jaccardMin); incoming documents absent from
    * the result are novel. The two id spaces are independent — no
    * doc_a < doc_b dedup applies across them. */
  def crossMinhashPairs(incoming: DataFrame, corpus: DataFrame,
                        id: String, text: String,
                        numHashes: Int = 16, bands: Int = 4,
                        jaccardMin: Double = 0.5,
                        maxBucket: Int = DefaultMaxBucket): DataFrame =
    crossMinhashPairs(incoming,
      buildMinhashIndex(corpus, id, text, numHashes, bands),
      id, text, jaccardMin, maxBucket)

  /** [[crossMinhashPairs]] against a precomputed corpus-side
    * [[MinhashIndex]] — the deployment shape: the batch plan touches the
    * index tables and the batch itself, NEVER the corpus documents
    * (asserted by `SignatureIndexSpec`'s plan audit). The candidate
    * stream carries ids only; shingle sets re-attach to the (distinct,
    * far smaller) survivor set, mirroring [[Similarity.embeddingPairs]].
    *
    * Corpus-side buckets past `maxBucket` (a held mega-duplicate
    * cluster) are probed through their bucket-minimum REPRESENTATIVE
    * only: an incoming row hitting such a bucket gets one exactly-
    * verified candidate instead of occ — the per-row fanout is bounded
    * by maxBucket on ordinary buckets and 1 on diverted ones. For the
    * novelty decision (is this incoming doc already held?) matching the
    * representative of a near-identical cluster is equivalent to
    * matching any member; `matched_id` then names that representative
    * rather than enumerating the cluster. */
  def crossMinhashPairs(incoming: DataFrame, index: MinhashIndex,
                        id: String, text: String,
                        jaccardMin: Double): DataFrame =
    crossMinhashPairs(incoming, index, id, text, jaccardMin, DefaultMaxBucket)

  def crossMinhashPairs(incoming: DataFrame, index: MinhashIndex,
                        id: String, text: String,
                        jaccardMin: Double, maxBucket: Int): DataFrame = {
    val inSigs = minhashSignatures(incoming, id, text, index.numHashes)
    val l = bandKeysOf(inSigs, index.numHashes, index.nBands)
      .select(col("doc_id").as("new_id"), col("band_idx"), col("band_key"))
    // batch-scoped: the occupancy guard and the candidate join both run
    // over only the index slice this batch's keys touch
    val (small, bigOpt) = splitProbedByOccupancy(
      index.bands.select(col("doc_id").as("matched_id"),
        col("band_idx"), col("band_key")),
      l, maxBucket, "crossMinhashPairs")
    val direct = l.join(small, Seq("band_idx", "band_key"))
      .select("new_id", "matched_id")
    bigOpt.fold(direct) { big =>
      val hubs = big.groupBy("band_idx", "band_key")
        .agg(min(col("matched_id")).as("matched_id"))
      direct.union(l.join(hubs, Seq("band_idx", "band_key"))
        .select("new_id", "matched_id"))
    }
      .distinct()
      .join(inSigs.select(col("doc_id").as("new_id"), col("hs").as("ha")),
        Seq("new_id"))
      .join(index.sets.select(col("doc_id").as("matched_id"),
        col("hs").as("hb")), Seq("matched_id"))
      .withColumn("jaccard",
        round(graft.functions.exprs.jaccard_sim(col("ha"), col("hb")), 6))
      .filter(col("jaccard") >= jaccardMin)
      .select("new_id", "matched_id", "jaccard")
  }

  /** (doc_id, hs: array<bigint>) — distinct hashed n-gram shingles, via
    * the single-pass [[graft.functions.ShingleHashes]] expression.
    * fanOutExpansion first: shingling hashes every character n-gram of
    * every document (one input byte ≈ n hash evaluations), so an
    * underparallelized scan — fewer splits than cores, the small-input
    * case — is rebalanced on the cheap (id, text) rows before the
    * expensive pass; at corpus scale the condition is false and the
    * plan is untouched ([[Rebalance]] doc). Every shingle consumer
    * (minhash signing, simhash, the rare-shingle and containment
    * candidate paths) inherits the fan-out through this one choke
    * point.
    *
    * `fan = false` opts a caller out: the r21 A/B (5 timed runs,
    * GRAFT_FANOUT on/off) measured the lossless SELF-join path
    * (SimJoin.prefixJaccardJoin) ~25-30% SLOWER with the conditional
    * shuffle — there the shingling is one cheap codegen pass and the
    * very next operation is an explode+groupBy that shuffles anyway,
    * so the fan-out's exchange+checkpoint overhead buys nothing. The
    * signature-bound consumers (minhash signing ×numHashes, simhash)
    * keep the default: their per-row expansion is the expensive part
    * and measured faster fanned (r20). */
  def shingleHashesFlat(df: DataFrame, id: String, text: String,
                        n: Int = 3, fan: Boolean = true): DataFrame = {
    val ids = df.select(col(id).as("doc_id"), col(text))
    (if (fan) Rebalance.fanOutExpansion(ids) else ids)
      .select(col("doc_id"),
        graft.functions.exprs.shingle_hashes(col(text), n).as("hs"))
  }

  /** 32-bit SimHash per document over distinct 3-gram shingle hashes:
    * (doc_id, simhash). Bit j of the signature is the sign of Σ±1 over
    * feature-hash bit j. Shingles (not unigrams) as features: with a
    * small shared vocabulary, token-level SimHash collapses the whole
    * corpus into one Hamming ball. */
  def simhash(df: DataFrame, id: String, text: String): DataFrame =
    // one codegen'd pass per document — no explode + 32-column aggregate
    shingleHashesFlat(df, id, text)
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"),
        graft.functions.exprs.simhash32(col("hs")).as("simhash"))

  /** Exact n-gram Jaccard near-dup pairs with a rare-shingle inverted
    * index for candidate generation (the alternative to MinHash banding:
    * deterministic recall for pairs sharing at least one rare shingle,
    * no signature computation). Candidate cost is bounded by capping
    * shingle document frequency at `maxDf` — ubiquitous shingles carry
    * no pair information and would otherwise explode the self-join. */
  def ngramJaccardPairs(df: DataFrame, id: String, text: String,
                        maxDf: Int = 20, jaccardMin: Double = 0.5): DataFrame =
    rareShingleCandidates(df, id, text, maxDf)
      // one-pass primitive Jaccard — at sf0.1 the verify stage scores
      // >1M candidate pairs, and the composed array_intersect form both
      // allocates per row and gets re-evaluated by the pushed-down filter
      .withColumn("jaccard",
        round(graft.functions.exprs.jaccard_sim(col("ha"), col("hb")), 6))
      .filter(col("jaccard") >= jaccardMin)
      .select("doc_a", "doc_b", "jaccard")

  /** Containment |A∩B| / min(|A|, |B|) over the same rare-shingle
    * candidates: flags doc-inside-doc pairs (verbatim quotes, nested
    * boilerplate) whose symmetric Jaccard stays low because the larger
    * document dilutes the union. */
  def containmentPairs(df: DataFrame, id: String, text: String,
                       maxDf: Int = 20, containMin: Double = 0.8): DataFrame =
    rareShingleCandidates(df, id, text, maxDf)
      // one-pass primitive intersection count (the composed
      // array_intersect form allocates per row and is re-evaluated by
      // the pushed-down filter — same rationale as JaccardSim)
      .withColumn("containment",
        round(graft.functions.exprs.intersect_count(col("ha"), col("hb"))
          .cast("double") / least(size(col("ha")), size(col("hb"))), 6))
      .filter(col("containment") >= containMin)
      .select("doc_a", "doc_b", "containment")

  /** Documents sharing at least one exact `window`-token run — the
    * token-level form of the suffix-array exact-substring criterion
    * ("Deduplicating Training Data Makes Language Models Better",
    * Lee et al. 2022): any shared verbatim run of ≥ `window` tokens
    * contains a shared window-gram, so window-gram postings give
    * DETERMINISTIC recall for long verbatim overlap — no signatures, no
    * similarity threshold, unlike the MinHash/Jaccard family. Returns
    * (doc_a, doc_b, n_shared = distinct shared window-grams — a direct
    * lower bound on shared verbatim token volume).
    *
    * Scale shape: window-gram document frequency is capped at `maxDf`
    * (boilerplate runs shared by thousands of documents carry no
    * pairwise information and would explode the posting self-join —
    * the [[ngramJaccardPairs]] bound); long windows make df ≥ 2 rare,
    * so the posting join is near-empty on a clean corpus and linear in
    * true duplication on a dirty one. Only (doc_id, 8-byte hash) ever
    * shuffles. */
  def substringPairs(df: DataFrame, id: String, text: String,
                     window: Int = 8, maxDf: Int = 20): DataFrame = {
    // checkpoint the compact (doc_id, hs) arrays, not the exploded
    // postings — the explode re-derives cheaply from checkpointed
    // blocks, and the written volume stays one row per document
    // (rareShingleCandidates' shape)
    val sh = materialize(
      shingleHashesFlat(df, id, text, window).filter(size(col("hs")) > 0))
    val posting = sh.select(col("doc_id"), explode(col("hs")).as("h"))
    val rare = posting.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf && col("df") >= 2)
    // deliberately NOT broadcast(rare): the rare-gram set grows with the
    // volume of duplicated content — corpus-proportional on exactly the
    // dirty corpora dedup targets — so a forced broadcast is a driver OOM
    // at 100 TB. The semi-join shuffles (doc_id, h)-narrow postings on h,
    // the same partitioning the self-join below reuses; when the rare set
    // IS measured small, AQE converts to broadcast at runtime.
    val rarePosting = posting.join(rare.select("h"), Seq("h"), "left_semi")
    rarePosting.as("x").join(rarePosting.as("y"), Seq("h"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      // hs is distinct per document, so each (doc_a, doc_b, h) row is
      // unique — count(1) counts distinct shared window-grams
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
  }

  /** Candidate (doc_a, doc_b, ha, hb) pairs sharing at least one rare
    * shingle (df ≤ maxDf) — the shared generation stage for the
    * Jaccard and containment verifiers. */
  private[graft] def rareShingleCandidates(df: DataFrame, id: String,
                                           text: String, maxDf: Int): DataFrame = {
    // materialized (not persist): reused by the posting list and both
    // verify sides, released by GC instead of leaking per call
    val sh = materialize(
      shingleHashesFlat(df, id, text).filter(size(col("hs")) > 0))
    val posting = sh.select(col("doc_id"), explode(col("hs")).as("h"))
    val rare = posting.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf && col("df") >= 2)
    // no broadcast(rare) — corpus-proportional on a dirty corpus; see
    // [[substringPairs]] for the full rationale. Semi-join partitions the
    // narrow postings on h, which the self-join below reuses.
    val rarePosting = posting.join(rare.select("h"), Seq("h"), "left_semi")
    val pairs = rarePosting.as("x").join(rarePosting.as("y"), Seq("h"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("hs").as("ha")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("hs").as("hb")), Seq("doc_b"))
  }

  /** Connected components over near-duplicate pairs: returns
    * (doc_id, cluster) with cluster = min doc id of the component, so a
    * pipeline keeps `doc_id == cluster` rows and drops the rest.
    *
    * Iterative min-label propagation: each round joins the edge list
    * against current labels and takes the per-node min — the driver loop
    * only evaluates a convergence count (no row data ever reaches the
    * driver), the classic Spark shape for small-diameter dedup graphs.
    * Rounds needed = component diameter (near-dup clusters are shallow). */
  def duplicateClusters(pairs: DataFrame, maxRounds: Int = 50,
                        smallGraphThreshold: Long = 500000L): DataFrame = {
    // eager materialize: pairs computed once, lineage truncated so
    // each round's plan stays flat, and the blocks are GC-managed (a
    // persist() here would pin every generation in the CacheManager for
    // the session lifetime — the classic iterative-algorithm leak).
    // Every tracked generation below is deleted once superseded; the one
    // exception is the FINAL labels generation, whose checkpoint files
    // back the returned DataFrame — they live until the checkpoint dir
    // itself is cleaned (callers that need eager reclamation should
    // write the result out and drop the frame).
    val (p, pCleanup) = materializeTracked(pairs)
    // Hybrid strategy, same reasoning as a broadcast join: the near-dup
    // edge list is orders of magnitude smaller than the corpus (it IS
    // the duplicate graph). When it fits comfortably on the driver,
    // union-find resolves components in microseconds where the
    // distributed loop pays ~2 scheduled jobs per round; the loop below
    // remains the path for genuinely large graphs.
    if (p.count() <= smallGraphThreshold) {
      val spark = p.sparkSession
      import spark.implicits._
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
        r
      }
      p.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
        .collect().foreach { row =>
          val a = row.getLong(0); val b = row.getLong(1)
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val ra = find(a); val rb = find(b)
          // union by min root: a root is always <= every node in its
          // tree, so the final root of a component is its min id
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
      pCleanup() // edge list fully consumed into the driver map
      return parent.keys.toSeq.sorted.map(id => (id, find(id)))
        .toDF("doc_id", "cluster")
    }
    val (edges, edgesCleanup) = materializeTracked(
      p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
    pCleanup() // edges checkpoint holds the data; p's files are dead
    var (labels, labelsCleanup) =
      materializeTracked(edges.select(col("src").as("id")).distinct()
        .withColumn("lbl", col("id")))
    // One round = edge propagation + pointer jumping (shortcut through
    // the current label's own label). The shortcut halves the distance
    // to the component minimum every round — O(log diameter) rounds
    // instead of O(diameter), which matters for chain-shaped near-dup
    // components. (Viable since materialize keeps each generation's
    // lineage flat; with persist() the doubled plan depth was slower.)
    def hop(l: DataFrame): DataFrame = {
      val viaEdges = edges.join(l, edges("dst") === l("id"))
        .select(edges("src").as("id"), col("lbl"))
      val viaLabels = l.as("x").join(l.as("y"), col("x.lbl") === col("y.id"))
        .select(col("x.id").as("id"), col("y.lbl").as("lbl"))
      l.select("id", "lbl").union(viaEdges).union(viaLabels)
        .groupBy("id").agg(min("lbl").as("lbl"))
    }
    // Labels only ever decrease (min over a union that includes the old
    // label), so Σ lbl is non-increasing and equals the previous round's
    // sum iff NO label changed: convergence is one cheap aggregate per
    // round instead of a self-join diff count. Decimal accumulation —
    // at 100 TB id·node products overflow int64 and a wrapped sum would
    // break the monotonicity argument.
    def lblSum(l: DataFrame): java.math.BigDecimal = {
      val r = l.agg(sum(col("lbl").cast(DecimalType(38, 0)))).head()
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
    }
    var prevSum = lblSum(labels)
    var converged = false // an empty graph converges on round 1 (0 == 0)
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      // one hop per convergence check: a two-hop variant benched slower
      // (deeper uncached lineage per round outweighs the saved barriers)
      val (next, nextCleanup) = materializeTracked(hop(labels))
      val s = lblSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      // `next` is fully materialized (eager checkpoint + the sum above),
      // so the previous generation's checkpoint files are dead weight —
      // delete them now instead of leaking one copy per round
      labelsCleanup()
      labels = next
      labelsCleanup = nextCleanup
      rounds += 1
    }
    if (!converged) {
      // error path reclaims everything — the caller gets no frame that
      // could depend on these files
      labelsCleanup()
      edgesCleanup()
      throw new IllegalStateException(
        s"duplicateClusters: min-label propagation did not converge in " +
          s"$maxRounds rounds — a component has diameter > $maxRounds; " +
          "raise maxRounds to cover the deepest duplicate chain")
    }
    edgesCleanup() // the converged labels no longer reference the edges
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster"))
  }

  /** Near-dup pairs by SimHash Hamming distance ≤ maxHamming (≤ 3), found
    * via 4-byte band blocking: distance ≤ 3 ⇒ at least one of the four
    * signature bytes matches exactly (pigeonhole), so candidates come
    * from an equality join on (byte_idx, byte) — no all-pairs scan.
    *
    * Buckets past `maxBucket` divert to the hub-star span like the
    * MinHash family (a mega-duplicate cluster shares ONE simhash and
    * lands whole in its four byte-buckets; the star's Hamming verify is
    * exact, distance 0 to the hub). The scale wrinkle: byte banding
    * has only 256 buckets per band, so MEAN occupancy is n/256
    * regardless of duplication — a FIXED cap would start diverting
    * perfectly ordinary buckets (and silently losing Hamming ≤ 3
    * pairs) once n crosses 256·maxBucket, sizes far below this
    * engine's targets. The effective cap therefore scales with the
    * corpus: max(maxBucket, 8 × n/256) — ordinary buckets sit at the
    * mean and never divert at any n, while a mega-duplicate cluster
    * stands ≥ 8× above the mean and still does. What degrades at
    * n ≫ 256·maxBucket is the SELF-JOIN cost (O(n²/256) candidate
    * pairs is inherent to 8-bit pigeonhole blocking, cap or no cap);
    * at that size use [[minhashPairs]], whose key space scales. */
  def simhashPairs(df: DataFrame, id: String, text: String,
                   maxHamming: Int = 3,
                   maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(maxHamming <= 3, "4-band blocking is only exact for distance <= 3")
    // materialized (checkpoint/localCheckpoint): the band self-join
    // would otherwise recompute the full shingle+aggregate pipeline for
    // each side
    val sig = materialize(simhash(df, id, text))
    // corpus-relative cap (one cheap count of the materialized frame):
    // never below the caller's floor, never inside the mean-occupancy
    // band where heterogeneous buckets live
    val effCap = math.max(maxBucket.toLong,
      8L * sig.count() / 256L).min(Int.MaxValue).toInt
    val banded = sig.select(col("doc_id"), col("simhash"),
      posexplode(expr("array(simhash & 255, shiftright(simhash, 8) & 255, " +
        "shiftright(simhash, 16) & 255, shiftright(simhash, 24) & 255)"))
        .as(Seq("band_idx", "band_key")))
    val (small, bigOpt) = splitByOccupancy(banded, effCap, "simhashPairs")
    val l = small.select(col("doc_id").as("doc_a"), col("simhash").as("sa"),
      col("band_idx"), col("band_key"))
    val r = small.select(col("doc_id").as("doc_b"), col("simhash").as("sb"),
      col("band_idx"), col("band_key"))
    val pairwise = l.join(r, Seq("band_idx", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sa", "sb")
    val candidates = bigOpt.fold(pairwise)(big =>
      pairwise.union(hubStarPairsWithPayload(big, "doc_id", "simhash",
        "doc_a", "sa", "doc_b", "sb").select("doc_a", "doc_b", "sa", "sb")))
    candidates.distinct()
      .withColumn("hamming", expr("cast(bit_count(sa ^ sb) as int)"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Corpus-level boilerplate removal (the CCNet/Dolma paragraph-dedup
    * shape): split every document into fixed NON-overlapping token
    * windows ("paragraphs" — this corpus has no newline structure, so
    * the window plays the paragraph), count each window's corpus-wide
    * occurrences by content hash, and drop EVERY occurrence of a window
    * seen >= minDf times. A window repeated across documents is
    * boilerplate by definition — the navigation chrome / license
    * banner / template text that survives document-LEVEL dedup because
    * the documents around it differ. Returns one row per document with
    * >= 1 token: (id, n_chunks, n_dropped, clean_text) where clean_text
    * rejoins the surviving windows in document order.
    *
    * Scale: two shuffles, both on keys, never on bodies — (1) the
    * frequency count groups by the 16-byte window md5 under partial
    * aggregation; (2) reassembly groups by document id, carrying each
    * window once. The frequent-hash set is corpus-derived, so it is
    * plain-equi-joined (no broadcast hint — the rare-gram rule; AQE may
    * still broadcast it when measured small). A mega-boilerplate window
    * repeated 10^6 times is 10^6 probe rows against ONE build row —
    * a 1:N lookup with no pair explosion, which is why this family
    * needs no occupancy cap (contrast the banded self-joins). */
  def paragraphDedup(df: DataFrame, id: String, text: String,
                     chunkTokens: Int = 16, minDf: Long = 2L): DataFrame = {
    require(chunkTokens >= 1, s"paragraphDedup: chunkTokens must be >= 1, got $chunkTokens")
    require(minDf >= 2L, s"paragraphDedup: minDf must be >= 2 (1 would drop every window), got $minDf")
    val chunks = df
      .withColumn("t", TextOps.tokens(col(text)))
      .filter(size(col("t")) > 0)
      .select(col(id), col("t"), explode(expr(
        s"sequence(CAST(0 AS BIGINT), CAST(floor((size(t) - 1) / $chunkTokens) AS BIGINT))"))
        .as("k"))
      .select(col(id), col("k"), concat_ws(" ",
        expr(s"slice(t, CAST(k * $chunkTokens + 1 AS INT), $chunkTokens)")).as("chunk"))
      .withColumn("h", md5(col("chunk").cast("binary")))
    val frequent = chunks.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("h"), lit(1L).as("dup"))
    chunks.join(frequent, Seq("h"), "left")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_chunks"),
        coalesce(sum(col("dup")), lit(0L)).as("n_dropped"),
        concat_ws(" ", transform(array_sort(collect_list(
          when(col("dup").isNull, struct(col("k"), col("chunk"))))),
          s => s.getField("chunk"))).as("clean_text"))
  }

  /** Pairwise corpus-overlap estimation — the contamination MATRIX
    * between data sources/languages/splits, answered WITHOUT any
    * document-pair join: one MinHash signature PER GROUP over the union
    * of its shingle sets, then signature agreement between two groups
    * estimates the shingle-set Jaccard. Returns (grp_a, grp_b,
    * est_jaccard) for every unordered group pair.
    *
    * The group signature is the POINTWISE MIN of the per-document
    * signatures (min over a union = min of mins), so it composes from
    * the same one-pass [[graft.functions.exprs.minhash_sig]] the dedup
    * family computes — no per-group distinct-shingle shuffle. Plan:
    * one narrow signature pass, one partial-aggregated groupBy on
    * (group, signature position) whose output is G·numHashes rows
    * (groups are few by definition — sources, languages, splits), and
    * a pairwise compare over that metadata-scale table. At 100 TB the
    * only corpus-proportional work is the scan; everything after the
    * partial aggregate is bounded by G²·numHashes. Estimator error is
    * the standard 1/√numHashes — 64 hashes ≈ ±0.125. */
  def corpusOverlap(df: DataFrame, groupCol: String, text: String,
                    numHashes: Int = 64): DataFrame = {
    require(numHashes >= 1, s"corpusOverlap: numHashes must be >= 1, got $numHashes")
    val perDoc = shingleHashesFlat(df, groupCol, text)
      .filter(size(col("hs")) > 0)
      .select(col("doc_id").as("grp"),
        graft.functions.exprs.minhash_sig(col("hs"), numHashes,
          999983L, 424243L, 12345L, 7L, P).as("sig"))
    val grpSig = perDoc
      .select(col("grp"), posexplode(col("sig")).as(Seq("pos", "h")))
      .groupBy("grp", "pos").agg(min(col("h")).as("h"))
    val a = grpSig.select(col("grp").as("grp_a"), col("pos"), col("h").as("ha"))
    val b = grpSig.select(col("grp").as("grp_b"), col("pos"), col("h").as("hb"))
    a.join(b, Seq("pos"))
      .filter(col("grp_a") < col("grp_b"))
      .groupBy("grp_a", "grp_b")
      .agg(round(sum(when(col("ha") === col("hb"), 1L).otherwise(0L))
        .cast("double") / numHashes, 6).as("est_jaccard"))
  }
}
