package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hash-sharded layout for the persisted index families — the piece
  * that bounds the MAINTENANCE unit at 100 TB. A single index home is
  * already cheap to SERVE at any size (every read is query-bounded)
  * and cheap to APPEND to (batch-bounded partitions), but its
  * replacement ops are not: `compact`/`rebuild` rewrite the WHOLE
  * artifact through one version commit, so their cost — and the 2×
  * retention footprint, and the blast radius of one corrupted layout —
  * scales with the corpus instead of with the churn. Sharding fixes
  * the unit of work, not the dataflow:
  *
  *   - `<home>/_graft_index_meta.properties` — the MANIFEST:
  *     `kind=sharded_index`, the child family's kind, the shard count,
  *     the routing column and router fingerprint, and the home-level
  *     `last_committed_batch` fast-skip marker;
  *   - `<home>/shard=<i>` for i ∈ [0, shards) — each a COMPLETE,
  *     self-contained index home of the child family (own version
  *     pointer, own lease, own marker, own tombstones), maintained by
  *     the family's own ops.
  *
  * Routing is `pmod(xxhash64(id), shards)` — deterministic across
  * runs and engines (Spark's xxhash64 with its fixed seed), fingerprinted
  * in the manifest so an index written under a different router can
  * never be silently mis-probed. Every document/vector lives in
  * EXACTLY one shard, so:
  *
  *   - **compaction/rebuild cost ∝ churned shards**: [[compact]] folds
  *     only the shards fragmented past a file bound — an index where
  *     churn hit 1 of 64 shards rewrites 1/64th of the bytes (the
  *     monolithic home rewrites everything, every time);
  *   - **maintenance parallelism**: shards are independent writer
  *     domains (per-shard leases) — a fleet can rebuild all shards
  *     concurrently, while the home-level ops here take the HOME lease
  *     to keep multi-shard change application single-writer;
  *   - **serving stays exact**: a sharded read is the union of
  *     per-shard query-bounded reads — same total match stream, same
  *     boards. For BM25 the global statistics fold across shards
  *     exactly ([[crossBm25TopKSharded]]): df and (N, S) are
  *     distributive over the disjoint shard partition of the corpus,
  *     so a sharded board is bit-identical to the unsharded one —
  *     shard count is an OPERATIONAL knob, never a semantics knob.
  *
  * Change application ([[applyCdc]]) routes one CDC batch to the
  * shards it touches (skipping untouched shards entirely — a sparse
  * takedown batch costs its own shards, not all S) and applies each
  * slice through [[IndexCdc]] under the batch's own id. Crash story:
  * per-shard commits are the family's marker protocol; a crash
  * mid-loop leaves a PREFIX of shards at `batchId` (readers see a
  * cross-shard torn batch — each shard internally consistent), the
  * home marker unbumped, and the replay walks the same deterministic
  * routing: committed shards skip, the rest apply — exactly-once per
  * shard, heal-by-replay across shards. [[IndexAudit.audit]] reports
  * per-shard health plus the cross-shard marker spread.
  *
  * Batched-only by design: the synchronous (batchId = None) one-shots
  * the single homes offer are the SMALL-index convenience; a sharded
  * home is the at-scale form, where every change must be replayable. */
object ShardedIndex {

  private[graft] val Kind = "sharded_index"
  /** Router fingerprint persisted in the manifest — an index routed
    * under anything else must refuse at open, or probes would silently
    * miss the shard that actually holds an id. The `long` notes the id
    * NORMALIZATION inside [[shardOf]]: xxhash64 hashes INT 5 and
    * BIGINT 5 to different values, so the routing convention includes
    * the cast — and is fingerprinted so a home routed without it can
    * never be silently mis-probed. */
  private[graft] val Router = "xxhash64(long,seed=42):pmod"

  /** The child families this layout can shard: anything [[IndexCdc]]
    * can route a change batch to. */
  private val cdcKinds = Set(Bm25Index.Kind, Dedup.MinhashIndexKind,
    SimJoin.PrefixIndexKind, Similarity.IvfIndexKind,
    Similarity.EmbeddingIndexKind)

  /** The shard an id routes to — one deterministic integer in
    * [0, shards). The id is normalized to LONG before hashing:
    * xxhash64 is type-sensitive (INT 5 and BIGINT 5 hash differently),
    * so a CDC feed whose id column arrives as INT against an index
    * built from BIGINT ids would otherwise silently route to the wrong
    * shard — deletes missing, ids duplicating across shards — with
    * nothing at open to catch it. The cast pins the one convention
    * every id-typed caller already nets to (`IndexCdc.emptyInserts`/
    * `IndexCdc.emptyDeletes` and the family tombstone writers all cast to
    * long), and [[Router]] fingerprints it. */
  def shardOf(id: Column, shards: Int): Column =
    pmod(xxhash64(id.cast("long")), lit(shards.toLong)).cast("int")

  /** The home directory of shard `i`. */
  def shardDir(home: String, i: Int): String = s"$home/shard=$i"

  private def shardDirs(home: String, m: Map[String, String]): Seq[String] =
    (0 until m("shards").toInt).map(shardDir(home, _))

  /** The manifest at `home`, validated. */
  private[graft] def manifest(spark: SparkSession,
                              home: String): Map[String, String] = {
    val m = Dedup.readMeta(spark, home)
    require(m.get("kind").contains(Kind),
      s"$home is not a sharded index (kind=${m.getOrElse("kind", "<absent>")})")
    require(m.get("router").contains(Router),
      s"sharded index at $home was routed by '${m.getOrElse("router", "?")}'" +
        s" but this engine probes with '$Router' — ids would be looked " +
        "up in the wrong shard; rebuild with this engine's writer")
    require(m.contains("shards") && m.contains("child_kind"), {
      s"sharded-index manifest at $home is missing shards/child_kind"
    })
    m
  }

  /** Name prefix of the staging trees [[stageRouted]] writes at a
    * home. Neither it nor the partition column may start with `_` or
    * `.`: Spark's hidden-path filter would flag the staging root on
    * every read-back and drop the partition directories. */
  private[graft] val StagingPrefix = "staging-"

  /** Stages `df` into `<home>/staging-<tag>` partitioned by the shard
    * column, so the per-shard loop reads partition-PRUNED slices of one
    * materialized pass instead of rescanning the input S times. An empty
    * input (e.g. an insert-only batch's delete side) stages nothing.
    * Returns (per-shard reader, shards actually present, cleanup). */
  private def stageRouted(df: DataFrame, home: String, shards: Int,
                          idCol: String, tag: String)
      : (Int => DataFrame, Seq[Int], () => Unit) = {
    // a statically empty side (an append's deletes, a delete's inserts)
    // touches no shard: nothing to stage
    if (Dedup.staticallyEmpty(df)) return (_ => df, Seq.empty, () => ())
    val spark = df.sparkSession
    val dir = s"$home/$StagingPrefix$tag"
    // ONE pass over the input: the routed write itself. The old shape
    // spent two more Spark jobs per call — an isEmpty probe before the
    // write and a distinct().collect() after it to learn which shards
    // are present — but the partitioned layout already encodes
    // presence in its g_shard=<i> directory names, a driver-side
    // listing (an empty input writes only _SUCCESS, so the same
    // listing answers the isEmpty question too).
    df.withColumn("g_shard", shardOf(col(idCol), shards))
      .write.mode("overwrite").partitionBy("g_shard").parquet(dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val present = fs.listStatus(p).iterator
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("g_shard="))
      .flatMap(_.stripPrefix("g_shard=").toIntOption)
      .toSeq.sorted
    // EXPLICIT schema, never Dedup.readPq: staging dirs are deleted
    // and re-created at this same path with whatever columns the
    // caller's frame has, so a path-keyed schema memo would serve a
    // stale schema to a later write/CDC call (columns silently NULL
    // or dropped). The schema is known exactly — the caller's frame
    // plus the int partition column — so this also skips the
    // footer-inference job a bare read would run.
    val staged =
      if (present.isEmpty) df.limit(0)
        .withColumn("g_shard", lit(0).cast("int"))
      else spark.read
        .schema(df.schema.add("g_shard",
          org.apache.spark.sql.types.IntegerType))
        .parquet(dir)
    // a shard with NO staged rows gets a STATICALLY-empty slice (the
    // dir listing already proved emptiness) — the child applier's
    // empty-side fast paths (Dedup.staticallyEmpty) then skip its
    // refusal/materialization jobs, which a runtime-empty parquet
    // filter would still pay per shard on every one-sided batch
    val presentSet = present.toSet
    val emptySlice = df.limit(0)
    (i => if (presentSet(i))
        staged.filter(col("g_shard") === i).drop("g_shard")
      else emptySlice,
      present,
      () => { fs.delete(p, true); () })
  }

  /** Builds a sharded index: routes `corpus` once (one staged pass),
    * then hands each shard's slice to `writeShard` — the child
    * family's own writer, so every shard is a complete normal index
    * home. The manifest lands LAST: it is the commit point (a crashed
    * build leaves shard dirs no reader resolves; re-running write
    * replaces them through the shards' own pointer commits).
    *
    * Every shard must be non-empty: the child families refuse
    * empty-born artifacts by design, and a shard count that outruns
    * the corpus is a sizing error better caught at build than at
    * serve. Uniform hash routing makes this a non-event at any real
    * corpus/shard ratio. */
  def write(corpus: DataFrame, home: String, shards: Int,
            childKind: String, idCol: String)
           (writeShard: (DataFrame, String) => Unit): Unit = {
    require(shards > 0, s"ShardedIndex.write: shards must be > 0, got $shards")
    require(cdcKinds(childKind),
      s"ShardedIndex.write: no CDC-routable child family '$childKind'")
    val spark = corpus.sparkSession
    IndexLease.withLease(spark, home, "ShardedIndex.write") {
      val (slice, present, cleanup) =
        stageRouted(corpus, home, shards, idCol, "write")
      try {
        val missing = (0 until shards).filterNot(present.contains)
        require(missing.isEmpty,
          s"ShardedIndex.write: shard(s) ${missing.mkString(",")} of " +
            s"$shards would be empty — the corpus cannot fill this many " +
            "shards; lower the shard count")
        // disjoint shard dirs, each a complete child home under its own
        // lease — built concurrently (Par.run, guide §2.6)
        Par.run((0 until shards).map(i =>
          () => writeShard(slice(i), shardDir(home, i))))
        Dedup.writeMeta(spark, home, Map(
          "kind" -> Kind, "child_kind" -> childKind,
          "shards" -> shards.toString, "id_col" -> idCol,
          "router" -> Router))
        // re-running write in place with a SMALLER shard count must not
        // orphan the old shard=<i> dirs beyond the new count: the new
        // manifest says shards=S' so no reader resolves them, but each
        // is a full index copy silently eating space (and the audit's
        // residue check would whitelist anything matching shard=\d+).
        // The manifest is already committed, so reclaiming them here is
        // pure hygiene — a crash mid-delete leaves extra dirs the audit
        // now flags (shard_residue counts dirs ≥ the manifest count)
        dropOrphanShards(spark, home, shards)
      } finally cleanup()
    }
  }

  /** Deletes `shard=<i>` dirs with i >= `shards` — stale full-index
    * copies left by an in-place re-write at a smaller shard count. */
  private def dropOrphanShards(spark: SparkSession, home: String,
                               shards: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(home)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).iterator
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter { q =>
        val n = q.getName
        n.startsWith("shard=") &&
          n.stripPrefix("shard=").toIntOption.exists(_ >= shards)
      }
      .foreach(fs.delete(_, true))
  }

  /** [[write]] with a BM25 child per shard. */
  def writeBm25(corpus: DataFrame, home: String, shards: Int,
                id: String = "doc_id", text: String = "text"): Unit =
    write(corpus, home, shards, Bm25Index.Kind, id)(
      (df, dir) => Bm25Index.write(df, dir, id, text))

  /** [[write]] with a minhash-LSH child per shard. */
  def writeMinhash(corpus: DataFrame, home: String, shards: Int,
                   id: String = "doc_id", text: String = "text",
                   numHashes: Int = 16, bands: Int = 4): Unit =
    write(corpus, home, shards, Dedup.MinhashIndexKind, id)(
      (df, dir) => Dedup.writeMinhashIndex(df, id, text, dir,
        numHashes, bands))

  /** [[write]] with a sign-LSH embedding child per shard. `rowBits`
    * must be explicit (> 0): the single-home writer's auto-sizing
    * keys the band space off the CORPUS count, and per-shard
    * auto-sizing would cut each shard's keys in a different band
    * space — the drift [[readEmbeddingSharded]] refuses. One global
    * blocking decision, S identical key spaces. */
  def writeEmbedding(corpus: DataFrame, home: String, shards: Int,
                     bands: Int, rowBits: Int): Unit = {
    require(rowBits > 0,
      "ShardedIndex.writeEmbedding: pass an explicit rowBits — " +
        "per-shard auto-sizing would cut each shard's band keys in a " +
        "different band space (size off the GLOBAL corpus count, e.g. " +
        "Similarity.autoRowBits)")
    write(corpus, home, shards, Similarity.EmbeddingIndexKind, "vec_id")(
      (df, dir) => Similarity.writeEmbeddingIndex(df, dir, bands, rowBits))
  }

  /** [[write]] with an IVF child per shard under ONE home-level
    * quantizer: the model is trained ONCE on the full corpus
    * ([[Similarity.trainCentroids]] — exact integer k-means, so any
    * engine replays it bit-for-bit), then every shard persists the
    * SAME centroids and cuts its vec_id-routed slice's cells under
    * them ([[Similarity.writeIvfIndexWith]]). Cell membership is a
    * pure function of the quantizer, so the shard-union probe
    * ([[readIvfSharded]]) serves boards bit-identical to a monolithic
    * index at ANY shard count — the same "one global decision" rule
    * [[writeEmbedding]] enforces for rowBits. Per-shard training would
    * cut S different cell geometries whose union no single-model probe
    * (or oracle) can score; the global model keeps shard count an
    * operational knob. What sharding buys is exactly the maintenance
    * bound the family lacked: the ANN rebuild — k-means retrain + full
    * re-cut, the most expensive maintenance op in the whole index
    * family — becomes re-cut ∝ churned shards under a shared
    * model-scale retrain ([[rebuild]]). */
  def writeIvf(corpus: DataFrame, home: String, shards: Int,
               nCentroids: Int = 16, iters: Int = 5): Unit = {
    val cents = Similarity.trainCentroids(corpus, nCentroids, iters)
    write(corpus, home, shards, Similarity.IvfIndexKind, "vec_id")(
      (df, dir) => Similarity.writeIvfIndexWith(df, dir, cents,
        nCentroids, iters))
  }

  /** [[write]] with a lossless prefix-filter child per shard under ONE
    * GLOBAL df dictionary: shingle sets and document frequencies are
    * computed once over the full corpus, each shard persists its
    * doc_id-routed sets slice, a full copy of the shared dictionary
    * (vocab-bounded — the price of shard self-containedness), and its
    * prefixes cut under it ([[SimJoin.writePrefixFromSets]]). The
    * PPJoin lemma needs both sides of any probe to share one fixed
    * total order — the [[writeEmbedding]] rowBits rule again: one
    * global decision, S identical dictionaries. (Losslessness would
    * survive per-shard dictionaries — each shard's own prefixes and
    * the batch's per-shard cut would still share an order — but the
    * global dictionary lets a serve cut batch prefixes per shard from
    * ONE shingling and keeps selectivity uniform across shards.) */
  def writePrefix(corpus: DataFrame, home: String, shards: Int,
                  thrNum: Int, thrDen: Int, shingleWidth: Int = 3,
                  id: String = "doc_id", text: String = "text"): Unit = {
    require(thrNum > 0 && thrDen > 0 && thrNum <= thrDen,
      s"ShardedIndex.writePrefix: threshold must be in (0,1]: " +
        s"$thrNum/$thrDen")
    val sets = Dedup.materialize(
      Dedup.shingleHashesFlat(corpus, id, text, shingleWidth)
        .filter(size(col("hs")) > 0))
    val dfreq = Dedup.materialize(
      sets.select(col("doc_id"), explode(col("hs")).as("h"))
        .groupBy("h").agg(count(lit(1)).as("df")))
    write(sets, home, shards, SimJoin.PrefixIndexKind, "doc_id")(
      (df, dir) => SimJoin.writePrefixFromSets(df, dfreq, thrNum, thrDen,
        shingleWidth, dir))
  }

  /** One CDC change batch (inserts + deletes under a durable
    * `batchId`) routed to the shards it touches and applied through
    * each child's own [[IndexCdc]] applier. Untouched shards are
    * never opened. Replay: the home marker fast-skips a fully-applied
    * batch; a batch whose previous attempt crashed mid-loop re-routes
    * identically and each shard's own marker skips or applies —
    * exactly-once per shard. The home marker commits strictly LAST. */
  def applyCdc(spark: SparkSession, home: String, inserts: DataFrame,
               deletes: DataFrame, batchId: Long,
               id: String = "doc_id", text: String = "text"): Unit =
    IndexLease.withLease(spark, home, "ShardedIndex.applyCdc") {
      val m = manifest(spark, home)
      if (batchId <= Dedup.lastCommittedBatch(m)) return
      val childKind = m("child_kind")
      val shards = m("shards").toInt
      val rid = IndexCdc.idColOf(childKind, id)
      val (insSlice, insShards, cleanI) =
        stageRouted(inserts, home, shards, rid, s"ins_$batchId")
      val (delSlice, delShards, cleanD) =
        stageRouted(deletes, home, shards, rid, s"del_$batchId")
      try {
        // per-shard batch application is independent (disjoint dirs,
        // per-shard markers) — concurrent (Par.run); a crash mid-wave
        // leaves the same partially-applied-but-replayable state the
        // sequential loop could (home marker lands only after ALL)
        Par.run((insShards ++ delShards).distinct.sorted.map { i =>
          () => IndexCdc.apply(spark, shardDir(home, i), insSlice(i),
            delSlice(i), batchId, id, text)
        })
        Dedup.writeMeta(spark, home,
          m + ("last_committed_batch" -> batchId.toString))
      } finally { cleanI(); cleanD() }
    }

  /** Insert-only [[applyCdc]]. */
  def append(spark: SparkSession, home: String, newRows: DataFrame,
             batchId: Long, id: String = "doc_id",
             text: String = "text"): Unit =
    applyCdc(spark, home, newRows,
      IndexCdc.emptyDeletes(spark, manifest(spark, home)("child_kind"), id),
      batchId, id, text)

  /** Takedown-only [[applyCdc]]. */
  def delete(spark: SparkSession, home: String, tombstones: DataFrame,
             batchId: Long, id: String = "doc_id",
             text: String = "text"): Unit = {
    val m = manifest(spark, home)
    applyCdc(spark, home,
      IndexCdc.emptyInserts(spark, m("child_kind"), id, text),
      tombstones, batchId, id, text)
  }

  /** Data-file count across a shard's core tables — the fragmentation
    * measure [[compact]] selects on (listing cost only). */
  private def shardFiles(spark: SparkSession, dir: String,
                         childKind: String): Long = {
    val root = Dedup.indexRoot(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (IndexAudit.layout(childKind) :+ "tomb").map { t =>
      val p = new org.apache.hadoop.fs.Path(s"$root/$t")
      if (fs.exists(p)) IndexAudit.countParquetFiles(fs, p) else 0L
    }.sum
  }

  /** SELECTIVE compaction — the op sharding exists for: folds only the
    * shards whose data-file count exceeds `minFiles` (0 = every
    * shard), through each child family's own row-preserving compact.
    * Cost ∝ the churned shards' bytes; an untouched shard's version
    * pointer never moves. Returns the shard ids compacted. */
  def compact(spark: SparkSession, home: String, targetFiles: Int = 4,
              minFiles: Long = 0L): Seq[Int] =
    IndexLease.withLease(spark, home, "ShardedIndex.compact") {
      val m = manifest(spark, home)
      val childKind = m("child_kind")
      val picked = (0 until m("shards").toInt).filter { i =>
        minFiles <= 0L ||
          shardFiles(spark, shardDir(home, i), childKind) > minFiles
      }
      // selected shards compact concurrently (Par.run — disjoint dirs,
      // per-shard pointer commits); returned ids unchanged
      Par.run(picked.map(i =>
        () => IndexCdc.compact(spark, shardDir(home, i), targetFiles)))
      picked
    }

  /** Per-shard rebuild — the deep-hygiene twin of [[compact]]: every
    * shard's tombstoned rows are removed physically, batch partitions
    * fold into the base, and the shard commits its own new version
    * (untouched READERS keep their snapshots, as ever). The loop here
    * is sequential; at deployment scale each shard's rebuild is an
    * independent leased job — fan the shard list across a fleet for
    * the S-way speedup that is the layout's point. An all-deleted
    * shard is left as-is (its child rebuild refuses on an empty live
    * set; the masked shard serves empty boards correctly — physical
    * reclamation of a fully-dead shard is a re-shard/rewrite
    * decision). Returns the shard ids rebuilt. */
  def rebuild(spark: SparkSession, home: String): Seq[Int] =
    IndexLease.withLease(spark, home, "ShardedIndex.rebuild") {
      val m = manifest(spark, home)
      if (m("child_kind") == Similarity.IvfIndexKind)
        rebuildIvfShards(spark, home, m)
      else
        // per-shard rebuilds run concurrently (Par.run) — the local
        // form of the fleet fan-out the doc above describes
        Par.run((0 until m("shards").toInt).map { i => () =>
          val dir = shardDir(home, i)
          if (IndexCdc.liveIds(spark, dir).isEmpty) None
          else { IndexCdc.rebuild(spark, dir); Some(i) }
        }).flatten
    }

  /** [[Dedup.pruneVersions]] across every shard — the compliance
    * retention pass at the sharded layout: each shard prunes under its
    * OWN writer lease (fleet-parallelizable like every per-shard op),
    * and only shards that have re-versioned since the takedown hold
    * anything to prune — untouched shards keep their single serving
    * version and the pass skips them for free. */
  def pruneVersions(spark: SparkSession, home: String,
                    keep: Int = 1): Unit = {
    val m = manifest(spark, home)
    shardDirs(home, m).foreach { d =>
      if (Dedup.listVersions(spark, d).size > keep)
        Dedup.pruneVersions(spark, d, keep)
    }
  }

  /** IVF shards rebuild under ONE retrained model: dispatching
    * per-shard `rebuildIvfIndex` (the generic path) would retrain S
    * independent quantizers — S cell geometries whose union no
    * single-model probe can score, the drift [[readIvfSharded]]
    * refuses — so the sharded rebuild keeps the retrain a HOME-level
    * decision: train once on the union of live vectors, then re-cut
    * each live shard under the shared model
    * ([[Similarity.rebuildIvfIndexWith]] — markers preserved). The
    * cross-shard part is ONLY the train (iters narrow scans netting to
    * a driver-side nCentroids×dim model); the re-cuts stay
    * shard-bounded and fleet-parallelizable, which is the sharding
    * payoff for the family's most expensive maintenance op.
    * Hyperparameters come from the shards' own stored metadata, no
    * defaults (the [[IndexCdc.rebuild]] contract), pinned equal. */
  private def rebuildIvfShards(spark: SparkSession, home: String,
                               m: Map[String, String]): Seq[Int] = {
    val liveShards = (0 until m("shards").toInt).filter(i =>
      !IndexCdc.liveIds(spark, shardDir(home, i)).isEmpty)
    if (liveShards.isEmpty) return Seq.empty
    val params = liveShards.map { i =>
      val sm = Dedup.readMeta(spark,
        Dedup.indexRoot(spark, shardDir(home, i)))
      (sm.get("nCentroids").map(_.toInt), sm.get("iters").map(_.toInt))
    }.distinct
    require(params.sizeIs == 1,
      s"ShardedIndex.rebuild: drifting per-shard (nCentroids, iters) " +
        s"$params at $home — shards were maintained by different " +
        "writers; pick one parameterization and rebuild explicitly")
    val (ncOpt, itOpt) = params.head
    def req(v: Option[Int], key: String): Int = v.getOrElse(
      throw new IllegalArgumentException(
        s"ShardedIndex.rebuild: IVF shard metadata at $home has no " +
          s"'$key' — the writer always persists it; the artifact is " +
          "torn or foreign-edited, and rebuilding at a default would " +
          "silently change the quantizer"))
    val (nc, it) = (req(ncOpt, "nCentroids"), req(itOpt, "iters"))
    // one global retrain from the live union — materialized because
    // k-means scans it iters+1 times
    val (cc, release) = Dedup.materializeTracked(
      liveShards.map(i =>
          Similarity.readIvfIndex(spark, shardDir(home, i)).assigned
            .select(col("vec_id"), col("v").as("embedding")))
        .reduce(_.unionByName(_)))
    try {
      val cents = Similarity.trainCentroids(cc, nc, it)
      // shard re-cuts under the ONE shared model run concurrently
      // (Par.run) — the fleet-parallelizable leg the doc describes
      Par.run(liveShards.map(i =>
        () => Similarity.rebuildIvfIndexWith(spark, shardDir(home, i),
          cents, nc, it)))
    } finally release()
    liveShards
  }

  /** Revise the SIZING decision: build a `newShards`-way home at
    * `newHome` from the LIVE rows of the index at `oldHome` — which
    * may be a sharded home (re-shard: S was chosen too small and
    * shards outgrew the maintenance window) or a monolithic home
    * (first sharding of an index that grew past one rewrite unit).
    * The original corpus is NOT needed:
    *
    *   - BM25 rebuilds each new shard from its live-postings slice
    *     (df/(N, S) re-derive per slice, exact by distributivity);
    *   - minhash routes the stored bands/sets rows (signatures are
    *     per-document deterministic under the stored parameters);
    *   - sign-LSH re-keys the stored vectors under the stored
    *     (bands, rowBits) — the same global blocking, S' key spaces;
    *   - IVF routes the stored vectors and re-cuts each new shard
    *     under the OLD home's (shared, unchanged) quantizer — cell
    *     membership is a pure function of the model, so boards are
    *     untouched by the move;
    *   - prefix routes the stored live sets and re-derives ONE global
    *     dictionary from them (a rebuild-quality resize: the df order
    *     regains the pruning power appends eroded; recall is
    *     order-invariant, so the refresh cannot change any result).
    *
    * The old home's read-only-ness is ENFORCED, not just documented:
    * reshard holds the OLD home's writer lease for the whole read+build
    * — a CDC batch applied mid-reshard would otherwise be silently
    * absent from the new home at cut-over, so a concurrent writer now
    * refuses loudly, naming this resharder (and symmetrically, reshard
    * refuses to start while a writer holds the old home). Readers take
    * no lease ever, so the old home KEEPS SERVING throughout; cut-over
    * is the caller's pointer/path swap, and the old home's directory
    * can be deleted after. Boards from the new home are bit-identical
    * to the old one's — shard count stays an operational knob through
    * the resize. */
  def reshard(spark: SparkSession, oldHome: String, newHome: String,
              newShards: Int): Unit = {
    require(oldHome != newHome,
      "ShardedIndex.reshard builds a NEW home beside the old one " +
        "(the old home keeps serving until the caller cuts over) — " +
        "pass a different newHome")
    IndexLease.withLease(spark, oldHome, "ShardedIndex.reshard") {
    val meta = Dedup.readMeta(spark, Dedup.indexRoot(spark, oldHome))
    val (childKind, olds) = meta.getOrElse("kind", "<absent>") match {
      case Kind =>
        val m = manifest(spark, oldHome)
        (m("child_kind"), shardDirs(oldHome, m))
      case k => (k, Seq(oldHome))
    }
    childKind match {
      case Bm25Index.Kind =>
        val post = olds.map(Bm25Index.livePostings(spark, _))
          .reduce(_.unionByName(_))
        write(post, newHome, newShards, Bm25Index.Kind, "doc_id")(
          (df, dir) => Bm25Index.writeFromPostings(df, dir))
      case Similarity.EmbeddingIndexKind =>
        val idxs = olds.map(Similarity.readEmbeddingIndex(spark, _))
        val params = idxs.map(i => (i.nBands, i.rowBits)).distinct
        require(params.size == 1,
          s"reshard: drifting per-shard (bands, rowBits) $params at " +
            s"$oldHome; rebuild under one blocking first")
        val vectors = idxs.map(_.vectors).reduce(_.unionByName(_))
        write(vectors, newHome, newShards,
          Similarity.EmbeddingIndexKind, "vec_id")(
          (df, dir) => Similarity.writeEmbeddingIndex(df, dir,
            params.head._1, params.head._2))
      case Dedup.MinhashIndexKind =>
        val idxs = olds.map(Dedup.readMinhashIndex(spark, _))
        val params = idxs.map(i => (i.numHashes, i.nBands)).distinct
        require(params.size == 1,
          s"reshard: drifting per-shard (numHashes, bands) $params at " +
            s"$oldHome; rebuild under one family first")
        val bands = idxs.map(_.bands).reduce(_.unionByName(_))
        val sets = idxs.map(_.sets).reduce(_.unionByName(_))
        // two coupled tables: route both by the SAME key, then write
        // each shard from its slices (the generic write routes one
        // frame, so this family loops directly)
        IndexLease.withLease(spark, newHome, "ShardedIndex.reshard") {
          val (bSlice, _, cleanB) =
            stageRouted(bands, newHome, newShards, "doc_id", "rs_bands")
          val (sSlice, present, cleanS) =
            stageRouted(sets, newHome, newShards, "doc_id", "rs_sets")
          try {
            val missing = (0 until newShards).filterNot(present.contains)
            require(missing.isEmpty,
              s"reshard: shard(s) ${missing.mkString(",")} of " +
                s"$newShards would be empty — lower the shard count")
            // disjoint new-shard dirs — built concurrently (Par.run)
            Par.run((0 until newShards).map(i =>
              () => Dedup.writeMinhashFromTables(bSlice(i), sSlice(i),
                params.head._1, params.head._2, shardDir(newHome, i))))
            Dedup.writeMeta(spark, newHome, Map(
              "kind" -> Kind, "child_kind" -> Dedup.MinhashIndexKind,
              "shards" -> newShards.toString, "id_col" -> "doc_id",
              "router" -> Router))
          } finally { cleanB(); cleanS() }
        }
      case Similarity.IvfIndexKind =>
        val idxs = olds.map(Similarity.readIvfIndex(spark, _))
        val models = idxs.map(_.cents.map { case (c, v) => (c, v.toSeq) })
          .distinct
        require(models.sizeIs == 1,
          s"reshard: drifting per-shard quantizers at $oldHome — cell " +
            "geometry differs between shards; rebuild the home under " +
            "one model first (ShardedIndex.rebuild)")
        val hp = olds.map { o =>
          val sm = Dedup.readMeta(spark, Dedup.indexRoot(spark, o))
          (sm.get("nCentroids").map(_.toInt), sm.get("iters").map(_.toInt))
        }.distinct
        require(hp.sizeIs == 1 && hp.head._1.isDefined && hp.head._2.isDefined,
          s"reshard: inconsistent or missing (nCentroids, iters) $hp at " +
            s"$oldHome — the writer always persists both; the artifact " +
            "is torn or was maintained by different writers")
        // the quantizer MOVES UNCHANGED: assignment is a pure function
        // of the model, so re-cutting routed slices under it preserves
        // every cell — and every board — bit for bit
        val vectors = idxs.map(_.assigned
            .select(col("vec_id"), col("v").as("embedding")))
          .reduce(_.unionByName(_))
        write(vectors, newHome, newShards, Similarity.IvfIndexKind,
          "vec_id")(
          (df, dir) => Similarity.writeIvfIndexWith(df, dir,
            idxs.head.cents, hp.head._1.get, hp.head._2.get))
      case SimJoin.PrefixIndexKind =>
        val params = olds.map(SimJoin.prefixParams(spark, _)).distinct
        require(params.sizeIs == 1,
          s"reshard: drifting per-shard (num, den, width) $params at " +
            s"$oldHome — shards were maintained by different writers; " +
            "rebuild under one parameterization first")
        val (num, den, w) = params.head
        // rebuild-quality resize: ONE dictionary re-derived from the
        // live union (stale-df pruning debt cleared for free; recall is
        // order-invariant so no result can change), every new shard cut
        // under it. Materialized: the df fold and the staged routing
        // both consume the union.
        val (sets, release) = Dedup.materializeTracked(
          olds.map(SimJoin.liveSets(spark, _)).reduce(_.unionByName(_)))
        try {
          val dfreq = Dedup.materialize(
            sets.select(col("doc_id"), explode(col("hs")).as("h"))
              .groupBy("h").agg(count(lit(1)).as("df")))
          write(sets, newHome, newShards, SimJoin.PrefixIndexKind,
            "doc_id")(
            (df, dir) => SimJoin.writePrefixFromSets(df, dfreq, num, den,
              w, dir))
        } finally release()
      case other => throw new IllegalArgumentException(
        s"ShardedIndex.reshard: no live-row rewriter for child family " +
          s"'$other' — supported: bm25_index, minhash-v2, signlsh-v2, " +
          "ivf_index, prefix_index")
    }
    }
  }

  /** Serve a query batch from a sharded BM25 index — bit-identical to
    * [[Bm25Index.crossBm25TopK]] over one home holding the same live
    * corpus, at ANY shard count: both are [[Bm25Index.serve]], over the
    * shard directories here and over `Seq(dir)` there (the exactness
    * argument and the cost shape are documented there). A drained
    * shard contributes (0, 0); only the global total is refused. */
  def crossBm25TopKSharded(spark: SparkSession, queries: DataFrame,
                           home: String, k: Int = 5,
                           qid: String = "query_id",
                           qtext: String = "query_text",
                           maxDfFrac: Double = 1.0): DataFrame =
    Bm25Index.serve(spark, queries, home, bm25Shards(spark, home),
      "sharded BM25 index", "crossBm25TopKSharded", k, qid, qtext,
      maxDfFrac, None)

  /** Metadata-filtered serve over a SHARDED BM25 home — the filter ×
    * layout cell: [[Bm25Index.crossBm25TopKFiltered]]'s contract
    * (ids-only `allowed` key set, typed [[Bm25Index.FilterScope]]
    * statistics knob, pre-filter semantics) through the same
    * [[Bm25Index.serve]] over the shard directories. Shard routing
    * partitions docs disjointly, so the union of per-shard live
    * postings IS the monolithic home's live postings — both scopes
    * serve BIT-IDENTICALLY to the monolithic filtered serve over the
    * same content (the law in `ShardedIndexSpec`). */
  def crossBm25TopKShardedFiltered(spark: SparkSession, queries: DataFrame,
                                   home: String, allowed: DataFrame,
                                   k: Int = 5, qid: String = "query_id",
                                   qtext: String = "query_text",
                                   maxDfFrac: Double = 1.0,
                                   scope: Bm25Index.FilterScope =
                                     Bm25Index.FilteredStats): DataFrame =
    Bm25Index.serve(spark, queries, home, bm25Shards(spark, home),
      "sharded BM25 index", "crossBm25TopKShardedFiltered", k, qid, qtext,
      maxDfFrac, Some((allowed, scope)))

  /** The shard directories of a sharded BM25 home, refusing any other
    * child family. */
  private def bm25Shards(spark: SparkSession, home: String): Seq[String] = {
    val m = manifest(spark, home)
    require(m("child_kind") == Bm25Index.Kind,
      s"sharded index at $home holds ${m("child_kind")}, not BM25")
    shardDirs(home, m)
  }

  /** Open a sharded minhash index as ONE [[Dedup.MinhashIndex]] handle:
    * bands/sets are the lazy union of the per-shard live views (each
    * already tombstone-masked at its own choke point), parameters
    * pinned equal across shards — so every existing consumer
    * ([[Dedup.crossMinhashPairs]], the ingestion loop) works on a
    * sharded home unchanged. Band-bucket candidate generation is
    * unaffected by WHERE a doc's rows live: the bucket join sees the
    * union, exactly as unsharded. */
  def readMinhashSharded(spark: SparkSession,
                         home: String): Dedup.MinhashIndex = {
    val m = manifest(spark, home)
    require(m("child_kind") == Dedup.MinhashIndexKind,
      s"sharded index at $home holds ${m("child_kind")}, not minhash")
    val idxs = shardDirs(home, m).map(Dedup.readMinhashIndex(spark, _))
    val params = idxs.map(i => (i.numHashes, i.nBands)).distinct
    require(params.size == 1,
      s"sharded minhash at $home has drifting per-shard parameters " +
        s"$params — shards were maintained by different writers; rebuild")
    Dedup.MinhashIndex(
      idxs.map(_.bands).reduce(_.unionByName(_)),
      idxs.map(_.sets).reduce(_.unionByName(_)),
      params.head._1, params.head._2)
  }

  /** [[readMinhashSharded]] for the sign-LSH embedding family: the
    * shard union IS an [[Similarity.EmbeddingIndex]] — band keys are
    * per-vector deterministic under (bands, rowBits), so candidate
    * generation and the occupancy guard see exactly the monolithic
    * index's frame. Per-shard blocking drift (possible only through a
    * foreign writer — [[writeEmbedding]] forces one global rowBits)
    * refuses: keys cut in different band spaces never equality-join. */
  def readEmbeddingSharded(spark: SparkSession,
                           home: String): Similarity.EmbeddingIndex = {
    val m = manifest(spark, home)
    require(m("child_kind") == Similarity.EmbeddingIndexKind,
      s"sharded index at $home holds ${m("child_kind")}, not sign-LSH")
    val idxs = shardDirs(home, m).map(Similarity.readEmbeddingIndex(spark, _))
    val params = idxs.map(i => (i.nBands, i.rowBits)).distinct
    require(params.size == 1,
      s"sharded embedding index at $home has drifting per-shard " +
        s"(bands, rowBits) $params — band keys live in different band " +
        "spaces and can never match; rebuild all shards under one " +
        "blocking")
    Similarity.EmbeddingIndex(
      idxs.map(_.bands).reduce(_.unionByName(_)),
      idxs.map(_.vectors).reduce(_.unionByName(_)),
      params.head._1, params.head._2)
  }

  /** Open a sharded IVF home as ONE [[Similarity.IvfIndex]] handle:
    * the shared quantizer (pinned bit-identical across shards — floats
    * round-trip parquet exactly, so equality is exact, not
    * approximate) plus the lazy union of the per-shard live `assigned`
    * views. Cell membership is a pure function of the quantizer, so
    * the union IS the monolithic index frame and every existing
    * consumer — [[Similarity.ivfTopKIndexed]]'s cell-pruned probe,
    * [[Similarity.ivfTopKQuantized]]'s codes-column serving — works on
    * a sharded home unchanged, boards bit-identical at any shard
    * count. Per-shard model drift (possible only through a foreign
    * writer — [[writeIvf]]/[[rebuild]]/[[reshard]] all force one
    * shared model) refuses: a cell-key probe is meaningless across two
    * different cell geometries. */
  def readIvfSharded(spark: SparkSession,
                     home: String): Similarity.IvfIndex = {
    val m = manifest(spark, home)
    require(m("child_kind") == Similarity.IvfIndexKind,
      s"sharded index at $home holds ${m("child_kind")}, not IVF")
    val idxs = shardDirs(home, m).map(Similarity.readIvfIndex(spark, _))
    val models = idxs.map(_.cents.map { case (c, v) => (c, v.toSeq) })
      .distinct
    require(models.sizeIs == 1,
      s"sharded IVF at $home has drifting per-shard quantizers — the " +
        "shards' cells live in different geometries and a cell-key " +
        "probe cannot span them; rebuild the HOME " +
        "(ShardedIndex.rebuild retrains ONE model and re-cuts every " +
        "shard under it)")
    Similarity.IvfIndex(idxs.head.cents,
      idxs.map(_.assigned).reduce(_.unionByName(_)))
  }

  /** EXACT bipartite similarity join of an incoming batch against a
    * sharded prefix home — [[SimJoin.crossPrefixJoin]] at any shard
    * count: the batch is shingled ONCE, then each shard runs the
    * standard lossless probe through [[SimJoin.crossPrefixJoinSets]]
    * (prefixes cut under THAT shard's stored dictionary — always the
    * order its own prefixes were cut under, so the PPJoin lemma holds
    * per shard and hence for the union; [[writePrefix]] makes the
    * dictionaries identical, per-shard rebuilds may refresh them
    * independently without costing recall). The S result frames union
    * LAZILY — one job, not S — and the shards partition the corpus
    * disjointly, so the union carries no duplicate (new, matched)
    * pairs and equals the monolithic join bit for bit. Per-shard cost
    * is batch-bounded (the batch's prefix cut) plus the query-bounded
    * candidate/verify joins against that shard's slice. */
  def crossPrefixJoinSharded(spark: SparkSession, newDocs: DataFrame,
                             home: String, id: String = "doc_id",
                             text: String = "text"): DataFrame = {
    val m = manifest(spark, home)
    require(m("child_kind") == SimJoin.PrefixIndexKind,
      s"sharded index at $home holds ${m("child_kind")}, not prefix")
    val dirs = shardDirs(home, m)
    // one shingling serves all shards — width pinned equal (threshold
    // may in principle drift per shard without breaking losslessness,
    // but the shingle width changes the SETS, which must match the
    // stored verify sides)
    val ws = dirs.map(SimJoin.prefixParams(spark, _)._3).distinct
    require(ws.sizeIs == 1,
      s"sharded prefix home at $home has drifting per-shard shingle " +
        s"widths $ws — batch sets cut at one width cannot verify " +
        "against sets stored at another; rebuild under one width")
    val newSets = Dedup.materialize(
      Dedup.shingleHashesFlat(newDocs, id, text, ws.head)
        .filter(size(col("hs")) > 0))
    dirs.map(SimJoin.crossPrefixJoinSets(spark, newSets, _))
      .reduce(_.unionByName(_))
  }
}
