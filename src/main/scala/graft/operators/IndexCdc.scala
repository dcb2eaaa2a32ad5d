package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType,
  StringType, StructField, StructType}

/** One façade over the five per-family CDC appliers. All five persisted
  * index families (BM25, IVF, embedding-LSH, minhash-LSH, prefix) share
  * the same change-stream contract — one marker bump per batch,
  * deletes-apply-first within a batch (delete+insert of one id is an
  * UPDATE: the new image serves, the old one falls under its shadow
  * tombstone — `Dedup.ShadowCol`), re-inserts of previously deleted ids
  * serving without a rebuild, committed counts netting to the live row
  * set, and replayed batchIds skipping. Each family has ONE in-place
  * commit body — its CDC applier, with `batchId = None` as the
  * synchronous path — and its `append`/`delete` entry points are that
  * body with one side statically empty ([[emptyInserts]] /
  * [[emptyDeletes]]), which writes nothing. The façade makes the
  * contract a single call site:
  * it reads the index's own `kind` metadata and dispatches, so a CDC
  * feed (or a composite pipeline fanning one change stream into several
  * indexes) never hard-codes family-specific entry points, and the
  * cross-family contract law in `IndexCdcSpec` pins all five
  * behaviours to stay aligned as they evolve.
  *
  * Column contract, by family:
  *   - document families (`bm25_index`, `minhash-v2`, `prefix_index`):
  *     `inserts` carries (`id`, `text`); `deletes` carries `id`;
  *   - vector families (`ivf_index`, `signlsh-v2`): `inserts` carries
  *     (`vec_id`, `embedding`); `deletes` carries `vec_id`; the
  *     `id`/`text` names are ignored.
  *
  * Same single-writer lease, replay, and tombstone semantics as the
  * family methods — this is routing, not a sixth implementation. */
object IndexCdc {

  /** The vector families: their batches key on `vec_id` and carry an
    * `embedding`, whatever the caller's document-id name is. */
  private[graft] val VectorKinds = Set(Similarity.IvfIndexKind,
    Similarity.EmbeddingIndexKind)

  /** The id column a `kind` family's batches key on. */
  private[graft] def idColOf(kind: String, id: String): String =
    if (VectorKinds(kind)) "vec_id" else id

  private def emptyFrame(spark: SparkSession,
                         fields: Seq[(String, DataType)]): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](),
      StructType(fields.map { case (n, t) => StructField(n, t) }))

  /** A zero-row insert side of a `kind` family's batch — what a delete
    * passes to its family's CDC body. A local relation, so
    * `Dedup.staticallyEmpty` sees it and the body skips every insert
    * job (refusal, materialization, table writes). Its columns are
    * attributes, never literals: Catalyst's ConstantFolding would
    * evaluate the IVF appliers' dimension-checked expressions on a
    * foldable 0-dim literal array at plan time. */
  private[graft] def emptyInserts(spark: SparkSession, kind: String,
                                  id: String, text: String): DataFrame =
    if (VectorKinds(kind))
      emptyFrame(spark, Seq("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType)))
    else emptyFrame(spark, Seq(id -> LongType, text -> StringType))

  /** A zero-row delete side of a `kind` family's batch — what an append
    * passes to its family's CDC body (see [[emptyInserts]]). */
  private[graft] def emptyDeletes(spark: SparkSession, kind: String,
                                  id: String): DataFrame =
    emptyFrame(spark, Seq(idColOf(kind, id) -> LongType))

  /** Splits an op-column change frame into (inserts, deletes): rows
    * with `opCol = "insert"` are the inserts (an update's new image
    * included), `"delete"` the tombstones; any other value refuses
    * loudly, naming `who`. NULL ops are checked explicitly — under
    * three-valued logic a NULL makes `!isin(...)` NULL, which a bare
    * filter would drop, and the malformed row would vanish SILENTLY.
    * The one splitter of [[applyOps]] and the `StreamOps` CDC streams. */
  private[graft] def splitOps(changes: DataFrame, opCol: String,
                              who: String): (DataFrame, DataFrame) = {
    val unknown = changes.filter(col(opCol).isNull ||
        !col(opCol).isin("insert", "delete"))
      .limit(1).collect()
    require(unknown.isEmpty,
      s"$who: unknown $opCol value " +
        s"'${unknown.headOption.map(_.getAs[Any](opCol)).getOrElse("")}'" +
        " — expected insert|delete")
    (changes.filter(col(opCol) === "insert"),
      changes.filter(col(opCol) === "delete"))
  }

  private def kindOf(spark: SparkSession, dir: String): String = {
    val meta = Dedup.readMeta(spark, Dedup.indexRoot(spark, dir))
    meta.getOrElse("kind", throw new IllegalArgumentException(
      s"IndexCdc: no index kind in metadata at $dir — not a graft index"))
  }

  /** Applies one CDC batch (`inserts` + `deletes`, durable `batchId`)
    * to the index at `dir`, whatever its family. */
  def apply(spark: SparkSession, dir: String, inserts: DataFrame,
            deletes: DataFrame, batchId: Long,
            id: String = "doc_id", text: String = "text"): Unit =
    kindOf(spark, dir) match {
      case Bm25Index.Kind =>
        Bm25Index.applyCdc(spark, dir, inserts, deletes, batchId, id, text)
      case Dedup.MinhashIndexKind =>
        Dedup.applyMinhashCdc(spark, dir, inserts, deletes, batchId, id, text)
      case SimJoin.PrefixIndexKind =>
        SimJoin.applyPrefixCdc(spark, dir, inserts, deletes, batchId, id, text)
      case Similarity.IvfIndexKind =>
        Similarity.applyIvfCdc(spark, dir, inserts, deletes, batchId)
      case Similarity.EmbeddingIndexKind =>
        Similarity.applyEmbeddingCdc(spark, dir, inserts, deletes, batchId)
      // a sharded home routes the batch to its shards and recurses
      // through this same façade per shard — a CDC feed targets a
      // monolithic or sharded home through ONE entry point
      case ShardedIndex.Kind =>
        ShardedIndex.applyCdc(spark, dir, inserts, deletes, batchId, id, text)
      case other => throw new IllegalArgumentException(
        s"IndexCdc: index at $dir has kind '$other', which has no CDC " +
          "applier — supported: bm25_index, minhash-v2, prefix_index, " +
          "ivf_index, signlsh-v2, sharded_index")
    }

  /** [[apply]] for an op-column change batch, for BATCH callers
    * replaying a changelog — split by [[splitOps]], the splitter the
    * CDC streams use. Deletes-apply-first semantics, so a changelog
    * that encodes an update as delete+insert of one id lands as an
    * update. */
  def applyOps(spark: SparkSession, dir: String, changes: DataFrame,
               batchId: Long, opCol: String = "op",
               id: String = "doc_id", text: String = "text"): Unit = {
    val (inserts, deletes) = splitOps(changes, opCol, "IndexCdc.applyOps")
    apply(spark, dir, inserts.drop(opCol), deletes.drop(opCol),
      batchId, id, text)
  }

  /** Folds the per-batch partitions a CDC stream accretes back into
    * `targetFiles` files per table, whatever the family — rows (and
    * served results) preserved exactly. */
  def compact(spark: SparkSession, dir: String, targetFiles: Int = 4): Unit =
    kindOf(spark, dir) match {
      case Bm25Index.Kind => Bm25Index.compact(spark, dir, targetFiles)
      case Dedup.MinhashIndexKind =>
        Dedup.compactMinhashIndex(spark, dir, targetFiles)
      case SimJoin.PrefixIndexKind =>
        SimJoin.compactPrefixIndex(spark, dir, targetFiles)
      case Similarity.IvfIndexKind => Similarity.compactIvfIndex(spark, dir)
      case Similarity.EmbeddingIndexKind =>
        Similarity.compactEmbeddingIndex(spark, dir, targetFiles)
      case ShardedIndex.Kind =>
        ShardedIndex.compact(spark, dir, targetFiles); ()
      case other => throw new IllegalArgumentException(
        s"IndexCdc: index at $dir has kind '$other', which has no " +
          "compaction")
    }

  /** Whole-artifact rebuild, whatever the family — physical removal of
    * tombstoned rows, per-batch partitions folded into the base, the
    * tombstone table dropped, committed through each family's own
    * version-pointer swap. Parameters come FROM the stored metadata
    * (the quantizer size, blocking, hash family the artifact was built
    * under), so the façade can never silently re-cut an index to
    * different semantics — re-parameterizing is the family entry
    * points' explicit job. On a sharded home, rebuilds every shard:
    * the unit is the shard, and the shards are independent writer
    * domains, so a deployment fans this loop out across a fleet. */
  def rebuild(spark: SparkSession, dir: String): Unit =
    kindOf(spark, dir) match {
      case Bm25Index.Kind => Bm25Index.rebuild(spark, dir)
      case Dedup.MinhashIndexKind => Dedup.rebuildMinhashIndex(spark, dir)
      case SimJoin.PrefixIndexKind => SimJoin.rebuildPrefixIndex(spark, dir)
      case Similarity.IvfIndexKind =>
        val meta = Dedup.readMeta(spark, Dedup.indexRoot(spark, dir))
        // the quantizer hyperparameters come FROM the stored metadata,
        // with no default fallback: writeIvfIndex always persists both
        // keys, so their absence means a torn or foreign-edited meta —
        // rebuilding at defaults would silently re-cut the index to
        // different semantics, exactly what this façade promises never
        // to do
        def req(key: String): Int = meta.get(key).map(_.toInt).getOrElse(
          throw new IllegalArgumentException(
            s"IndexCdc.rebuild: IVF index at $dir has no '$key' in its " +
              "metadata — writeIvfIndex always persists it, so this " +
              "artifact's metadata is torn or foreign-edited; rebuilding " +
              "at a default would silently change the quantizer. Repair " +
              "the metadata, or re-cut explicitly with " +
              "Similarity.rebuildIvfIndex(dir, nCentroids, iters)"))
        Similarity.rebuildIvfIndex(spark, dir, req("nCentroids"),
          req("iters"))
      case Similarity.EmbeddingIndexKind =>
        Similarity.rebuildEmbeddingIndex(spark, dir)
      case ShardedIndex.Kind => ShardedIndex.rebuild(spark, dir)
      case other => throw new IllegalArgumentException(
        s"IndexCdc: index at $dir has kind '$other', which has no " +
          "rebuild")
    }

  /** Committed `doc_id`s of one document family's primary table,
    * shadow tombstones applied — the [[liveIds]] leg of the families
    * with no masked reader of their own. */
  private def livePrimary(spark: SparkSession, dir: String,
                          table: String): DataFrame = {
    val root = Dedup.indexRoot(spark, dir)
    val meta = Dedup.readMeta(spark, root)
    Dedup.maskShadowed(
      Dedup.committedOnly(Dedup.readPq(spark, s"$root/$table"), meta),
      "doc_id", Dedup.committedTombsAt(spark, s"$root/tomb", meta, "doc_id"),
      "doc_id")
      .select(col("doc_id").as("id")).distinct()
  }

  /** The LIVE id set of the index at `dir` — committed rows minus
    * committed tombstones, one column named `id` — read through each
    * family's own masking choke point. This is the observable the
    * cross-family CDC contract law quantifies over: the same change
    * history applied to every family must net to the same live set. */
  def liveIds(spark: SparkSession, dir: String): DataFrame =
    kindOf(spark, dir) match {
      case Bm25Index.Kind => livePrimary(spark, dir, "postings")
      case Dedup.MinhashIndexKind =>
        Dedup.readMinhashIndex(spark, dir).sets
          .select(col("doc_id").as("id")).distinct()
      case SimJoin.PrefixIndexKind => livePrimary(spark, dir, "sets")
      case Similarity.IvfIndexKind =>
        Similarity.readIvfIndex(spark, dir).assigned
          .select(col("vec_id").as("id")).distinct()
      case Similarity.EmbeddingIndexKind =>
        Similarity.readEmbeddingIndex(spark, dir).vectors
          .select(col("vec_id").as("id")).distinct()
      case ShardedIndex.Kind =>
        val m = ShardedIndex.manifest(spark, dir)
        (0 until m("shards").toInt)
          .map(i => liveIds(spark, ShardedIndex.shardDir(dir, i)))
          .reduce(_.unionByName(_))
      case other => throw new IllegalArgumentException(
        s"IndexCdc: index at $dir has kind '$other', which has no live-id " +
          "reader")
    }

  /** Committed ids of one committed primary table, tombstone masks NOT
    * applied — the PHYSICAL presence [[physicalIds]] reads. */
  private def committedPrimary(spark: SparkSession, dir: String,
                               table: String, idCol: String): DataFrame = {
    val root = Dedup.indexRoot(spark, dir)
    val meta = Dedup.readMeta(spark, root)
    Dedup.committedOnly(Dedup.readPq(spark, s"$root/$table"), meta)
      .select(col(idCol).as("id")).distinct()
  }

  /** The PHYSICAL id set of the index at `dir` — every id with a
    * committed row in the family's primary table, tombstone masks
    * deliberately NOT applied. [[liveIds]] answers "what does this
    * index serve"; this answers "whose bytes does this artifact still
    * hold" — the question a retention/right-to-be-forgotten audit
    * asks, because a masked delete stops SERVING a document while its
    * rows persist until a rebuild (or shard compact) physically drops
    * them. physical \ live = masked-but-not-yet-purged. */
  def physicalIds(spark: SparkSession, dir: String): DataFrame =
    kindOf(spark, dir) match {
      case Bm25Index.Kind => committedPrimary(spark, dir, "postings", "doc_id")
      case Dedup.MinhashIndexKind =>
        committedPrimary(spark, dir, "sets", "doc_id")
      case SimJoin.PrefixIndexKind =>
        committedPrimary(spark, dir, "sets", "doc_id")
      case Similarity.EmbeddingIndexKind =>
        committedPrimary(spark, dir, "vectors", "vec_id")
      case Similarity.IvfIndexKind =>
        val root = Dedup.indexRoot(spark, dir)
        val meta = Dedup.readMeta(spark, root)
        val base = Dedup.readPq(spark, s"$root/assigned").select(col("vec_id"))
        val all =
          if (Dedup.indexTableHasData(spark, s"$root/assigned_batches"))
            base.unionByName(Dedup.committedOnly(
              Dedup.readPq(spark, s"$root/assigned_batches"), meta)
              .select(col("vec_id")))
          else base
        all.select(col("vec_id").as("id")).distinct()
      case ShardedIndex.Kind =>
        val m = ShardedIndex.manifest(spark, dir)
        (0 until m("shards").toInt)
          .map(i => physicalIds(spark, ShardedIndex.shardDir(dir, i)))
          .reduce(_.unionByName(_))
      case other => throw new IllegalArgumentException(
        s"IndexCdc: index at $dir has kind '$other', which has no " +
          "physical-id reader")
    }

  /** Snapshot diff between two PINNED versions of one index home —
    * (op ∈ added|removed, id) over [[physicalIds]], the artifact-level
    * answer to "what changed between v_old and v_new, and is doc X's
    * takedown actually PURGED or merely masked?". Physical presence is
    * the right observable here: versions freeze at the replacement
    * commit (appends/tombstones mutate only the CURRENT version's
    * root), so the frozen old version still holds a masked document's
    * bytes and the diff certifies the rebuild dropped them — the
    * retention-window truth a compliance audit needs, per snapshot,
    * without replaying any CDC history. Cost: two committed-primary
    * scans + two id-width anti-joins; nothing else is read.
    *
    * Sharded homes refuse: their versions are PER-SHARD artifacts
    * (shards commit independently, so "version N of the home" does not
    * exist) — diff the shard homes individually. */
  def versionDiff(spark: SparkSession, dir: String,
                  vOld: Int, vNew: Int): DataFrame = {
    require(kindOf(spark, dir) != ShardedIndex.Kind,
      s"IndexCdc.versionDiff: $dir is a sharded home — versions are " +
        "per-shard artifacts (shards commit independently); diff the " +
        "shard homes (ShardedIndex.shardDir(home, i)) individually")
    val a = physicalIds(spark, Dedup.versionRoot(spark, dir, vOld))
    val b = physicalIds(spark, Dedup.versionRoot(spark, dir, vNew))
    b.join(a, Seq("id"), "left_anti")
      .select(lit("added").as("op"), col("id"))
      .unionByName(a.join(b, Seq("id"), "left_anti")
        .select(lit("removed").as("op"), col("id")))
  }
}
