package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Bm25Index, Dedup, IndexCdc, Similarity, SimJoin}

/** The cross-family CDC contract, pinned as ONE law (VERDICT r15 ask
  * #6): the five persisted index families share the change-stream
  * contract — one marker per batch, deletes-apply-first in batch
  * (delete+insert of one id = UPDATE), re-inserts of previously
  * deleted ids serving (shadow tombstones — `Dedup.ShadowCol`), counts
  * netting to live, replay skipping — in five separate appliers, which
  * is exactly the shape that drifts as families evolve. `IndexCdc`
  * routes on the index's own `kind` metadata; this spec drives the SAME
  * change history — including a cross-batch re-insert and a same-batch
  * upsert — through every family via the façade and demands the same
  * observable: the live id set equals the net of the history. */
class IndexCdcSpec extends AnyFunSuite with SparkSpec {

  val base = "/root/testdata/sf0.001"

  // the shared change history, as id predicates: initial load is the
  // evens. Batches 1-2 insert odd slices and tombstone even slices;
  // batch 3 RE-INSERTS the slice batch 1 deleted (legal under shadow
  // tombstones) while deleting part of batch 1's inserts; batch 4 is
  // a same-batch UPSERT of part of batch 2's inserts (delete+insert
  // of the same ids — net no-op on the live set, but only under the
  // deletes-first ordering).
  private def initial(idc: String) = col(idc) % 2 === 0
  private val batches = Seq(
    (1L, (idc: String) => col(idc) % 10 === 3,
      (idc: String) => col(idc) % 20 === 4),
    (2L, (idc: String) => col(idc) % 10 === 7,
      (idc: String) => col(idc) % 20 === 12),
    (3L, (idc: String) => col(idc) % 20 === 4,
      (idc: String) => col(idc) % 10 === 3 && col(idc) % 3 === 0),
    (4L, (idc: String) => col(idc) % 10 === 7 && col(idc) % 3 === 1,
      (idc: String) => col(idc) % 10 === 7 && col(idc) % 3 === 1))
  private def netLive(idc: String) =
    (initial(idc) && col(idc) % 20 =!= 12) ||
      (col(idc) % 10 === 3 && col(idc) % 3 =!= 0) || col(idc) % 10 === 7

  private def ids(df: DataFrame, idc: String): Set[Long] =
    df.select(col(idc).cast("long")).collect().map(_.getLong(0)).toSet

  test("one change history through all five families nets to the same " +
    "live set; replay skips; compact preserves it") {
    val docs = graft.sources.Tables.documents(spark, base)
    val embs = graft.sources.Tables.embeddings(spark, base)

    val bm25 = graft.sources.Scratch.dir("cdcf-bm25")
    val mh = graft.sources.Scratch.dir("cdcf-mh")
    val pfx = graft.sources.Scratch.dir("cdcf-pfx")
    val ivf = graft.sources.Scratch.dir("cdcf-ivf")
    val emb = graft.sources.Scratch.dir("cdcf-emb")

    Bm25Index.write(docs.filter(initial("doc_id")), bm25)
    Dedup.writeMinhashIndex(docs.filter(initial("doc_id")),
      "doc_id", "text", mh)
    SimJoin.writePrefixIndex(docs.filter(initial("doc_id")),
      "doc_id", "text", 1, 2, pfx)
    Similarity.writeIvfIndex(embs.filter(initial("vec_id")), ivf,
      nCentroids = 4)
    Similarity.writeEmbeddingIndex(embs.filter(initial("vec_id")), emb)

    val docDirs = Seq(bm25, mh, pfx)
    val vecDirs = Seq(ivf, emb)
    // counts, not only ids: a BM25 (N, S) skew or a drifting
    // n_docs / n_vectors leaves every live id set intact
    def countsNetToLive(stage: String): Unit = {
      assert(Bm25Index.statsConsistency(spark, bm25) == ((0L, 0L, 0L)),
        s"BM25 statistics diverged from the live postings $stage")
      assert(Dedup.readMeta(spark, idxRoot(mh))("n_docs").toLong ==
        ids(IndexCdc.liveIds(spark, mh), "id").size,
        s"minhash n_docs diverged from the live count $stage")
      assert(Dedup.readMeta(spark, idxRoot(emb))("n_vectors").toLong ==
        ids(IndexCdc.liveIds(spark, emb), "id").size,
        s"embedding n_vectors diverged from the live count $stage")
    }
    batches.foreach { case (b, ins, del) =>
      docDirs.foreach { d =>
        IndexCdc.apply(spark, d, docs.filter(ins("doc_id")),
          docs.filter(del("doc_id")).select("doc_id"), b)
      }
      vecDirs.foreach { d =>
        IndexCdc.apply(spark, d, embs.filter(ins("vec_id")),
          embs.filter(del("vec_id")).select("vec_id"), b)
      }
    }

    val expectDocs = ids(docs.filter(netLive("doc_id")), "doc_id")
    val expectVecs = ids(embs.filter(netLive("vec_id")), "vec_id")
    assert(expectDocs.nonEmpty && expectVecs.nonEmpty, "vacuous history")
    (docDirs.map(_ -> expectDocs) ++ vecDirs.map(_ -> expectVecs))
      .foreach { case (d, want) =>
        assert(ids(IndexCdc.liveIds(spark, d), "id") == want,
          s"live set diverged from the contract at $d")
      }
    countsNetToLive("after the history")

    // replayed batch (same durable batchId): every family skips — the
    // live set is byte-identical, no family double-applies
    docDirs.foreach { d =>
      IndexCdc.apply(spark, d, docs.filter(batches.head._2("doc_id")),
        docs.filter(batches.head._3("doc_id")).select("doc_id"),
        batches.last._1)
      assert(ids(IndexCdc.liveIds(spark, d), "id") == expectDocs,
        s"replayed batch re-applied at $d")
    }

    // façade compaction folds the per-batch fragmentation without
    // touching the observable, whatever the family
    (docDirs ++ vecDirs).foreach(d => IndexCdc.compact(spark, d))
    (docDirs.map(_ -> expectDocs) ++ vecDirs.map(_ -> expectVecs))
      .foreach { case (d, want) =>
        assert(ids(IndexCdc.liveIds(spark, d), "id") == want,
          s"compaction changed the live set at $d")
      }
    countsNetToLive("after compact")

    // façade rebuild: one more takedown first (compaction already
    // folded the earlier tombstones away, so rebuild must see fresh
    // ones), then rebuild with parameters FROM the stored metadata —
    // live set = net of the extended history, tombstones physically
    // GONE in every family
    val extraDel = (idc: String) => col(idc) % 20 === 16
    docDirs.foreach(d => IndexCdc.apply(spark, d,
      docs.filter(lit(false)),
      docs.filter(extraDel("doc_id")).select("doc_id"), 5L))
    vecDirs.foreach(d => IndexCdc.apply(spark, d,
      embs.filter(lit(false)).select("vec_id", "embedding"),
      embs.filter(extraDel("vec_id")).select("vec_id"), 5L))
    val expectDocs2 =
      ids(docs.filter(netLive("doc_id") && !extraDel("doc_id")), "doc_id")
    val expectVecs2 =
      ids(embs.filter(netLive("vec_id") && !extraDel("vec_id")), "vec_id")
    assert(expectDocs2 != expectDocs && expectVecs2 != expectVecs,
      "vacuous rebuild takedown")
    (docDirs ++ vecDirs).foreach(d => IndexCdc.rebuild(spark, d))
    (docDirs.map(_ -> expectDocs2) ++ vecDirs.map(_ -> expectVecs2))
      .foreach { case (d, want) =>
        assert(ids(IndexCdc.liveIds(spark, d), "id") == want,
          s"rebuild changed the live set at $d")
        assert(!Dedup.indexTableHasData(spark, s"${idxRoot(d)}/tomb"),
          s"rebuild left tombstones on disk at $d")
      }
    countsNetToLive("after rebuild")
  }

  test("crash mid-fanout heals on replay: a batch applied to SOME " +
    "families before the driver dies converges everywhere when the " +
    "whole fanout replays") {
    // A composite pipeline fans one change batch into several indexes
    // sequentially; a crash between family 2 and family 3 leaves them
    // at different watermarks. The per-family durable batchId makes
    // the whole fanout idempotent: replaying the SAME batch through
    // every family skips the already-committed ones and applies the
    // rest — convergence needs no coordinator, only the replay.
    val docs = graft.sources.Tables.documents(spark, base)
    val dirs = Seq("bm25", "mh", "pfx").map(k =>
      graft.sources.Scratch.dir(s"cdcf-crash-$k"))
    Bm25Index.write(docs.filter(initial("doc_id")), dirs(0))
    Dedup.writeMinhashIndex(docs.filter(initial("doc_id")),
      "doc_id", "text", dirs(1))
    SimJoin.writePrefixIndex(docs.filter(initial("doc_id")),
      "doc_id", "text", 1, 2, dirs(2))
    val ins = docs.filter(col("doc_id") % 10 === 3)
    val del = docs.filter(col("doc_id") % 20 === 4).select("doc_id")
    // the fanout "crashes" after the first family
    IndexCdc.apply(spark, dirs(0), ins, del, 1L)
    // replay: the whole fanout runs again with the same batchId
    dirs.foreach(d => IndexCdc.apply(spark, d, ins, del, 1L))
    val want = ids(docs.filter((initial("doc_id") &&
      col("doc_id") % 20 =!= 4) || col("doc_id") % 10 === 3), "doc_id")
    dirs.foreach { d =>
      assert(ids(IndexCdc.liveIds(spark, d), "id") == want,
        s"post-replay live set diverged at $d")
    }
  }

  test("applyOps: one op-column change frame ≡ the split form; a " +
    "streamed upsert batch serves the new image; unknown ops refuse") {
    val docs = graft.sources.Tables.documents(spark, base)
    val held = docs.filter(initial("doc_id"))
    // two identical indexes: one fed split frames, one the op-column
    // form — an upsert batch (delete+insert of one live id, new text)
    val a = graft.sources.Scratch.dir("cdcf-ops-a")
    val b = graft.sources.Scratch.dir("cdcf-ops-b")
    Dedup.writeMinhashIndex(held, "doc_id", "text", a)
    Dedup.writeMinhashIndex(held, "doc_id", "text", b)
    val updId = held.select(min("doc_id")).head().getLong(0)
    val upd = held.filter(col("doc_id") === updId)
      .withColumn("text", concat(col("text"), lit(" streamed new image")))
    val fresh = docs.filter(col("doc_id") % 10 === 3).limit(2)
    IndexCdc.apply(spark, a, upd.unionByName(fresh), upd.select("doc_id"),
      1L)
    IndexCdc.applyOps(spark, b,
      upd.unionByName(fresh).select(col("doc_id"), col("text"))
        .withColumn("op", lit("insert"))
        .unionByName(upd.select(col("doc_id"),
          lit(null).cast("string").as("text"))
          .withColumn("op", lit("delete"))),
      1L)
    assert(ids(IndexCdc.liveIds(spark, a), "id")
      == ids(IndexCdc.liveIds(spark, b), "id"),
      "op-column form diverged from the split form")
    val hs = (d: String) => Dedup.readMinhashIndex(spark, d).sets
      .filter(col("doc_id") === updId).head().getSeq[Int](1).toSet
    assert(hs(a) == hs(b), "upsert image diverged between the forms")
    // the streaming twin: the same upsert batch as ONE micro-batch
    // through maintainIndexCdcStream — cdcFoldStream's op split must
    // deliver deletes-first update semantics end to end
    val c = graft.sources.Scratch.dir("cdcf-ops-c")
    Dedup.writeMinhashIndex(held, "doc_id", "text", c)
    val feed = graft.sources.Scratch.dir("cdcf-ops-feed")
    upd.select(col("doc_id"), col("text")).withColumn("op", lit("insert"))
      .unionByName(upd.select(col("doc_id"),
        lit(null).cast("string").as("text")).withColumn("op", lit("delete")))
      .coalesce(1).write.mode("overwrite").parquet(feed)
    graft.streaming.StreamOps.maintainIndexCdcStream(
      spark.readStream.schema(spark.read.parquet(feed).schema)
        .parquet(feed),
      "op", c, graft.sources.Scratch.dir("cdcf-ops-ckpt")).stop()
    assert(hs(c) == hs(a),
      "streamed upsert batch did not serve the new image")
    // unknown ops refuse loudly
    val ex = intercept[IllegalArgumentException] {
      IndexCdc.applyOps(spark, b,
        upd.select(col("doc_id"), col("text"))
          .withColumn("op", lit("upsert")), 2L)
    }
    assert(ex.getMessage.contains("insert|delete"))
  }

  test("the index-table writer seeds the readPq schema memo with the " +
    "schema a read infers, partition column included") {
    val docs = graft.sources.Tables.documents(spark, base)
    val embs = graft.sources.Tables.embeddings(spark, base)
    // the four families whose tables Dedup.writeIndexTable writes (IVF
    // writes its centroids and cells with its own writer)
    val dirs = Seq("bm25", "mh", "pfx", "emb")
      .map(f => graft.sources.Scratch.dir(s"cdcf-seed-$f"))
    val Seq(bm25, mh, pfx, emb) = dirs
    /** (table, seeded, inferred) for every `ingest_batch` table that
      * holds rows. */
    def tables(dir: String): Seq[(String, StructType, StructType)] = {
      val root = new java.io.File(idxRoot(dir))
      root.listFiles().toSeq.filter(_.isDirectory).map(_.toString)
        .filter(Dedup.indexTableHasData(spark, _)).map(t =>
          (t, Dedup.pqSchemaMemo.get(Dedup.pqMemoKey(t)),
            spark.read.parquet(t).schema))
    }
    def seeded(stage: String): Unit = dirs.foreach { d =>
      val ts = tables(d)
      assert(ts.nonEmpty, s"no tables under $d")
      ts.foreach { case (t, memo, inferred) =>
        assert(memo == inferred, s"$stage: memo of $t")
      }
    }

    Bm25Index.write(docs.filter(initial("doc_id")), bm25)
    Dedup.writeMinhashIndex(docs.filter(initial("doc_id")),
      "doc_id", "text", mh)
    SimJoin.writePrefixIndex(docs.filter(initial("doc_id")),
      "doc_id", "text", 1, 2, pfx)
    Similarity.writeEmbeddingIndex(embs.filter(initial("vec_id")), emb)
    seeded("after the whole-index writes")

    // one batch with both sides: in-place partitions and tombstones
    val (_, ins, del) = batches.head
    Seq(bm25, mh, pfx).foreach(d => IndexCdc.apply(spark, d,
      docs.filter(ins("doc_id")), docs.filter(del("doc_id")).select("doc_id"), 1L))
    IndexCdc.apply(spark, emb, embs.filter(ins("vec_id")),
      embs.filter(del("vec_id")).select("vec_id"), 1L)
    seeded("after a CDC batch")
  }

  test("opening a fresh IVF index for its live ids runs no Spark job; " +
    "its writer seeds the readPq schema memo") {
    val embs = graft.sources.Tables.embeddings(spark, base)
    val ivf = graft.sources.Scratch.dir("cdcf-ivf-jobs")
    Dedup.pqSchemaMemo.keySet.removeIf(_.startsWith(ivf))
    Similarity.writeIvfIndex(embs.filter(initial("vec_id")), ivf,
      nCentroids = 4)
    def seeded(stage: String): Unit = for (t <- Seq("centroids", "assigned")) {
      val path = s"${idxRoot(ivf)}/$t"
      assert(Dedup.pqSchemaMemo.get(Dedup.pqMemoKey(path)) ==
        spark.read.parquet(path).schema, s"$stage: memo of $path")
    }
    seeded("after writeIvfIndex")
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    org.apache.spark.sql.graftbridge.ColumnBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    val live =
      try {
        val built = IndexCdc.liveIds(spark, ivf)
        org.apache.spark.sql.graftbridge.ColumnBridge.drainListenerBus(spark)
        built
      } finally spark.sparkContext.removeSparkListener(l)
    assert(n.get() == 0, s"building IndexCdc.liveIds ran ${n.get()} Spark jobs")
    assert(ids(live, "id") == ids(embs.filter(initial("vec_id")), "vec_id"))
    Similarity.compactIvfIndex(spark, ivf)
    seeded("after compactIvfIndex")
  }

  test("routing refuses unknown kinds and non-index dirs by name") {
    val stranger = graft.sources.Scratch.dir("cdcf-stranger")
    Dedup.writeMeta(spark, stranger, Map("kind" -> "not_an_index"))
    val e = intercept[IllegalArgumentException] {
      IndexCdc.apply(spark, stranger,
        spark.range(1).select(col("id").as("doc_id"),
          lit("x").as("text")),
        spark.range(0).select(col("id").as("doc_id")), 1L)
    }
    assert(e.getMessage.contains("not_an_index"))
    intercept[Exception] {
      IndexCdc.liveIds(spark, graft.sources.Scratch.dir("cdcf-void"))
    }
  }

  test("physicalIds vs liveIds: a masked delete stops serving but its " +
      "bytes persist until rebuild; versionDiff certifies the purge") {
    val docs = graft.sources.Tables.documents(spark, base)
    val dir = graft.sources.Scratch.dir("cdcf-vdiff")
    Dedup.writeMinhashIndex(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", dir)
    val doomed = docs.filter(col("doc_id") % 2 === 0 &&
      col("doc_id") % 10 === 2)
    Dedup.deleteFromMinhashIndex(spark, dir, doomed.select("doc_id"),
      batchId = Some(0L))
    val doomedIds = ids(doomed, "doc_id")
    // masked, not purged: live excludes the takedown, physical holds it
    assert(ids(IndexCdc.liveIds(spark, dir), "id")
      .intersect(doomedIds).isEmpty)
    assert(doomedIds.subsetOf(ids(IndexCdc.physicalIds(spark, dir), "id")),
      "tombstoned rows must still be physically present pre-rebuild")
    Dedup.rebuildMinhashIndex(spark, dir)
    // purged now — and the version diff is exactly the takedown set
    assert(ids(IndexCdc.physicalIds(spark, dir), "id")
      .intersect(doomedIds).isEmpty)
    val vs = Dedup.listVersions(spark, dir)
    assert(vs.size >= 2, s"rebuild must leave >= 2 pinned versions: $vs")
    val diff = IndexCdc.versionDiff(spark, dir, vs.init.last, vs.last)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(diff == doomedIds.map(("removed", _)), s"unexpected diff: $diff")
    // sharded homes refuse by name: versions are per-shard artifacts
    val home = graft.sources.Scratch.dir("cdcf-vdiff-sh")
    graft.operators.ShardedIndex.writeBm25(
      docs.filter(col("doc_id") % 2 === 0), home, shards = 2)
    val ex = intercept[IllegalArgumentException] {
      IndexCdc.versionDiff(spark, home, 1, 2)
    }
    assert(ex.getMessage.contains("per-shard"))
  }
}
