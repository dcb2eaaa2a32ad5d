package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, IndexAudit, Similarity}

/** The fsck contract: a healthy index audits clean; each failure mode
  * the layout discipline can produce is diagnosed with the right
  * status and the right repair named — and the audit itself never
  * mutates the index. */
class IndexAuditSpec extends AnyFunSuite with SparkSpec {

  private val base = "/root/testdata/sf0.001"
  private def docs = graft.sources.Tables.documents(spark, base)

  private def statuses(dir: String): Map[String, String] =
    IndexAudit.audit(spark, dir).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  private def detailOf(dir: String, chk: String): String =
    IndexAudit.audit(spark, dir).filter(col("chk") === chk)
      .head().getString(2)

  test("healthy lifecycle'd index audits all-OK; audit is read-only") {
    val dir = graft.sources.Scratch.dir("audit-healthy")
    Dedup.writeMinhashIndex(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", dir)
    Dedup.appendToMinhashIndex(docs.filter(col("doc_id") % 4 === 1),
      "doc_id", "text", dir, batchId = Some(0L))
    Dedup.deleteFromMinhashIndex(spark, dir,
      docs.filter(col("doc_id") % 2 === 0 && col("doc_id") % 5 === 1)
        .select("doc_id"), batchId = Some(1L))
    val metaBefore = Dedup.readMeta(spark, idxRoot(dir))
    val s = statuses(dir)
    assert(s.values.forall(_ == "OK"), s"healthy index not clean: $s")
    assert(s.keySet == Set("swap_residue", "layout", "versions", "lease",
      "kind", "table:bands", "uncommitted:bands", "table:sets",
      "uncommitted:sets", "fragmentation", "tomb", "count"))
    assert(Dedup.readMeta(spark, idxRoot(dir)) == metaBefore,
      "audit mutated the index metadata")
    // the metadata-only tier: same structural checks, NO data scans —
    // the count/scan rows are absent, everything else still audits OK
    val sm = IndexAudit.audit(spark, dir, countChecks = false).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sm.values.forall(_ == "OK"), s"metadata tier not clean: $sm")
    assert(sm.keySet == Set("swap_residue", "layout", "versions", "lease",
      "kind", "table:bands", "uncommitted:bands", "table:sets",
      "uncommitted:sets", "fragmentation", "tomb"),
      "metadata-only tier must drop exactly the scan-tier rows")
  }

  test("fragmentation past the file bound: WARN naming the compact op") {
    val dir = graft.sources.Scratch.dir("audit-frag")
    Dedup.writeMinhashIndex(docs.limit(50), "doc_id", "text", dir)
    val s = IndexAudit.audit(spark, dir, countChecks = false,
      maxFilesPerTable = 0).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(s("fragmentation") == "WARN")
    val det = IndexAudit.audit(spark, dir, countChecks = false,
      maxFilesPerTable = 0).filter(col("chk") === "fragmentation")
      .head().getString(2)
    assert(det.contains("compactMinhashIndex"),
      s"fragmentation WARN must name the family's compact op, got: $det")
  }

  test("torn synchronous bm25 delete: stats_consistency catches the " +
    "silent skew no marker can") {
    val dir = graft.sources.Scratch.dir("audit-tornbmdel")
    graft.operators.Bm25Index.write(
      docs.filter(col("doc_id") % 2 === 0), dir)
    assert(statuses(dir)("stats_consistency") == "OK")
    // simulate a batchId=None delete crashing after its tomb write but
    // before the negative df partials and the (N, S) update land: doc
    // masked, its statistics still counted — the base partition is
    // always committed, so no replay heals it and only the
    // live-recompute cross-check sees it
    import spark.implicits._
    Dedup.writeIndexTable(Seq(0L, 2L).toDF("doc_id"), -1L, s"${idxRoot(dir)}/tomb")
    val s = statuses(dir)
    assert(s("stats_consistency") == "ERROR",
      s"torn delete skew not flagged: $s")
    assert(detailOf(dir, "stats_consistency").contains("rebuild"))
  }

  test("torn swap window: ERROR naming recoverSwap; repair then clean") {
    val dir = graft.sources.Scratch.dir("audit-torn")
    Dedup.writeMinhashIndex(docs.limit(50), "doc_id", "text", dir)
    // simulate the crash between delete and rename
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "__swap")))
    val s = statuses(dir)
    assert(s("layout") == "ERROR")
    assert(detailOf(dir, "layout").contains("recoverSwap"),
      "torn-swap diagnosis must name the one-call repair")
    assert(Dedup.recoverSwap(spark, dir))
    assert(statuses(dir).values.forall(_ == "OK"))
  }

  test("mid-build swap residue: WARN, index itself stays OK") {
    val dir = graft.sources.Scratch.dir("audit-residue")
    Dedup.writeMinhashIndex(docs.limit(50), "doc_id", "text", dir)
    new java.io.File(dir + "__swap").mkdirs()
    val s = statuses(dir)
    assert(s("swap_residue") == "WARN")
    assert(s.filterKeys(_ != "swap_residue").values.forall(_ == "OK"))
  }

  test("torn append past the marker: WARN on the table, reads unaffected") {
    val dir = graft.sources.Scratch.dir("audit-tornappend")
    Dedup.writeMinhashIndex(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", dir)
    Dedup.appendToMinhashIndex(docs.filter(col("doc_id") % 4 === 1),
      "doc_id", "text", dir, batchId = Some(0L))
    // simulate a crash mid-append: partition 5 written, marker never
    // advanced (copy partition 0's files under ingest_batch=5)
    val src = new java.io.File(s"${idxRoot(dir)}/sets/ingest_batch=0")
    val dst = new java.io.File(s"${idxRoot(dir)}/sets/ingest_batch=5")
    dst.mkdirs()
    src.listFiles().foreach { f =>
      java.nio.file.Files.copy(f.toPath,
        new java.io.File(dst, f.getName).toPath)
    }
    val s = statuses(dir)
    assert(s("uncommitted:sets") == "WARN",
      s"torn append not flagged: $s")
    assert(detailOf(dir, "uncommitted:sets").contains("replay"))
    assert(s("table:sets") == "OK", "committed rows must still read OK")
  }

  test("metadata count drift: ERROR naming rebuild") {
    val dir = graft.sources.Scratch.dir("audit-drift")
    Dedup.writeMinhashIndex(docs.limit(50), "doc_id", "text", dir)
    // tamper n_docs the way a contract-violating second writer would
    val meta = Dedup.readMeta(spark, idxRoot(dir))
    Dedup.writeMeta(spark, idxRoot(dir),
      meta + ("n_docs" -> (meta("n_docs").toLong + 7).toString))
    val s = statuses(dir)
    assert(s("count") == "ERROR", s"count drift not flagged: $s")
    assert(detailOf(dir, "count").contains("rebuild"))
  }

  test("bm25 and ivf kinds audit clean through their lifecycles") {
    val bmDir = graft.sources.Scratch.dir("audit-bm")
    graft.operators.Bm25Index.write(
      docs.filter(col("doc_id") % 2 === 0), bmDir)
    graft.operators.Bm25Index.applyCdc(spark, bmDir,
      docs.filter(col("doc_id") % 4 === 1),
      docs.filter(col("doc_id") % 10 === 2).select("doc_id"),
      batchId = 0L)
    val sb = statuses(bmDir)
    assert(sb.values.forall(_ == "OK"), s"bm25 lifecycle not clean: $sb")
    assert(sb.contains("stats_fold"))
    assert(sb.contains("stats_consistency"),
      "bm25 scan tier must cross-check folded partials vs live postings")
    val e = graft.sources.Tables.embeddings(spark, base)
    val ivfDir = graft.sources.Scratch.dir("audit-ivf")
    Similarity.writeIvfIndex(e.filter(col("vec_id") % 4 =!= 1), ivfDir)
    Similarity.applyIvfCdc(spark, ivfDir,
      e.filter(col("vec_id") % 8 === 1),
      e.filter(col("vec_id") % 20 === 0).select("vec_id"), batchId = 0L)
    val si = statuses(ivfDir)
    assert(si.values.forall(_ == "OK"), s"ivf lifecycle not clean: $si")
    assert(si.contains("cell_hist"))
  }

  test("IVF cell-hist staleness under churn: WARN naming the " +
    "re-baseline ops; compact clears it") {
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = graft.sources.Scratch.dir("audit-histstale")
    Similarity.writeIvfIndex(e, dir, nCentroids = 4)
    assert(statuses(dir)("hist_staleness") == "OK")
    // churn: delete ~2/3, re-insert half of them (hist only ever grows)
    Similarity.deleteFromIvfIndex(spark, dir,
      e.filter(col("vec_id") % 3 =!= 0).select("vec_id"), Some(0L))
    Similarity.applyIvfCdc(spark, dir,
      e.filter(col("vec_id") % 6 === 1).select("vec_id", "embedding"),
      e.limit(0).select("vec_id"), batchId = 1L)
    val s = statuses(dir)
    assert(s("hist_staleness") == "WARN",
      s"churned histogram not flagged: $s")
    assert(detailOf(dir, "hist_staleness").contains("compactIvfIndex"))
    // compaction re-baselines the histogram from the live rows
    Similarity.compactIvfIndex(spark, dir)
    assert(statuses(dir)("hist_staleness") == "OK",
      "compaction did not re-baseline cell_hist")
  }

  test("malformed cell_hist metadata: hist_staleness reports ERROR " +
    "instead of crashing the audit") {
    // fsck reports damage, it never dies of it — a foreign edit that
    // drops the ':' separators must yield a diagnosis row, not a
    // NumberFormatException mid-report (advisor r16)
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = graft.sources.Scratch.dir("audit-histmalformed")
    Similarity.writeIvfIndex(e, dir, nCentroids = 4)
    val root = idxRoot(dir)
    Dedup.writeMeta(spark, root,
      Dedup.readMeta(spark, root) + ("cell_hist" -> "garbage"))
    val s = statuses(dir)
    assert(s("hist_staleness") == "ERROR",
      s"malformed cell_hist not diagnosed: $s")
    assert(detailOf(dir, "hist_staleness").contains("unparseable"))
    // the named remedy rewrites the histogram from the live rows
    Similarity.compactIvfIndex(spark, dir)
    assert(statuses(dir)("hist_staleness") == "OK",
      "compaction did not repair the malformed histogram")
  }

  test("pre-shadow (legacy) tombstones: tomb row WARNs naming the " +
    "rebuild remedy; batched re-insert against them refuses") {
    val dir = graft.sources.Scratch.dir("audit-legacytomb")
    Dedup.writeMinhashIndex(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", dir)
    // a tombstone written by the pre-shadow engine: id column only —
    // reads coalesce its ordering to MaxValue (masks ALL batches)
    import spark.implicits._
    val vid = docs.filter(col("doc_id") % 2 === 0)
      .select(min("doc_id")).head().getLong(0)
    Dedup.writeIndexTable(Seq(vid).toDF("doc_id"), -1L,
      s"${idxRoot(dir)}/tomb")
    assert(statuses(dir)("tomb") == "WARN")
    assert(detailOf(dir, "tomb").contains("pre-shadow"))
    // the re-insert a shadow tombstone would allow is refused against
    // a legacy one, naming the rebuild remedy
    val ex = intercept[IllegalArgumentException] {
      Dedup.applyMinhashCdc(spark, dir,
        docs.filter(col("doc_id") === vid), docs.limit(0).select("doc_id"),
        batchId = 0L)
    }
    assert(ex.getMessage.contains("PRE-SHADOW") &&
      ex.getMessage.contains("Rebuild"),
      s"legacy re-insert refusal unhelpful: ${ex.getMessage}")
    // rebuild folds the legacy tombstones away; the re-insert then lands
    Dedup.rebuildMinhashIndex(spark, dir)
    assert(statuses(dir)("tomb") == "OK")
    Dedup.applyMinhashCdc(spark, dir,
      docs.filter(col("doc_id") === vid), docs.limit(0).select("doc_id"),
      batchId = 0L)
    assert(Dedup.readMinhashIndex(spark, dir).sets
      .filter(col("doc_id") === vid).count() == 1,
      "re-insert after legacy-tomb rebuild did not serve")
  }

  test("bpe vocabulary audits clean; count drift is an ERROR naming " +
    "the retrain") {
    val dir = graft.sources.Scratch.dir("audit-bpevocab")
    graft.operators.Bpe.writeVocab(spark,
      graft.operators.Bpe.train(docs.limit(100), "text", 3), dir)
    val s = statuses(dir)
    assert(s.values.forall(v => v == "OK"), s"vocab not clean: $s")
    assert(s.contains("count"))
    val meta = Dedup.readMeta(spark, idxRoot(dir))
    Dedup.writeMeta(spark, idxRoot(dir), meta + ("n_merges" -> "99"))
    assert(statuses(dir)("count") == "ERROR")
    assert(detailOf(dir, "count").contains("retrain"))
  }

  test("non-index directory: loud, structured, no exception") {
    val dir = graft.sources.Scratch.dir("audit-nonidx")
    new java.io.File(dir).mkdirs()
    val s = statuses(dir)
    assert(s("layout") == "ERROR")
    val missing = graft.sources.Scratch.dir("audit-missing-never-made")
    assert(statuses(missing)("layout") == "ERROR")
  }

  test("maintenance plan: healthy → none, damage → ranked actions, " +
      "read-only") {
    val healthy = graft.sources.Scratch.dir("mplan-healthy")
    Dedup.writeMinhashIndex(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", healthy)
    val gone = graft.sources.Scratch.dir("mplan-never-made")
    val metaBefore = Dedup.readMeta(spark, idxRoot(healthy))
    val plan = IndexAudit.maintenancePlan(spark,
      Seq("h" -> healthy, "g" -> gone), countChecks = true)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSet
    assert(plan == Set(("h", "-", "none", "", 9L),
      ("g", "-", "repair", "layout", 1L)), s"unexpected plan: $plan")
    assert(Dedup.readMeta(spark, idxRoot(healthy)) == metaBefore,
      "the planner mutated a home it swept")
  }

  test("maintenance plan localizes work to the triggering shard") {
    val home = graft.sources.Scratch.dir("mplan-sharded")
    graft.operators.ShardedIndex.writeBm25(
      docs.filter(col("doc_id") % 2 === 0), home, shards = 2)
    // force the fragmentation bound below any real file count: every
    // shard trips it, and the plan must name each shard's unit — the
    // selective-maintenance contract (compact THESE two, not the home)
    val plan = IndexAudit.maintenancePlan(spark, Seq("sh" -> home),
      maxFilesPerTable = 0)
      .collect().map(r => (r.getString(1), r.getString(2), r.getString(3)))
      .toSet
    assert(plan == Set(("shard=0", "compact", "fragmentation"),
      ("shard=1", "compact", "fragmentation")), s"unexpected plan: $plan")
  }

  test("applyPlan closes the loop: compacts land, boards stay put, " +
      "the re-sweep comes back clean; unsafe tiers never execute") {
    val home = graft.sources.Scratch.dir("mapply-loop")
    graft.operators.ShardedIndex.writeBm25(
      docs.filter(col("doc_id") % 2 === 0), home, shards = 2)
    // fragment past a tight bound via two CDC batches
    graft.operators.ShardedIndex.append(spark, home,
      docs.filter(col("doc_id") % 2 === 1 && col("doc_id") % 3 === 0)
        .select("doc_id", "text"), batchId = 0L)
    graft.operators.ShardedIndex.delete(spark, home,
      docs.filter(col("doc_id") % 10 === 2).select("doc_id"), batchId = 1L)
    def board() = graft.operators.ShardedIndex.crossBm25TopKSharded(
      spark, docs.filter(col("doc_id") % 29 === 0)
        .select(col("doc_id").as("query_id"),
          col("text").as("query_text")), home, k = 5)
      .collect().map(_.toString).sorted.toSeq
    val before = board()
    val gone = graft.sources.Scratch.dir("mapply-never-made")
    val plan = IndexAudit.maintenancePlan(spark,
      Seq("sh" -> home, "g" -> gone), maxFilesPerTable = 2)
    val did = IndexAudit.applyPlan(spark, plan,
      Map("sh" -> home, "g" -> gone), targetFiles = 1)
      .collect().map(r => (r.getString(0), r.getString(2), r.getString(3)))
      .toSeq
    // every compact applied, the repair row skipped (never executed —
    // the `gone` path must still not exist)
    assert(did.filter(_._2 == "compact").forall(_._3 == "applied"))
    assert(did.contains(("g", "repair", "skipped")))
    assert(Option(new java.io.File(gone).list()).forall(_.isEmpty),
      "applyPlan must not touch an unsafe-tier target")
    // compaction is row-preserving: the served board is bit-identical
    assert(board() == before, "applyPlan moved a served board")
    // and the re-sweep is clean at the bound that triggered the work
    val again = IndexAudit.maintenancePlan(spark, Seq("sh" -> home),
      maxFilesPerTable = 2)
      .collect().map(r => (r.getString(2), r.getString(3))).toSet
    assert(again == Set(("none", "")), s"re-sweep not clean: $again")
  }

  test("applyPlan replay tier: a torn append heals in the same sweep " +
      "that found it WHEN the caller supplies the changelog — without " +
      "a feed the row stays skipped, with one the batch re-applies " +
      "idempotently and the re-sweep is clean") {
    import spark.implicits._
    val home = graft.sources.Scratch.dir("mapply-replay")
    Dedup.writeMinhashIndex(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", home)
    Dedup.appendToMinhashIndex(docs.filter(col("doc_id") % 4 === 1),
      "doc_id", "text", home, batchId = Some(0L))
    // crash mid-append of batch 5: partition written, marker never
    // advanced (the IndexAuditSpec torn-append fabrication)
    val src = new java.io.File(s"${idxRoot(home)}/sets/ingest_batch=0")
    val dst = new java.io.File(s"${idxRoot(home)}/sets/ingest_batch=5")
    dst.mkdirs()
    src.listFiles().foreach { f =>
      java.nio.file.Files.copy(f.toPath,
        new java.io.File(dst, f.getName).toPath)
    }
    val homes = Map("mh" -> home)
    val plan = IndexAudit.maintenancePlan(spark, Seq("mh" -> home))
    val planned = plan.collect()
      .map(r => (r.getString(2), r.getString(3))).toSet
    assert(planned.contains(("replay", "uncommitted:sets")),
      s"torn append not planned for replay: $planned")
    // 1. no feed → skipped, home untouched (marker still at 0)
    val dry = IndexAudit.applyPlan(spark, plan, homes)
      .filter(col("action") === "replay").collect()
    assert(dry.nonEmpty && dry.forall(_.getString(3) == "skipped"))
    assert(Dedup.lastCommittedBatch(
      Dedup.readMeta(spark, idxRoot(home))) == 0L)
    // 2. the actual batch-5 changelog → applied; the torn partition
    // is OVERWRITTEN by the replay (exactly-once), the marker
    // advances, the docs serve, and the re-sweep comes back clean
    val feed = docs.filter(col("doc_id") % 4 === 3)
      .select(lit("insert").as("op"), lit(5L).as("batch_id"),
        col("doc_id"), col("text"))
    val wet = IndexAudit.applyPlan(spark, plan, homes,
      replayFeeds = Map("mh" -> feed))
      .filter(col("action") === "replay").collect()
    assert(wet.nonEmpty && wet.forall(_.getString(3) == "applied"))
    assert(Dedup.lastCommittedBatch(
      Dedup.readMeta(spark, idxRoot(home))) == 5L)
    val served = Dedup.readMinhashIndex(spark, home).sets
      .select("doc_id").as[Long].collect().toSet
    val want = docs.filter(col("doc_id") % 2 === 0 ||
        col("doc_id") % 4 === 1 || col("doc_id") % 4 === 3)
      .select("doc_id").as[Long].collect().toSet
    assert(served == want, "replayed home serves the wrong corpus")
    val again = IndexAudit.maintenancePlan(spark, Seq("mh" -> home))
      .collect().map(r => (r.getString(2), r.getString(3))).toSet
    assert(again == Set(("none", "")), s"re-sweep not clean: $again")
  }

  test("verify_backup probe: the sweep plans a bounded sample of " +
      "existing backups for a full re-checksum; a clean backup " +
      "applies, at-rest tamper surfaces as verify_failed") {
    val home = graft.sources.Scratch.dir("mverify-home")
    val bh = graft.sources.Scratch.dir("mverify-gens")
    Dedup.writeMinhashIndex(docs.limit(40), "doc_id", "text", home)
    val homes = Seq("mh" -> home)
    val bks = Map("mh" -> bh)
    // no backup yet: verifySample plans NOTHING (there is nothing to
    // probe), the missing backup itself is planned
    val p0 = IndexAudit.maintenancePlan(spark, homes, backups = bks,
      verifySample = 1).collect()
      .map(r => (r.getString(2), r.getString(3))).toSet
    assert(p0.contains(("backup", "backup_missing")) &&
      !p0.exists(_._1 == "verify_backup"))
    graft.operators.IndexBackup.rotate(spark, home, bh)
    val p1 = IndexAudit.maintenancePlan(spark, homes, backups = bks,
      verifySample = 1)
    val vrows = p1.filter(col("action") === "verify_backup").collect()
    assert(vrows.length == 1 && vrows(0).getString(3) == "backup_probe" &&
      vrows(0).getLong(4) == 4L, s"probe not planned: ${vrows.toSeq}")
    val ok = IndexAudit.applyPlan(spark, p1, homes.toMap, backups = bks)
      .filter(col("action") === "verify_backup").collect()
    assert(ok.length == 1 && ok(0).getString(3) == "applied")
    // flip one byte in one shared object → the SAME plan's probe now
    // reports verify_failed (read-only: nothing is healed or deleted)
    val fs = new org.apache.hadoop.fs.Path(bh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val obj = fs.listStatus(new org.apache.hadoop.fs.Path(s"$bh/objects"))
      .filter(_.getLen > 0).maxBy(_.getLen).getPath
    val bytes = {
      val in = fs.open(obj)
      try {
        val os = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, os, 4096, false)
        os.toByteArray
      } finally in.close()
    }
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x5a).toByte
    val out = fs.create(obj, true)
    try out.write(bytes) finally out.close()
    val bad = IndexAudit.applyPlan(spark, p1, homes.toMap, backups = bks)
      .filter(col("action") === "verify_backup").collect()
    assert(bad.length == 1 && bad(0).getString(3) == "verify_failed",
      s"at-rest tamper not surfaced: ${bad.toSeq}")
  }
}
