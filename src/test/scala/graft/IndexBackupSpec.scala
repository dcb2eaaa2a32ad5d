package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, IndexBackup, IndexLease, ShardedIndex}

/** Disaster-recovery laws for [[graft.operators.IndexBackup]]: the
  * backup→restore roundtrip serves bit-exactly (monolithic AND sharded
  * homes), every refusal is loud and names its remedy (torn backup,
  * tampered bytes, committed-backup overwrite, non-empty destination),
  * the copy runs under the home's writer lease, and the lease file
  * itself never travels (a restored home must not be born wedged). */
class IndexBackupSpec extends AnyFunSuite with SparkSpec {

  val base = "/root/testdata/sf0.001"

  private def canon(df: DataFrame): Set[Seq[String]] =
    df.collect().map(r =>
      Seq.tabulate(r.length)(i =>
        if (r.isNullAt(i)) "<NULL>" else r.get(i).toString)).toSet

  private def fsOf(dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def sets(dir: String): DataFrame =
    Dedup.readMinhashIndex(spark, dir).sets

  test("roundtrip: a restored monolithic home serves bit-exactly; " +
      "verify is clean; the lease file never travels") {
    val docs = graft.sources.Tables.documents(spark, base).limit(60)
    val home = graft.sources.Scratch.dir("bk-mono")
    val bk = graft.sources.Scratch.dir("bk-mono-copy")
    val dest = graft.sources.Scratch.dir("bk-mono-restored")
    fsOf(dest).delete(new org.apache.hadoop.fs.Path(dest), true)
    Dedup.writeMinhashIndex(docs, "doc_id", "text", home)
    // exercise the in-place surface too, so the tree carries batches
    Dedup.appendToMinhashIndex(docs.limit(5)
      .withColumn("doc_id", col("doc_id") + 100000L),
      "doc_id", "text", home, batchId = Some(1L))
    val before = canon(sets(home))
    val manifest = IndexBackup.backup(spark, home, bk)
    import spark.implicits._
    val rels = manifest.select("relpath").as[String].collect()
    assert(rels.nonEmpty)
    assert(!rels.exists(_.endsWith(Dedup.LeaseFile)),
      "the backup must not carry the writer lease")
    val report = IndexBackup.verify(spark, bk)
    assert(report.filter(col("status") =!= "OK").isEmpty,
      "fresh backup must verify clean")
    IndexBackup.restore(spark, bk, dest)
    assert(canon(sets(dest)) == before,
      "restored home drifted from the original")
    // the restored home is a NORMAL home: maintenance works on it
    Dedup.compactMinhashIndex(spark, dest)
    assert(canon(sets(dest)) == before, "compact after restore drifted")
  }

  test("roundtrip: a sharded home restores whole — manifest, shards, " +
      "and serving all intact") {
    val docs = graft.sources.Tables.documents(spark, base).limit(80)
    val home = graft.sources.Scratch.dir("bk-shard")
    val bk = graft.sources.Scratch.dir("bk-shard-copy")
    val dest = graft.sources.Scratch.dir("bk-shard-restored")
    fsOf(dest).delete(new org.apache.hadoop.fs.Path(dest), true)
    ShardedIndex.writeMinhash(docs, home, shards = 2,
      id = "doc_id", text = "text")
    val before = canon(ShardedIndex.readMinhashSharded(spark, home).sets)
    IndexBackup.backup(spark, home, bk)
    IndexBackup.restore(spark, bk, dest)
    assert(canon(ShardedIndex.readMinhashSharded(spark, dest).sets)
      == before, "restored sharded home drifted")
  }

  test("a backup skips a staging tree left at a sharded home, whose name " +
      "Spark does not treat as hidden") {
    val prefix = ShardedIndex.StagingPrefix
    assert(!prefix.startsWith("_") && !prefix.startsWith("."), prefix)
    val docs = graft.sources.Tables.documents(spark, base).limit(40)
    val home = graft.sources.Scratch.dir("bk-staging")
    val bk = graft.sources.Scratch.dir("bk-staging-copy")
    ShardedIndex.writeMinhash(docs, home, shards = 2,
      id = "doc_id", text = "text")
    // the residue of a crashed routed write: rows staged by shard
    docs.limit(5).withColumn("g_shard", lit(0)).write.mode("overwrite")
      .partitionBy("g_shard").parquet(s"$home/${prefix}write")
    assert(spark.read.parquet(s"$home/${prefix}write").count() == 5)
    import spark.implicits._
    val rels = IndexBackup.backup(spark, home, bk)
      .select("relpath").as[String].collect()
    assert(rels.exists(_.startsWith("shard=")), rels.mkString(","))
    assert(!rels.exists(_.contains(prefix)),
      s"the backup carried the staging tree: ${rels.filter(_.contains(prefix)).mkString(",")}")
  }

  test("refusals: torn backup, tampered bytes, committed overwrite, " +
      "non-empty destination — each loud, each naming the problem") {
    val docs = graft.sources.Tables.documents(spark, base).limit(40)
    val home = graft.sources.Scratch.dir("bk-refuse")
    val bk = graft.sources.Scratch.dir("bk-refuse-copy")
    Dedup.writeMinhashIndex(docs, "doc_id", "text", home)
    IndexBackup.backup(spark, home, bk)
    // 1. a second backup onto a committed one refuses (deliberate-delete)
    val e1 = intercept[IllegalArgumentException] {
      IndexBackup.backup(spark, home, bk)
    }
    assert(e1.getMessage.contains("COMMITTED") &&
      e1.getMessage.contains("deliberate"))
    // 2. tamper with one copied byte → verify flags it, restore refuses
    import spark.implicits._
    val rel = spark.read.parquet(s"$bk/_manifest")
      .filter(col("relpath").endsWith(".parquet"))
      .select("relpath").as[String].head()
    val victim = new org.apache.hadoop.fs.Path(s"$bk/data/$rel")
    val fs = fsOf(bk)
    val bytes = {
      val in = fs.open(victim)
      try {
        val os = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, os, 4096, false)
        os.toByteArray
      } finally in.close()
    }
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x5a).toByte
    val out = fs.create(victim, true)
    try out.write(bytes) finally out.close()
    val flagged = IndexBackup.verify(spark, bk)
      .filter(col("status") === "ERROR").select("check")
      .as[String].collect().toSet
    assert(flagged.contains("checksum"), s"tamper not flagged: $flagged")
    val destT = graft.sources.Scratch.dir("bk-refuse-restored")
    fsOf(destT).delete(new org.apache.hadoop.fs.Path(destT), true)
    val e2 = intercept[IllegalArgumentException] {
      IndexBackup.restore(spark, bk, destT)
    }
    assert(e2.getMessage.contains("integrity"))
    // 3. torn backup (marker gone) refuses by the marker's name
    fs.delete(new org.apache.hadoop.fs.Path(bk, IndexBackup.MarkerFile),
      false)
    val e3 = intercept[IllegalArgumentException] {
      IndexBackup.restore(spark, bk, destT)
    }
    assert(e3.getMessage.contains(IndexBackup.MarkerFile))
    // 4. a fresh good backup refuses a NON-EMPTY destination
    val bk2 = graft.sources.Scratch.dir("bk-refuse-copy2")
    fsOf(bk2).delete(new org.apache.hadoop.fs.Path(bk2), true)
    IndexBackup.backup(spark, home, bk2)
    val e4 = intercept[IllegalArgumentException] {
      IndexBackup.restore(spark, bk2, home)
    }
    assert(e4.getMessage.contains("non-empty"))
  }

  test("backup runs under the home's writer lease: a live foreign " +
      "lease refuses; our lease is gone afterwards") {
    val docs = graft.sources.Tables.documents(spark, base).limit(30)
    val home = graft.sources.Scratch.dir("bk-lease")
    val bk = graft.sources.Scratch.dir("bk-lease-copy")
    fsOf(bk).delete(new org.apache.hadoop.fs.Path(bk), true)
    Dedup.writeMinhashIndex(docs, "doc_id", "text", home)
    // plant a FRESH foreign lease (withLease is call-chain-reentrant,
    // so a real second writer is simulated the way PointerLeaseSpec
    // does: a lease file this chain does not hold)
    val lp = new org.apache.hadoop.fs.Path(home, Dedup.LeaseFile)
    val out = fsOf(home).create(lp, true)
    val props = new java.util.Properties()
    props.setProperty("token", "11112222-3333-4444-5555-666677778888")
    props.setProperty("op", "other-writer")
    props.setProperty("ts", System.currentTimeMillis().toString)
    try props.store(out, "test") finally out.close()
    val e = intercept[IllegalArgumentException] {
      IndexBackup.backup(spark, home, bk)
    }
    assert(e.getMessage.contains("other-writer"))
    fsOf(home).delete(lp, false)
    IndexBackup.backup(spark, home, bk)
    assert(IndexLease.status(spark, home).isEmpty,
      "backup leaked its lease")
  }

  test("refusals 2: a typo'd source path refuses WITHOUT creating the " +
      "directory; a backup location inside the home refuses; a lease " +
      "on a SHARD of a sharded home blocks the whole-home backup") {
    val docs = graft.sources.Tables.documents(spark, base).limit(40)
    // 1. nonexistent source: the old order let IndexLease.acquire
    // mkdirs the typo'd path before the existence check could run
    val ghost = graft.sources.Scratch.dir("bk-ghost") + "-nope"
    val e1 = intercept[IllegalArgumentException] {
      IndexBackup.backup(spark, ghost,
        graft.sources.Scratch.dir("bk-ghost-copy"))
    }
    assert(e1.getMessage.contains("no index home"))
    assert(!fsOf(ghost).exists(new org.apache.hadoop.fs.Path(ghost)),
      "a refused backup created its typo'd source path")
    // 2. backup location nested inside the home: every later backup
    // would re-copy the earlier ones
    val home = graft.sources.Scratch.dir("bk-nest")
    Dedup.writeMinhashIndex(docs, "doc_id", "text", home)
    val e2 = intercept[IllegalArgumentException] {
      IndexBackup.backup(spark, home, s"$home/backups")
    }
    assert(e2.getMessage.contains("INSIDE the"))
    // 3. sharded home: shard-localized maintenance leases only the
    // child dir, so the backup takes the children's leases too — a
    // live lease on ONE shard must refuse the whole-home copy
    val shHome = graft.sources.Scratch.dir("bk-shlease")
    ShardedIndex.writeMinhash(docs, shHome, shards = 2,
      id = "doc_id", text = "text")
    val shardLease = new org.apache.hadoop.fs.Path(
      ShardedIndex.shardDir(shHome, 1), Dedup.LeaseFile)
    val out = fsOf(shHome).create(shardLease, true)
    val props = new java.util.Properties()
    props.setProperty("token", "99998888-7777-6666-5555-444433332222")
    props.setProperty("op", "shard-compactor")
    props.setProperty("ts", System.currentTimeMillis().toString)
    try props.store(out, "test") finally out.close()
    val e3 = intercept[IllegalArgumentException] {
      IndexBackup.backup(spark, shHome,
        graft.sources.Scratch.dir("bk-shlease-copy"))
    }
    assert(e3.getMessage.contains("shard-compactor"),
      s"shard lease did not block the home backup: ${e3.getMessage}")
    fsOf(shHome).delete(shardLease, false)
    // with the shard lease gone the backup completes, and NO lease —
    // home or shard — is left behind
    IndexBackup.backup(spark, shHome,
      graft.sources.Scratch.dir("bk-shlease-copy2"))
    assert(IndexLease.status(spark, shHome).isEmpty &&
      IndexLease.status(spark, ShardedIndex.shardDir(shHome, 1)).isEmpty,
      "backup leaked a lease on the home or a shard")
  }

  test("refusals 3: swapped/typo'd arguments can never recursively " +
      "delete live data — home-inside-backupDir refuses, and a " +
      "marker-less directory that does not LOOK like a torn backup " +
      "refuses to be auto-cleared") {
    val docs = graft.sources.Tables.documents(spark, base).limit(30)
    // 1. home nested under the backup location: backup(home, parent)
    // — before the guard, 'clear the torn prior attempt' at parent
    // recursively deleted the live home before a byte was copied
    val parent = graft.sources.Scratch.dir("bk-swap")
    val home = s"$parent/live_home"
    Dedup.writeMinhashIndex(docs, "doc_id", "text", home)
    val e1 = intercept[IllegalArgumentException] {
      IndexBackup.backup(spark, home, parent)
    }
    assert(e1.getMessage.contains("swapped"), e1.getMessage)
    assert(fsOf(home).exists(new org.apache.hadoop.fs.Path(home)) &&
      sets(home).count() > 0, "the live home was damaged by a refusal")
    // 2. an existing marker-less directory holding anything BEYOND the
    // torn-backup shape (data/, _manifest/, _BACKUP_META) is NOT a
    // crashed prior attempt — a disjoint live tree mis-pointed at must
    // survive the refusal
    val victim = graft.sources.Scratch.dir("bk-victim")
    Dedup.writeMinhashIndex(docs, "doc_id", "text", victim)
    val src = graft.sources.Scratch.dir("bk-swap-src")
    Dedup.writeMinhashIndex(docs, "doc_id", "text", src)
    val e2 = intercept[IllegalArgumentException] {
      IndexBackup.backup(spark, src, victim)
    }
    assert(e2.getMessage.contains("non-backup entries"), e2.getMessage)
    assert(sets(victim).count() > 0,
      "a live directory was auto-cleared as a 'torn backup'")
    // 3. a genuinely torn prior attempt (data/ + meta, NO marker) IS
    // cleared and the backup redone — the recovery path still works
    val torn = graft.sources.Scratch.dir("bk-torn")
    val tfs = fsOf(torn)
    tfs.delete(new org.apache.hadoop.fs.Path(torn), true)
    tfs.mkdirs(new org.apache.hadoop.fs.Path(s"$torn/data"))
    val out = tfs.create(
      new org.apache.hadoop.fs.Path(torn, IndexBackup.MetaFile), true)
    try out.write("source=crashed\n".getBytes("UTF-8"))
    finally out.close()
    IndexBackup.backup(spark, src, torn)
    assert(IndexBackup.verify(spark, torn)
      .filter(org.apache.spark.sql.functions.col("status") =!= "OK")
      .isEmpty, "redo over a torn prior attempt must verify clean")
  }

  test("incremental generations: an unchanged home re-copies ZERO " +
      "bytes, a small CDC batch copies churn-sized bytes (never the " +
      "home), restoreLatest serves bit-exact, a tampered SHARED object " +
      "fails every referencing generation's verify, and the prune GC " +
      "reclaims exactly the unreferenced objects") {
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.documents(spark, base).limit(60)
    val home = graft.sources.Scratch.dir("bk-incr")
    val bh = graft.sources.Scratch.dir("bk-incr-gens")
    fsOf(bh).delete(new org.apache.hadoop.fs.Path(bh), true)
    Dedup.writeMinhashIndex(docs, "doc_id", "text", home)
    def stats(g: String): Map[String, Long] =
      IndexBackup.backupMeta(spark, g).collect {
        case (k, v) if v.forall(_.isDigit) => k -> v.toLong
      }
    val g1 = IndexBackup.rotate(spark, home, bh, keep = 3)
    val s1 = stats(g1)
    assert(s1("copied_files") == s1("files") && s1("reused_files") == 0L,
      s"first generation must ingest everything: $s1")
    // law 1: an UNCHANGED home re-copies nothing — the tick is free
    val g2 = IndexBackup.rotate(spark, home, bh, keep = 3)
    val s2 = stats(g2)
    assert(s2("copied_bytes") == 0L && s2("copied_files") == 0L,
      s"unchanged home re-copied bytes: $s2")
    assert(s2("files") == s1("files") && s2("bytes") == s1("bytes"))
    // law 2: after a SMALL CDC batch the rotation copies ≈ the batch
    // (new partition files + rewritten control files), never the home
    Dedup.appendToMinhashIndex(docs.limit(5)
      .withColumn("doc_id", col("doc_id") + 500000L),
      "doc_id", "text", home, batchId = Some(7L))
    val before = canon(sets(home))
    val g3 = IndexBackup.rotate(spark, home, bh, keep = 3)
    val s3 = stats(g3)
    assert(s3("reused_files") > 0L && s3("copied_files") < s3("files"),
      s"churn rotation re-ingested the home: $s3")
    assert(s3("copied_bytes") * 2 < s3("bytes"),
      s"churn rotation copied more than half the home bytes: $s3")
    // law 3: the latest incremental generation restores bit-exact
    val dest = graft.sources.Scratch.dir("bk-incr-restored")
    fsOf(dest).delete(new org.apache.hadoop.fs.Path(dest), true)
    assert(IndexBackup.restoreLatest(spark, bh, dest) == g3)
    assert(canon(sets(dest)) == before,
      "restored incremental generation drifted")
    // law 4: GC — rotating past retention prunes g1's dir AND drops
    // every object only g1 referenced; what remains is exactly the
    // union of the surviving manifests' content keys, no tmp residue
    val g4 = IndexBackup.rotate(spark, home, bh, keep = 2)
    assert(IndexBackup.generations(spark, bh).size == 2)
    import spark.implicits._
    val surviving = IndexBackup.generations(spark, bh).flatMap { n =>
      spark.read.parquet(s"$bh/b$n/_manifest")
        .select("md5", "length").as[(String, Long)].collect()
        .map { case (m, l) => s"$m-$l" }
    }.toSet
    val objs = fsOf(bh).listStatus(
      new org.apache.hadoop.fs.Path(s"$bh/objects")).toSeq
      .map(_.getPath.getName)
    assert(objs.toSet == surviving,
      s"object store != surviving references: extra=" +
        s"${objs.toSet -- surviving}, missing=${surviving -- objs.toSet}")
    assert(!objs.exists(_.startsWith(".tmp-")), "tmp residue survived GC")
    // law 5: tamper with ONE shared object both survivors reference —
    // BOTH generations' verifies must flag it, and restoreLatest must
    // refuse rather than serve corrupt state
    val shared = spark.read.parquet(s"$bh/b${IndexBackup
      .generations(spark, bh).head}/_manifest")
      .select("md5", "length").as[(String, Long)].collect()
      .map { case (m, l) => s"$m-$l" }
      .find(k => surviving(k)).get
    val victim = new org.apache.hadoop.fs.Path(s"$bh/objects/$shared")
    val fs = fsOf(bh)
    val bytes = {
      val in = fs.open(victim)
      try {
        val os = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, os, 4096, false)
        os.toByteArray
      } finally in.close()
    }
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x5a).toByte
    val out = fs.create(victim, true)
    try out.write(bytes) finally out.close()
    IndexBackup.generations(spark, bh).foreach { n =>
      val bad = IndexBackup.verify(spark, s"$bh/b$n")
        .filter(col("status") === "ERROR").count()
      assert(bad > 0,
        s"generation b$n references the tampered object but verified clean")
    }
    val dest2 = graft.sources.Scratch.dir("bk-incr-refuse")
    fsOf(dest2).delete(new org.apache.hadoop.fs.Path(dest2), true)
    val e = intercept[IllegalArgumentException] {
      IndexBackup.restoreLatest(spark, bh, dest2)
    }
    assert(e.getMessage.contains("integrity"))
  }

  test("shard-localized DR units: the sweep plans per-shard backup " +
      "rows plus the _home shell, the executor rotates exactly those " +
      "units, and restoreShardedLatest reassembles a home that serves " +
      "bit-exact; a missing shard generation refuses the assembly") {
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.documents(spark, base).limit(80)
    val home = graft.sources.Scratch.dir("bk-shu")
    val bh = graft.sources.Scratch.dir("bk-shu-gens")
    fsOf(bh).delete(new org.apache.hadoop.fs.Path(bh), true)
    ShardedIndex.writeMinhash(docs, home, shards = 2,
      id = "doc_id", text = "text")
    val before = canon(ShardedIndex.readMinhashSharded(spark, home).sets)
    val homes = Seq("sh" -> home)
    val bks = Map("sh" -> bh)
    val plan = graft.operators.IndexAudit.maintenancePlan(spark, homes,
      backups = bks)
    val planned = plan.filter(col("action") === "backup").collect()
      .map(r => (r.getString(1), r.getString(3))).toSet
    assert(planned == Set(("_home", "backup_missing"),
      ("shard=0", "backup_missing"), ("shard=1", "backup_missing")),
      s"DR units not shard-localized: $planned")
    val did = graft.operators.IndexAudit.applyPlan(spark, plan,
      homes.toMap, backups = bks)
      .filter(col("action") === "backup").collect()
      .map(r => (r.getString(1), r.getString(3))).toSet
    assert(did.forall(_._2 == "applied") && did.size == 3, s"$did")
    // each unit rotated into ITS OWN generation home
    assert(IndexBackup.generations(spark, s"$bh/_home") == Seq(1))
    assert(IndexBackup.generations(spark, s"$bh/shard=0") == Seq(1))
    assert(IndexBackup.generations(spark, s"$bh/shard=1") == Seq(1))
    // the re-sweep is clean
    val again = graft.operators.IndexAudit.maintenancePlan(spark, homes,
      backups = bks).filter(col("action") === "none").count()
    assert(again == 1L, "re-sweep after per-shard rotations not clean")
    // reassembly: shell + shards → a home that serves bit-exact and
    // still takes maintenance
    val dest = graft.sources.Scratch.dir("bk-shu-restored")
    fsOf(dest).delete(new org.apache.hadoop.fs.Path(dest), true)
    val restored = IndexBackup.restoreShardedLatest(spark, bh, dest)
    assert(restored.keySet == Set("_home", "shard=0", "shard=1"))
    assert(canon(ShardedIndex.readMinhashSharded(spark, dest).sets)
      == before, "reassembled sharded home drifted")
    // a missing shard generation refuses BEFORE serving a smaller
    // corpus, and removes the partial assembly
    fsOf(bh).delete(new org.apache.hadoop.fs.Path(s"$bh/shard=1"), true)
    val dest2 = graft.sources.Scratch.dir("bk-shu-partial")
    fsOf(dest2).delete(new org.apache.hadoop.fs.Path(dest2), true)
    val e = intercept[IllegalArgumentException] {
      IndexBackup.restoreShardedLatest(spark, bh, dest2)
    }
    assert(e.getMessage.contains("shard 1"), e.getMessage)
    assert(!fsOf(dest2).exists(new org.apache.hadoop.fs.Path(dest2)) ||
      fsOf(dest2).listStatus(
        new org.apache.hadoop.fs.Path(dest2)).isEmpty,
      "a refused assembly left a partial home behind")
  }

  test("rotation: monotonic numbering across torn generations, " +
      "retention keeps the newest 2, latest never points at a torn " +
      "generation; the planner flags stale backups and the executor " +
      "closes the loop") {
    val docs = graft.sources.Tables.documents(spark, base).limit(30)
    val home = graft.sources.Scratch.dir("bk-rot")
    val bh = graft.sources.Scratch.dir("bk-rot-gens")
    Dedup.writeMinhashIndex(docs, "doc_id", "text", home)
    val before = canon(sets(home))
    val g1 = IndexBackup.rotate(spark, home, bh)
    assert(g1.endsWith("/b1") &&
      IndexBackup.generations(spark, bh) == Seq(1))
    // a crashed rotation leaves a TORN b2 (no marker): latest must
    // keep pointing at b1, and the next rotation must number PAST the
    // torn generation (monotonic) while cleaning it up
    fsOf(bh).mkdirs(new org.apache.hadoop.fs.Path(s"$bh/b2"))
    assert(IndexBackup.latest(spark, bh).contains(g1),
      "a torn generation shadowed a committed one")
    val g3 = IndexBackup.rotate(spark, home, bh)
    assert(g3.endsWith("/b3"), s"numbering not monotonic: $g3")
    assert(IndexBackup.generations(spark, bh) == Seq(1, 3))
    assert(!fsOf(bh).exists(new org.apache.hadoop.fs.Path(s"$bh/b2")),
      "torn generation survived a rotation")
    // retention: the 3rd committed generation prunes b1 (keep = 2)
    IndexBackup.rotate(spark, home, bh)
    assert(IndexBackup.generations(spark, bh) == Seq(3, 4))
    // restoreLatest restores b4 and the content round-trips
    val dest = graft.sources.Scratch.dir("bk-rot-restored")
    fsOf(dest).delete(new org.apache.hadoop.fs.Path(dest), true)
    assert(IndexBackup.restoreLatest(spark, bh, dest).endsWith("/b4"))
    assert(canon(sets(dest)) == before, "restored latest drifted")
    // planner: age b4's marker past the cadence bound → backup_stale
    // @4; the executor rotates (b5) and the re-sweep is clean
    val marker = new org.apache.hadoop.fs.Path(
      s"$bh/b4", IndexBackup.MarkerFile)
    fsOf(bh).setTimes(marker,
      System.currentTimeMillis() - 7200000L, -1L)
    val homes = Seq("h" -> home)
    val bks = Map("h" -> bh)
    val plan = graft.operators.IndexAudit.maintenancePlan(spark, homes,
      backups = bks, maxBackupAgeMs = 3600000L)
    val row = plan.filter(col("action") === "backup").collect()
    assert(row.length == 1 && row(0).getString(3) == "backup_stale" &&
      row(0).getLong(4) == 4L, s"stale backup not planned: ${row.toSeq}")
    val outcome = graft.operators.IndexAudit.applyPlan(spark, plan,
      homes.toMap, backups = bks)
      .filter(col("action") === "backup").collect()
    assert(outcome.length == 1 && outcome(0).getString(3) == "applied")
    assert(IndexBackup.generations(spark, bh) == Seq(4, 5))
    val replan = graft.operators.IndexAudit.maintenancePlan(spark,
      homes, backups = bks, maxBackupAgeMs = 3600000L)
    assert(replan.filter(col("action") === "none").count() == 1L,
      "re-sweep after the executed backup is not clean")
    // without a backup location the executor SKIPS the row — never
    // invents a destination
    val skipped = graft.operators.IndexAudit.applyPlan(spark, plan,
      homes.toMap)
      .filter(col("action") === "backup").collect()
    assert(skipped.length == 1 && skipped(0).getString(3) == "skipped")
  }
}
