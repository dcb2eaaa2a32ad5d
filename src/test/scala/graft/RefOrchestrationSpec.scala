package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipelines.{RefOrchestration, RefPipeline}
import graft.queries.RefFixtures
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Laws for the two ETL entry points (the reference DAG's scheduler
  * semantics, `dags/etl.py:148-157`): exactly-once pickup of arrived
  * files across incremental runs, no-op on an idle re-run
  * (`catchup=False`), byte-level determinism of every sink so a
  * retried/replayed run is indistinguishable from the first, batch ≡
  * incremental over the same inputs, and one writer per outDir. The
  * incremental ≡ one-shot value law is gated in CORRECTNESS
  * (`ref_pipeline_incremental` vs the DuckDB one-shot join); this spec
  * pins the orchestration behaviors the oracle can't see. */
class RefOrchestrationSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** file name → md5 of contents for every regular file under dir,
    * excluding the checkpoint (offset logs are run bookkeeping) unless
    * `checkpoint` is set. */
  private def inventory(dir: String,
                        checkpoint: Boolean = false): Map[String, String] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && (checkpoint ||
        !root.relativize(p).toString.contains("_checkpoint")))
      .map { p =>
        val md = java.security.MessageDigest.getInstance("MD5")
        root.relativize(p).toString ->
          md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
      }.toMap
  }

  private def freshRoot(): (String, String) = {
    val root = Files.createTempDirectory("refpipe-spec")
    (s"$root/in", s"$root/out")
  }

  /** Dimension sources plus fact chunk 0, staged both ways: as the
    * arrival `orders/chunk0.csv` and as the batch input `orders.csv`. */
  private def stageBoth(in: String): Unit = {
    RefFixtures.stageDims(spark, sf, in)
    RefFixtures.stageFactChunk(spark, sf, in, 0)
    Files.copy(Paths.get(s"$in/orders/chunk0.csv"), Paths.get(s"$in/orders.csv"))
  }

  /** An entry point and what its re-run over unchanged facts returns,
    * given the first run's summary. */
  private case class EntryPoint(name: String,
                                run: (String, String) => RefOrchestration.RunSummary,
                                rerun: RefOrchestration.RunSummary => RefOrchestration.RunSummary)

  private val entryPoints = Seq(
    EntryPoint("runBatch", RefOrchestration.runBatch(spark, _, _), identity),
    EntryPoint("runIncremental", RefOrchestration.runIncremental(spark, _, _),
      _ => RefOrchestration.RunSummary(0, 0)))

  test("arrived files are processed exactly once; idle re-run is a byte-level no-op") {
    val (in, out) = freshRoot()
    RefFixtures.stageDims(spark, sf, in)
    RefFixtures.stageFactChunk(spark, sf, in, 0)
    val r1 = RefOrchestration.runIncremental(spark, in, out)
    assert(r1.batches == 1 && r1.ordersRows > 0)

    // landing run with unchanged dimension sources: users/products
    // untouched — same file names (writer UUIDs) and same bytes
    val dims = () => (inventory(s"$out/users"), inventory(s"$out/products"))
    val dimsBefore = dims()
    RefFixtures.stageFactChunk(spark, sf, in, 1)
    val r2 = RefOrchestration.runIncremental(spark, in, out)
    assert(r2.batches == 1, "second run must process ONLY the new chunk")
    assert(dims() == dimsBefore,
      "landing run with unchanged sources rewrote a dimension sink")

    val ordersAfter2 = inventory(s"$out/orders")
    assert(ordersAfter2.keys.exists(_.contains("ingest_batch=0")) &&
      ordersAfter2.keys.exists(_.contains("ingest_batch=1")),
      s"expected two batch partitions, got ${ordersAfter2.keys}")

    // idle third run: no batches, every sink untouched byte-for-byte
    val r3 = RefOrchestration.runIncremental(spark, in, out)
    assert(r3 == RefOrchestration.RunSummary(0, 0),
      s"idle re-run did work: $r3 — catchup=False law broken")
    assert(inventory(s"$out/orders") == ordersAfter2,
      "idle re-run changed the orders sink")
    assert(dims() == dimsBefore, "idle re-run rewrote a dimension sink")

    // value law: two incremental runs == one-shot batch over both chunks
    val (inB, outB) = freshRoot()
    RefFixtures.stageDims(spark, sf, inB)
    RefFixtures.stageFactChunk(spark, sf, inB, 0)
    RefFixtures.stageFactChunk(spark, sf, inB, 1)
    val rB = RefOrchestration.runIncremental(spark, inB, outB)
    assert(rB.batches == 1, "both pending files should drain in one batch")
    val inc = RefOrchestration.readOrdersSink(spark, out)
    val oneShot = RefOrchestration.readOrdersSink(spark, outB)
    assert(inc.count() == r1.ordersRows + r2.ordersRows)
    assert(inc.exceptAll(oneShot).isEmpty && oneShot.exceptAll(inc).isEmpty,
      "incremental sink != one-shot sink")
  }

  test("users sink: gender normalized (P5) and birthday ISO-truncated (P6)") {
    val (in, out) = freshRoot()
    RefFixtures.stageDims(spark, sf, in)
    RefFixtures.stageFactChunk(spark, sf, in, 0)
    RefOrchestration.runIncremental(spark, in, out)
    val users = spark.read.parquet(s"$out/users")
    assert(users.count() > 0)
    // the read-back schema every run joins against is the written one
    assert(users.schema.map(f => f.name -> f.dataType) ==
      RefOrchestration.usersSinkSchema.map(f => f.name -> f.dataType))
    val genders = users.select("Gender").distinct()
      .collect().map(_.getString(0)).toSet
    assert(genders.subsetOf(Set("M", "F")),
      s"staged Male/f/F must normalize to M/F, got $genders")
    val bad = users.filter(!org.apache.spark.sql.functions.col("BirthDay")
      .rlike("^\\d{4}-\\d{2}-\\d{2}$")).count()
    assert(bad == 0, s"$bad BirthDay values not ISO-day-truncated")
  }

  // ---- dimension refresh: fingerprint-gated rewrite ---------------------

  /** Content hashes of a sink's data files, leaving out the `_source`
    * marker (it carries mtimes) — names carry writer UUIDs. */
  private def contentHashes(inv: Map[String, String]): Seq[String] =
    inv.filter { case (k, _) => !k.contains(RefOrchestration.SourceMarker) }
      .values.toSeq.sorted

  private def partFiles(inv: Map[String, String]): Set[String] =
    inv.keySet.filter(_.startsWith("part-"))

  test("a changed dimension source rewrites its sink; new batches join the new snapshot") {
    val (in, out) = freshRoot()
    RefFixtures.stageDims(spark, sf, in)
    RefFixtures.stageFactChunk(spark, sf, in, 0)
    RefOrchestration.runIncremental(spark, in, out)
    val batch0 = inventory(s"$out/orders/ingest_batch=0")
    val products0 = inventory(s"$out/products")
    val users0 = inventory(s"$out/users")
    val userOf = (id: Long) => spark.read.parquet(s"$out/users")
      .filter(s"Id = $id").collect()
    assert(userOf(1).map(_.getAs[String]("Gender")).toSeq == Seq("F"))

    // user 1's gender f → Male; user 2's document re-keyed out of users.csv,
    // so J1 drops user 2 and J3 must drop user 2's new orders — gender is
    // not an orders column, the re-key is what the fact join can show
    val infoPath = Paths.get(s"$in/user_info.json")
    val info = Files.readString(infoPath)
    val edited = info
      .replaceFirst("(\\{\"document\":100001,[^}]*\"gender\":)\"f\"", "$1\"Male\"")
      .replace("\"document\":100002,", "\"document\":999002,")
    assert(edited.length == info.length + 3 && edited.contains("999002"),
      "fixture edit did not apply")
    Files.writeString(infoPath, edited)

    RefFixtures.stageFactChunk(spark, sf, in, 1)
    val user2 = org.apache.spark.sql.functions.col("User_ID") === 2
    assert(spark.read.option("header", "true")
      .schema(graft.sources.Tables.refOrdersSchema)
      .csv(s"$in/orders/chunk1.csv").filter(user2).count() > 0,
      "fixture: chunk 1 has no orders of user 2")
    val r = RefOrchestration.runIncremental(spark, in, out)
    assert(r.batches == 1)

    val users1 = inventory(s"$out/users")
    assert(partFiles(users1).intersect(partFiles(users0)).isEmpty,
      "users sink was not rewritten after user_info.json changed")
    assert(userOf(1).map(_.getAs[String]("Gender")).toSeq == Seq("M"))
    assert(userOf(2).isEmpty)
    assert(inventory(s"$out/products") == products0,
      "products sink rewritten although products.csv is unchanged")
    assert(inventory(s"$out/orders/ingest_batch=0") == batch0,
      "an earlier batch partition changed")

    val newBatch = spark.read.parquet(s"$out/orders/ingest_batch=1")
    assert(newBatch.count() == r.ordersRows && newBatch.filter(user2).isEmpty,
      "new batch joined against the old users snapshot")
    assert(spark.read.parquet(s"$out/orders/ingest_batch=0")
      .filter(user2).count() > 0, "batch 0 lost user 2's orders")
  }

  test("an mtime-only source change rewrites the sink with identical bytes") {
    for (e <- entryPoints) {
      val (in, out) = freshRoot()
      stageBoth(in)
      val r1 = e.run(in, out)
      val before = Seq("users", "products").map(t => inventory(s"$out/$t"))
      for (f <- Seq("products.csv", "user_info.json")) {
        val p = Paths.get(s"$in/$f")
        Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(
          Files.getLastModifiedTime(p).toMillis + 10000))
      }
      assert(e.run(in, out) == e.rerun(r1), e.name)
      val after = Seq("users", "products").map(t => inventory(s"$out/$t"))
      for (((b, a), t) <- before.zip(after).zip(Seq("users", "products"))) {
        assert(partFiles(a).intersect(partFiles(b)).isEmpty,
          s"${e.name}: $t sink was not rewritten after its source's mtime moved")
        // determinism law: a rewrite from identical input is byte-identical
        assert(contentHashes(a) == contentHashes(b),
          s"${e.name}: $t dimension rewrite is not byte-deterministic")
      }
    }
  }

  test("a deleted sink or a missing _source marker leads to a rewrite") {
    for (e <- entryPoints) {
      val (in, out) = freshRoot()
      stageBoth(in)
      e.run(in, out)
      val users0 = inventory(s"$out/users")
      val products0 = inventory(s"$out/products")

      // deleted sink
      Files.walk(Paths.get(s"$out/users")).iterator().asScala.toSeq.reverse
        .foreach(Files.delete(_))
      RefFixtures.stageFactChunk(spark, sf, in, 1)
      assert(e.run(in, out).batches == 1, e.name)
      val users1 = inventory(s"$out/users")
      assert(partFiles(users1).nonEmpty &&
        users1.keySet.contains(RefOrchestration.SourceMarker), e.name)
      assert(contentHashes(users1) == contentHashes(users0), e.name)
      assert(inventory(s"$out/products") == products0, e.name)

      // write committed, marker never written (a crash in between)
      Files.delete(Paths.get(s"$out/products/${RefOrchestration.SourceMarker}"))
      e.run(in, out)
      val products1 = inventory(s"$out/products")
      assert(partFiles(products1).intersect(partFiles(products0)).isEmpty,
        s"${e.name}: products sink without a marker was not rewritten")
      assert(contentHashes(products1) == contentHashes(products0), e.name)
      assert(inventory(s"$out/users") == users1, e.name)
    }
  }

  test("a batch replayed after a crash before its commit rewrites its partition byte-identically") {
    val (in, out) = freshRoot()
    RefFixtures.stageDims(spark, sf, in)
    RefFixtures.stageFactChunk(spark, sf, in, 0)
    val r1 = RefOrchestration.runIncremental(spark, in, out)
    assert(r1.batches == 1)
    val batch0 = contentHashes(inventory(s"$out/orders/ingest_batch=0"))

    // crash after the partition write, before the offset commit: the
    // offset log still holds batch 0, the commit log does not
    val commits = Paths.get(s"$out/_checkpoint/commits")
    val last = Files.list(commits).iterator().asScala
      .map(_.getFileName.toString).filter(_.forall(_.isDigit))
      .maxBy(_.toLong)
    Files.delete(commits.resolve(last))
    Files.deleteIfExists(commits.resolve(s".$last.crc"))

    val r2 = RefOrchestration.runIncremental(spark, in, out)
    assert(r2 == RefOrchestration.RunSummary(1, r1.ordersRows),
      s"replay returned $r2, expected the first run's $r1")
    assert(contentHashes(inventory(s"$out/orders/ingest_batch=0")) == batch0,
      "replayed batch partition is not byte-identical")
    assert(RefOrchestration.readOrdersSink(spark, out).count() == r1.ordersRows,
      "replay appended duplicate rows")
  }

  // ---- batch entry point ------------------------------------------------

  /** `body`'s result and the shuffle bytes its tasks wrote. */
  private def withShuffleBytes[T](body: => T): (T, Long) = {
    val n = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(t.taskMetrics).foreach(m =>
          n.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.sql.graftbridge.ColumnBridge.drainListenerBus(spark)
      (r, n.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("runBatch and runIncremental over the same inputs write the same sinks") {
    val (in, outInc) = freshRoot()
    stageBoth(in)
    val outBatch = s"${Paths.get(outInc).getParent}/out-batch"
    val rB = RefOrchestration.runBatch(spark, in, outBatch)
    val rI = RefOrchestration.runIncremental(spark, in, outInc)
    assert(rB == RefOrchestration.RunSummary(1, rI.ordersRows) && rI.ordersRows > 0,
      s"batch $rB vs incremental $rI")
    val batch = RefOrchestration.readOrdersSink(spark, outBatch)
    val inc = RefOrchestration.readOrdersSink(spark, outInc)
    assert(batch.count() == rB.ordersRows)
    assert(batch.exceptAll(inc).isEmpty && inc.exceptAll(batch).isEmpty,
      "batch orders sink != incremental orders sink")
    for (t <- Seq("users", "products")) {
      assert(contentHashes(inventory(s"$outBatch/$t")) ==
        contentHashes(inventory(s"$outInc/$t")), s"$t sinks differ")
      val marker = (o: String) =>
        Files.readString(Paths.get(s"$o/$t/${RefOrchestration.SourceMarker}"))
      assert(marker(outBatch) == marker(outInc), s"$t _source markers differ")
    }
  }

  test("a runBatch rerun keeps the dimension sinks, rewrites orders " +
    "byte-identically and shuffles nothing") {
    val (in, out) = freshRoot()
    stageBoth(in)
    // the first run writes the dimension sinks through one sorting task
    val (r1, firstShuffled) =
      withShuffleBytes(RefOrchestration.runBatch(spark, in, out))
    assert(firstShuffled > 0, "the listener saw no shuffle in the dimension writes")
    val dims = () => (inventory(s"$out/users"), inventory(s"$out/products"))
    val dimsBefore = dims()
    val orders1 = inventory(s"$out/orders")
    val (r2, shuffled) = withShuffleBytes(RefOrchestration.runBatch(spark, in, out))
    assert(r2 == r1)
    assert(dims() == dimsBefore,
      "a rerun over unchanged sources rewrote a dimension sink")
    val orders2 = inventory(s"$out/orders")
    assert(partFiles(orders2).intersect(partFiles(orders1)).isEmpty,
      "the rerun did not rewrite the orders sink")
    assert(contentHashes(orders2) == contentHashes(orders1),
      "orders rewrite is not byte-deterministic")
    assert(shuffled == 0L, s"the rerun wrote $shuffled shuffle bytes")
  }

  // ---- sink layouts: each sink clustered by its key ----------------------

  /** The parquet data files under `dir`, in file-name order. */
  private def dataFiles(dir: String): Seq[String] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.startsWith("part-"))
      .map(_.toString).toSeq.sorted

  /** A `runBatch` over an input split 3 ways through
    * `spark.sql.files.maxPartitionBytes`, so several tasks each write an
    * orders part file; returns those files. */
  private def splitBatchOrders(): Seq[String] = {
    val (in, out) = freshRoot()
    stageBoth(in)
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, (Files.size(Paths.get(s"$in/orders.csv")) / 3 + 1).toString)
    try RefOrchestration.runBatch(spark, in, out)
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val files = dataFiles(s"$out/orders")
    assert(files.size > 1, s"expected several part files, got $files")
    files
  }

  /** The rows of one parquet file, projected on `key`, in file order. */
  private def keyRows(file: String, key: Seq[String]): Seq[org.apache.spark.sql.Row] =
    spark.read.parquet(file).select(key.map(org.apache.spark.sql.functions.col): _*)
      .collect().toSeq

  /** Runs `body` and returns, per parquet write whose output path
    * `written` accepts, (output path, Sort nodes in its optimized plan). */
  private def sortsPerWrite(written: String => Boolean)(body: => Unit): Seq[(String, Int)] = {
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    val sorts = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit = qe.optimizedPlan match {
        case w: InsertIntoHadoopFsRelationCommand if written(w.outputPath.toString) =>
          sorts.add(w.outputPath.toString -> w.collect { case s: Sort => s }.size)
        case _ =>
      }
      override def onFailure(f: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      org.apache.spark.sql.graftbridge.ColumnBridge.drainListenerBus(spark)
    } finally spark.listenerManager.unregister(l)
    sorts.asScala.toSeq
  }

  test("runBatch writes every orders part file non-decreasing in Product_ID") {
    for (f <- splitBatchOrders()) {
      val ids = spark.read.parquet(f).select("Product_ID").collect()
        .map(_.getLong(0)).toSeq
      assert(ids.nonEmpty && ids == ids.sorted,
        s"$f is not clustered by Product_ID")
    }
  }

  test("runBatch writes every orders part file non-decreasing in " +
    "Product_ID, Fecha, User_ID") {
    assert(RefPipeline.ordersKey == Seq("Product_ID", "Fecha", "User_ID"))
    for (f <- splitBatchOrders()) {
      val rows = keyRows(f, RefPipeline.ordersKey)
      assert(rows.nonEmpty && nonDecreasing(rows),
        s"$f is not sorted by ${RefPipeline.ordersKey}")
    }
  }

  test("every users part file is non-decreasing in Email, and each " +
    "dimension write sorts once") {
    assert(RefPipeline.usersKey == Seq("Email"))
    for (e <- entryPoints) {
      val (in, out) = freshRoot()
      stageBoth(in)
      val sorts = sortsPerWrite(p => p.endsWith("/users") || p.endsWith("/products")) {
        e.run(in, out)
      }
      assert(sorts.map(_._1.split('/').last).sorted == Seq("products", "users") &&
        sorts.forall(_._2 == 1), s"${e.name}: Sorts per dimension write: $sorts")
      for ((t, key) <- Seq("users" -> RefPipeline.usersKey,
          "products" -> RefPipeline.productsKey); f <- dataFiles(s"$out/$t")) {
        val rows = keyRows(f, key)
        assert(rows.nonEmpty && nonDecreasing(rows), s"${e.name}: $f is not sorted by $key")
      }
    }
  }

  test("each ingest_batch file is sorted by the product-first key, " +
    "and its write sorts once") {
    val (in, out) = freshRoot()
    RefFixtures.stageDims(spark, sf, in)
    RefFixtures.stageFactChunk(spark, sf, in, 0)
    // Sorts in the optimized plan of each per-arrival write
    val sorts = sortsPerWrite(_.contains("ingest_batch=")) {
      RefOrchestration.runIncremental(spark, in, out)
      RefFixtures.stageFactChunk(spark, sf, in, 1)
      RefOrchestration.runIncremental(spark, in, out)
    }.map(_._2)
    assert(sorts == Seq(1, 1), s"Sorts per arrival write: $sorts")

    // product first, and a total order: the key covers every column
    assert(RefOrchestration.arrivalSortKey.head == "Product_ID" &&
      RefOrchestration.arrivalSortKey.sorted ==
        RefOrchestration.readOrdersSink(spark, out).columns.toSeq.sorted)
    val files = dataFiles(s"$out/orders")
    assert(files.count(_.contains("ingest_batch=")) == 2, s"$files")
    val key = RefOrchestration.arrivalSortKey.map(org.apache.spark.sql.functions.col)
    for (f <- files) {
      val rows = spark.read.parquet(f).select(key: _*)
      assert(rows.collect().toSeq == rows.sort(key: _*).collect().toSeq,
        s"$f is not sorted by ${RefOrchestration.arrivalSortKey}")
    }
  }

  test("runBatch refuses an incremental outDir before writing anything") {
    val (in, out) = freshRoot()
    stageBoth(in)
    RefOrchestration.runIncremental(spark, in, out)
    val before = inventory(out, checkpoint = true)
    val ex = intercept[IllegalArgumentException] {
      RefOrchestration.runBatch(spark, in, out)
    }
    assert(ex.getMessage.contains("_checkpoint"), ex.getMessage)
    assert(inventory(out, checkpoint = true) == before,
      "a refused runBatch changed the incremental outDir")
  }

  test("runIncremental refuses a batch outDir before writing anything") {
    val (in, out) = freshRoot()
    stageBoth(in)
    RefOrchestration.runBatch(spark, in, out)
    val before = inventory(out, checkpoint = true)
    val ex = intercept[IllegalArgumentException] {
      RefOrchestration.runIncremental(spark, in, out)
    }
    assert(ex.getMessage.contains("runBatch"), ex.getMessage)
    assert(inventory(out, checkpoint = true) == before,
      "a refused runIncremental changed the batch outDir")
    assert(!Files.exists(Paths.get(s"$out/_checkpoint")),
      "a refused runIncremental left a _checkpoint")
  }

  test("an overlapping run refuses loudly naming the holder; a stale " +
    "lease is taken over") {
    val leaseFile = graft.operators.Dedup.LeaseFile
    def plantLease(out: String, ts: Long): Unit = {
      val props = new java.util.Properties()
      props.setProperty("token", "11112222-3333-4444-5555-666677778888")
      props.setProperty("op", "otherWriter.run")
      props.setProperty("ts", ts.toString)
      val w = Files.newOutputStream(Paths.get(s"$out/$leaseFile"))
      try props.store(w, "test") finally w.close()
    }
    for (e <- entryPoints) {
      val (in, out) = freshRoot()
      stageBoth(in)
      e.run(in, out)
      // pending work for the refused run: a changed user_info.json and,
      // for the incremental run, an arrived chunk
      val info = Paths.get(s"$in/user_info.json")
      Files.setLastModifiedTime(info, java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(info).toMillis + 10000))
      RefFixtures.stageFactChunk(spark, sf, in, 1)
      val sinks = () => inventory(out, checkpoint = true)
        .filter { case (k, _) => !k.contains(leaseFile) }
      val before = sinks()
      val users0 = inventory(s"$out/users")

      plantLease(out, System.currentTimeMillis())
      val ex = intercept[IllegalArgumentException](e.run(in, out))
      assert(ex.getMessage.contains("otherWriter.run"),
        s"${e.name}: refusal does not name the holder: ${ex.getMessage}")
      assert(sinks() == before, s"${e.name}: a refused run changed the outDir")

      // the holder is long dead: the run takes over and completes
      plantLease(out, System.currentTimeMillis() -
        graft.operators.IndexLease.ttlMs - 60000L)
      assert(e.run(in, out).batches == 1, e.name)
      assert(partFiles(inventory(s"$out/users")).intersect(partFiles(users0)).isEmpty,
        s"${e.name}: the takeover run did not refresh users")
      assert(!inventory(out).keys.exists(_.contains(leaseFile)),
        s"${e.name}: lease files left after the run")
    }
  }
}
