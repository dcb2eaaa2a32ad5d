package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.pipelines.RefOrchestration

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val etl = EtlSizes(products = 20, productIds = 26, users = 100, userInfo = 150)
  private val corpus = CorpusSizes(baseDocs = 300, vocab = 500, batchDocs = 40,
    dupsPerBatch = 4, revivalsPerBatch = 2, deletesPerBatch = 5,
    queriesPerBatch = 6, k = 5)

  private lazy val spark: SparkSession = graft.GraftSession.getOrCreate("local[2]", 4)
  private lazy val root: Path = Files.createTempDirectory("perfbench-test")

  override def afterAll(): Unit = {
    spark.stop()
    Fs.delete(root)
  }

  private def dir(name: String): Path = Files.createDirectories(root.resolve(name))

  private def etlInputs(seed: Long, d: Path): (EtlExpected, Digest, Seq[Array[Byte]]) = {
    val gen = new EtlGen(seed, etl)
    gen.writeDimensions(d)
    val (orders, _) = gen.writeOrders(d.resolve("orders.csv"), 0, 2000, EtlGen.FirstDay, 7)
    val files = Seq("products.csv", "users.csv", "user_info.json", "orders.csv")
      .map(f => Files.readAllBytes(d.resolve(f)))
    (gen.expected, orders, files)
  }

  test("the same seed gives identical inputs and expected values, another seed does not") {
    val (e1, o1, f1) = etlInputs(7, dir("seed7a"))
    val (e2, o2, f2) = etlInputs(7, dir("seed7b"))
    val (e3, o3, f3) = etlInputs(8, dir("seed8"))
    assert(f1.map(_.toSeq) == f2.map(_.toSeq))
    assert(e1 == e2 && o1 == o2)
    f1.zip(f3).foreach { case (a, b) => assert(a.toSeq != b.toSeq) }
    assert(e1 != e3 && o1 != o3)

    def batches(seed: Long) = {
      val g = new CorpusGen(seed, corpus)
      (g.base, Seq.fill(3)(g.nextBatch()))
    }
    val (b1, s1) = batches(7)
    val (b2, s2) = batches(7)
    val (b3, s3) = batches(8)
    assert(b1 == b2 && s1 == s2)
    assert(b1 != b3 && s1 != s3)
    s1.foreach(b => assert(b.dupPairs.size == corpus.dupsPerBatch))
  }

  test("reference invariants: unmatched product ids, extra user_info, five genders, ISO birthdays") {
    val d = dir("invariants")
    etlInputs(3, d)
    val products = Files.readAllLines(d.resolve("products.csv")).size - 1
    assert(products == etl.products)
    val json = new String(Files.readAllBytes(d.resolve("user_info.json")), "UTF-8")
    assert("\"document\"".r.findAllIn(json).size == etl.userInfo)
    EtlGen.Genders.foreach(g => assert(json.contains(s""""gender": "$g"""")))
    assert("""\d{4}-\d\d-\d\dT\d\d:\d\d:\d\d""".r.findFirstIn(json).nonEmpty)
  }

  test("the output check fails when one output row is dropped or altered") {
    val w = new EtlBatch(5, etl, 2000)
    val d = dir("batch")
    w.setup(spark, d)
    w.run(Tracer.off)
    w.check(d.resolve("out"))

    val orders = spark.read.parquet(s"${d.resolve("out")}/orders")
    val rows = orders.collect().toSeq
    def sinksWith(name: String, ordersRows: Seq[Row]): Path = {
      val o = dir(name)
      spark.createDataFrame(spark.sparkContext.parallelize(ordersRows), orders.schema)
        .write.parquet(s"$o/orders")
      Seq("users", "products").foreach(t =>
        spark.read.parquet(s"${d.resolve("out")}/$t").write.parquet(s"$o/$t"))
      o
    }
    intercept[CheckFailed](w.check(sinksWith("dropped", rows.tail)))
    val r = rows.head
    val altered = Row.fromSeq(r.toSeq.updated(r.fieldIndex("Price"), r.getAs[Long]("Price") + 1))
    intercept[CheckFailed](w.check(sinksWith("altered", altered +: rows.tail)))
  }

  test("a rerun with no new file is a no-op: RunSummary(0, 0)") {
    val w = new EtlIncremental(5, etl, 500, 4)
    val d = dir("incremental")
    w.setup(spark, d)
    w.prepare()
    w.run(Tracer.off)
    val rerun = RefOrchestration.runIncremental(spark, d.resolve("in").toString,
      d.resolve("out").toString)
    assert(rerun == RefOrchestration.RunSummary(0, 0))
    // the workload's own no-op step asserts the same
    w.prepare()
    w.run(Tracer.off)
  }

  test("over many batches, the planted pairs are the only incoming copies of live documents") {
    for (seed <- 1L to 4L) {
      val g = new CorpusGen(seed, corpus)
      val live = collection.mutable.Map(g.base: _*)
      (1 to 40).foreach { _ =>
        val b = g.nextBatch()
        val texts = live.values.toSet
        b.dupPairs.foreach { case (id, src) =>
          assert(b.incoming.toMap.apply(id) == live(src))
        }
        val planted = b.dupPairs.map(_._1)
        val novel = b.incoming.filterNot(d => planted(d._1))
        assert(novel.forall(d => !texts(d._2)), s"seed $seed batch ${b.id}")
        assert(novel.map(_._2).distinct.size == novel.size, s"seed $seed batch ${b.id}")
        b.tombstones.foreach(live.remove)
        live ++= novel
        assert(b.liveDocs == live.size)
      }
    }
  }

  test("corpus batches: the gate, both CDC applies and both boards match the oracle") {
    for (seed <- Seq(5L, 6L)) {
      val w = new CorpusIngest(seed, corpus)
      w.setup(spark, dir(s"corpus$seed"))
      (1 to 5).foreach { _ =>
        w.prepare()
        w.run(Tracer.off)
      }
    }
  }
}
