package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Bm25Index, Dedup}
import graft.pipelines.{RefOrchestration, RefPipeline}
import graft.sources.{Sinks, Tables}

/** An output that does not match what the generator expects. */
final class CheckFailed(msg: String) extends Exception(msg)

/** One benchmark workload, driven in a closed loop by one caller:
  * [[prepare]] lands the next input (untimed), [[run]] calls the program
  * on it and checks the result (timed, from input present to result
  * committed and checked). */
abstract class Workload(val name: String) {
  /** Generates inputs and builds indexes into the fresh directory `dir`. */
  def setup(spark: SparkSession, dir: Path): Unit
  /** Warm-up iterations that belong to set-up. */
  def warmups: Int = 1
  def prepare(): Unit = ()
  /** Runs one iteration; returns the input rows it consumed. */
  def run(tr: Tracer): Long
  def inputBytes: Long
  def storedBytes: Long

  protected def expect(ok: Boolean, what: => String): Unit =
    if (!ok) throw new CheckFailed(s"$name: $what")
}

object Workloads {
  val names: Seq[String] = Seq("etl_batch", "etl_incremental", "corpus_ingest")

  /** Input sizes, fixed per workload (the seed changes values, never
    * sizes). The dimensions are the reference prototype's; only the fact
    * rows are scaled down, so one run sets up in seconds on 4 cores and a
    * measured window of ~10 s holds enough iterations for a steady
    * median. */
  val etlDims: EtlSizes =
    EtlSizes(products = 1000, productIds = 1300, users = 100000, userInfo = 150000)
  val batchOrderRows = 1000000
  val incrementalFileRows = 100000
  val incrementalNoopEvery = 4
  val corpus: CorpusSizes = CorpusSizes(baseDocs = 2000, vocab = 5000,
    batchDocs = 200, dupsPerBatch = 10, revivalsPerBatch = 4,
    deletesPerBatch = 20, queriesPerBatch = 20, k = 10)

  def make(name: String, seed: Long): Workload = name match {
    case "etl_batch" => new EtlBatch(seed, etlDims, batchOrderRows)
    case "etl_incremental" =>
      new EtlIncremental(seed, etlDims, incrementalFileRows, incrementalNoopEvery)
    case "corpus_ingest" => new CorpusIngest(seed, corpus)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** File-tree sizes for the stored-bytes metrics. */
object Fs {
  private def walk[T](p: Path)(f: java.util.stream.Stream[Path] => T): T = {
    val s = Files.walk(p)
    try f(s) finally s.close()
  }

  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else walk(p)(_.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum)

  def dataFiles(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else walk(p) { s =>
      val parts = s.filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.startsWith("part-")).toArray.map(_.asInstanceOf[Path])
      (parts.length.toLong, parts.map(Files.size(_)).sum)
    }

  def delete(p: Path): Unit =
    if (Files.exists(p)) walk(p) { s =>
      s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    }
}

/** The reference DAG's full daily run: extract the three CSVs and the
  * user_info document, build users/orders/products, overwrite the three
  * parquet sinks. */
final class EtlBatch(seed: Long, sizes: EtlSizes, orderRows: Int)
  extends Workload("etl_batch") {

  private var spark: SparkSession = _
  private var in: Path = _
  private var out: Path = _
  private var gen: EtlGen = _
  private var ordersExpected: Digest = _
  private var inBytes = 0L

  def setup(spark: SparkSession, dir: Path): Unit = {
    this.spark = spark
    in = dir.resolve("in")
    out = dir.resolve("out")
    gen = new EtlGen(seed, sizes)
    inBytes = gen.writeDimensions(in)
    val (d, b) = gen.writeOrders(in.resolve("orders.csv"), 0, orderRows,
      EtlGen.FirstDay, 7)
    ordersExpected = d
    inBytes += b
  }

  def run(tr: Tracer): Long = {
    def csv(file: String, schema: StructType): DataFrame =
      tr.span("sources.Tables.csv")(tr.forced(Tables.csv(spark, s"$in/$file", schema)))
    def load(table: String)(frame: => DataFrame): DataFrame =
      tr.span("sources.Sinks.overwriteParquet") {
        val df = frame
        Sinks.overwriteParquet(df, s"$out/$table")
        df
      }
    val orders = csv("orders.csv", Tables.refOrdersSchema)
    val products = csv("products.csv", Tables.refProductsSchema)
    val users = csv("users.csv", Tables.refUsersSchema)
    val userInfo = tr.span("sources.Tables.userInfoJson")(
      tr.forced(Tables.userInfoJson(spark, s"$in/user_info.json")))
    val usersFinal = load("users")(tr.span("pipelines.RefPipeline.usersEnriched")(
      tr.forced(RefPipeline.usersEnriched(users, userInfo))))
    load("orders")(tr.span("pipelines.RefPipeline.ordersEnriched")(
      tr.forced(RefPipeline.ordersEnriched(orders, products, usersFinal))))
    load("products")(tr.span("pipelines.RefPipeline.productsPassthrough")(
      tr.forced(RefPipeline.productsPassthrough(products))))
    tr.span("check") {
      if (tr.on) {
        val sinks = Seq("users", "orders", "products").map(t => Fs.dataFiles(out.resolve(t)))
        tr.note("sources.Sinks.overwriteParquet.files", sinks.map(_._1).sum)
        tr.note("sources.Sinks.overwriteParquet.output_bytes", sinks.map(_._2).sum)
      }
      check(out)
    }
    orderRows
  }

  /** Throws [[CheckFailed]] unless the three sinks under `sinks` hold
    * exactly the expected rows. */
  def check(sinks: Path): Unit = {
    val got = EtlGen.sinkDigests(spark,
      ("users", s"$sinks/users", EtlGen.UsersSink),
      ("orders", s"$sinks/orders", EtlGen.OrdersSink),
      ("products", s"$sinks/products", EtlGen.ProductsSink))
    expect(got("users") == gen.expected.users, "users sink")
    expect(got("orders") == ordersExpected, "orders sink")
    expect(got("products") == gen.expected.products, "products sink")
  }

  def inputBytes: Long = inBytes
  def storedBytes: Long = Fs.bytes(out)
}

/** The reference DAG as a file-arrival scheduler: each iteration lands
  * one daily orders file and runs one scheduled
  * [[RefOrchestration.runIncremental]]; every `noopEvery`-th iteration
  * (from the second) lands nothing, and the rerun must be a no-op. */
final class EtlIncremental(seed: Long, sizes: EtlSizes, fileRows: Int,
                           noopEvery: Int) extends Workload("etl_incremental") {

  private var spark: SparkSession = _
  private var in: Path = _
  private var out: Path = _
  private var staging: Path = _
  private var gen: EtlGen = _
  private var inBytes = 0L
  private var step = 0
  private var files = 0
  private var nextBatch = 0L
  private var landed: Option[Digest] = None

  override def warmups: Int = 2

  def setup(spark: SparkSession, dir: Path): Unit = {
    this.spark = spark
    in = dir.resolve("in")
    out = dir.resolve("out")
    staging = dir.resolve("staging")
    Files.createDirectories(staging)
    gen = new EtlGen(seed, sizes)
    inBytes = gen.writeDimensions(in)
  }

  override def prepare(): Unit = {
    step += 1
    landed =
      if (step % noopEvery == 2 % noopEvery) None
      else {
        val name = f"day-$files%05d.csv"
        val (d, b) = gen.writeOrders(staging.resolve(name), files, fileRows,
          EtlGen.FirstDay.plusDays(files), 1)
        EtlGen.land(staging.resolve(name), in.resolve("orders").resolve(name))
        files += 1
        inBytes += b
        Some(d)
      }
  }

  def run(tr: Tracer): Long = landed match {
    case None =>
      val s = tr.span("pipelines.RefOrchestration.runIncremental[noop]")(
        RefOrchestration.runIncremental(spark, in.toString, out.toString))
      expect(s == RefOrchestration.RunSummary(0, 0), s"no-op rerun returned $s")
      0L
    case Some(d) =>
      val s = tr.span("pipelines.RefOrchestration.runIncremental")(
        RefOrchestration.runIncremental(spark, in.toString, out.toString))
      tr.span("check") {
        if (tr.on) tr.note("pipelines.RefOrchestration.runIncremental.checkpoint_bytes",
          Fs.bytes(out.resolve("_checkpoint")))
        expect(s == RefOrchestration.RunSummary(1, d.rows),
          s"run over one file of ${d.rows} matching rows returned $s")
        val got = EtlGen.sinkDigests(spark,
          ("orders", s"$out/orders/ingest_batch=$nextBatch", EtlGen.OrdersSink),
          ("users", s"$out/users", EtlGen.UsersSink),
          ("products", s"$out/products", EtlGen.ProductsSink))
        expect(got("orders") == d, s"orders batch $nextBatch")
        expect(got("users") == gen.expected.users, "users sink")
        expect(got("products") == gen.expected.products, "products sink")
        nextBatch += 1
      }
      fileRows
  }

  def inputBytes: Long = inBytes
  def storedBytes: Long = Fs.bytes(out)
}

/** LLM-data ingestion over a persisted minhash index and BM25 index:
  * each iteration gates one incoming batch against the minhash index,
  * applies its inserts and tombstones to both indexes, and serves a
  * query batch, unfiltered and tenant-filtered. */
final class CorpusIngest(seed: Long, sizes: CorpusSizes)
  extends Workload("corpus_ingest") {

  private val DocSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private var spark: SparkSession = _
  private var in: Path = _
  private var staging: Path = _
  private var minhash: String = _
  private var bm25: String = _
  private var gen: CorpusGen = _
  private var inBytes = 0L
  private var batch: CorpusBatch = _
  private var batchPath: Path = _
  private var maxId = 0L

  def setup(spark: SparkSession, dir: Path): Unit = {
    this.spark = spark
    in = dir.resolve("in")
    staging = dir.resolve("staging")
    Files.createDirectories(in)
    Files.createDirectories(staging)
    minhash = dir.resolve("minhash").toString
    bm25 = dir.resolve("bm25").toString
    gen = new CorpusGen(seed, sizes)
    val basePath = in.resolve("base.jsonl")
    inBytes = gen.writeBase(basePath)
    maxId = gen.base.last._1
    val corpus = spark.read.schema(DocSchema).json(basePath.toString)
    Dedup.writeMinhashIndex(corpus, "doc_id", "text", minhash)
    Bm25Index.write(corpus, bm25)
  }

  override def prepare(): Unit = {
    batch = gen.nextBatch()
    val name = f"batch-${batch.id}%05d.jsonl"
    inBytes += gen.writeDocs(staging.resolve(name), batch.incoming)
    batchPath = in.resolve("batches").resolve(name)
    EtlGen.land(staging.resolve(name), batchPath)
    maxId = math.max(maxId, batch.incoming.map(_._1).max)
  }

  def run(tr: Tracer): Long = {
    val session = spark
    import session.implicits._
    val incoming = spark.read.schema(DocSchema).json(batchPath.toString)
    val pairs = tr.span("operators.Dedup.crossMinhashPairs") {
      Dedup.crossMinhashPairs(incoming, Dedup.readMinhashIndex(spark, minhash),
        "doc_id", "text", 0.5)
        .select("new_id", "matched_id").as[(Long, Long)].collect().toSet
    }
    tr.note("operators.Dedup.crossMinhashPairs.pairs", pairs.size)
    expect(pairs == batch.dupPairs,
      s"gate flagged ${pairs.size} pairs, expected ${batch.dupPairs.size}")

    val inserts = incoming.filter(!col("doc_id").isin(batch.dupPairs.toSeq.map(_._1): _*))
    val tombstones = batch.tombstones.toDF("doc_id")
    tr.span("operators.Dedup.applyMinhashCdc")(
      Dedup.applyMinhashCdc(spark, minhash, inserts, tombstones, batch.id))
    tr.span("operators.Bm25Index.applyCdc")(
      Bm25Index.applyCdc(spark, bm25, inserts, tombstones, batch.id))
    if (tr.on) {
      tr.note("operators.Dedup.applyMinhashCdc.index_bytes", Fs.bytes(Path.of(minhash)))
      tr.note("operators.Bm25Index.applyCdc.index_bytes", Fs.bytes(Path.of(bm25)))
    }

    val queries = batch.queries.toDF("query_id", "query_text")
    val allowed = spark.range(0, maxId + 1).filter(col("id") % 3 === 0)
      .select(col("id").as("doc_id"))
    def board(df: DataFrame): Set[BoardRow] =
      df.select("query_id", "rk", "doc_id", "score_micro")
        .as[(Long, Int, Long, Long)].collect()
        .map { case (q, r, d, s) => BoardRow(q, r, d, s) }.toSet
    val served = tr.span("operators.Bm25Index.crossBm25TopK")(
      board(Bm25Index.crossBm25TopK(spark, queries, bm25, sizes.k)))
    val filtered = tr.span("operators.Bm25Index.crossBm25TopKFiltered")(
      board(Bm25Index.crossBm25TopKFiltered(spark, queries, bm25, allowed, sizes.k)))
    tr.span("check") {
      expect(Bm25Index.foldedStats(spark, bm25) == ((batch.liveDocs, batch.liveTokens)),
        "BM25 index (N, S)")
      expect(served == batch.board, s"board of batch ${batch.id}")
      expect(filtered == batch.filtered, s"filtered board of batch ${batch.id}")
    }
    batch.incoming.size
  }

  def inputBytes: Long = inBytes
  def storedBytes: Long = Fs.bytes(Path.of(minhash)) + Fs.bytes(Path.of(bm25))
}
