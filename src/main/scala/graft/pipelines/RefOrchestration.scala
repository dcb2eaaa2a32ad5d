package graft.pipelines

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.hadoop.fs.Path
import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import graft.sources.Tables

/** The reference's *scheduler* semantics (`dags/etl.py:148-157`: a daily
  * cron run over whatever input files exist, `catchup=False` at `:154`,
  * retries at `:20-21`) re-expressed Spark-first as a file-arrival
  * incremental driver. One call = one scheduled run:
  *
  *  - the orders FACT feed is a Structured Streaming file source over
  *    `inDir/orders/` drained with `Trigger.AvailableNow` — files that
  *    arrived since the last run are processed exactly once (the
  *    checkpoint's offset log is the `catchup=False`: a re-run never
  *    reprocesses old files, a run after downtime picks up everything
  *    pending, and a run with nothing pending is a no-op);
  *  - each micro-batch is enriched through the UNCHANGED batch plans
  *    ([[RefPipeline.ordersEnriched]] — same join/rename semantics the
  *    correctness gate pins) against the dimension snapshots read back
  *    from the users/products sinks, and lands in its own
  *    `ingest_batch=<id>` partition with overwrite semantics, so
  *    foreachBatch's at-least-once replay (the reference's `retries`)
  *    rewrites rather than double-appends — rerun ≡ run-once,
  *    byte-identical;
  *  - the users/products DIMENSION sinks are refreshed only when their
  *    sources changed. Each sink is fingerprinted by path, length and
  *    mtime of its sources (`products` ← `products.csv`; `users` ←
  *    `users.csv` + `user_info.json`), and the fingerprint is stored as
  *    a `_source` file inside the sink directory once the sink's write
  *    has committed. A run rewrites the sink when the stored fingerprint
  *    differs from the current one or is missing. Spark readers skip
  *    `_`-prefixed files, and an overwrite deletes the marker along with
  *    the old sink, so a crash between the write and the marker, or a
  *    deleted sink, always leads to a rewrite; an idle re-run rewrites
  *    nothing. A change to the transforms themselves does not change the
  *    fingerprint: delete the sinks to rebuild them.
  *
  * Every run reads both dimensions back from their sinks with explicit
  * schemas (no inference job), so `user_info.json` is parsed at most
  * once per run, facts are always enriched against exactly the rows the
  * dimension sinks hold, and the parquet size estimate lets the planner
  * broadcast a snapshot under the broadcast threshold at plan time
  * (adaptive execution is off in streaming).
  *
  * At scale: per-batch volume is the arrival increment (a day of files),
  * not the corpus — the single-partition zstd batch write below is the
  * one-file-per-day layout; swap it for `partitionBy(date)` when an
  * increment outgrows one file. Nothing rescans the held sink.
  */
object RefOrchestration {

  /** What one scheduled run did: micro-batches drained and enriched
    * orders rows appended (0/0 = the no-op re-run). */
  final case class RunSummary(batches: Long, ordersRows: Long)

  private val payloadCols =
    Seq("Fecha", "User_ID", "Product_ID", "Product_Name", "Category", "Price")

  /** Columns of the `users` sink ([[RefPipeline.usersEnriched]]). */
  private[graft] val usersSinkSchema: StructType = StructType(Seq(
    StructField("Id", LongType),
    StructField("Document", LongType),
    StructField("Name", StringType),
    StructField("BirthDay", StringType),
    StructField("Gender", StringType),
    StructField("Email", StringType),
    StructField("Phone", StringType)))

  /** Name of the source-fingerprint marker inside a dimension sink. */
  private[graft] val SourceMarker = "_source"

  /** One scheduled run: refresh the dimension sinks whose sources
    * changed, drain pending fact files, append enriched batches
    * idempotently. Layout contract: inDir holds `orders/` (arriving csv
    * files), `products.csv`, `users.csv`, `user_info.json`; outDir gains
    * `orders/ingest_batch=N`, `users`, `products`, `_checkpoint`. */
  def runIncremental(spark: SparkSession, inDir: String,
                     outDir: String): RunSummary = {
    refreshDimension(spark, s"$outDir/products", Seq(s"$inDir/products.csv")) {
      RefPipeline.productsPassthrough(
        Tables.csv(spark, s"$inDir/products.csv", Tables.refProductsSchema))
    }
    refreshDimension(spark, s"$outDir/users",
        Seq(s"$inDir/users.csv", s"$inDir/user_info.json")) {
      RefPipeline.usersEnriched(
        Tables.csv(spark, s"$inDir/users.csv", Tables.refUsersSchema),
        Tables.userInfoJson(spark, s"$inDir/user_info.json"))
    }
    val products = spark.read.schema(Tables.refProductsSchema)
      .parquet(s"$outDir/products")
    val usersFinal = spark.read.schema(usersSinkSchema).parquet(s"$outDir/users")

    val batches = new java.util.concurrent.atomic.AtomicLong(0)
    val rows = new java.util.concurrent.atomic.AtomicLong(0)
    val q = spark.readStream
      .schema(Tables.refOrdersSchema)
      .option("header", "true")
      .csv(s"$inDir/orders")
      .writeStream
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val part = s"$outDir/orders/ingest_batch=$batchId"
        // row count rides the write job itself (Observation) — the
        // footer-count read-back this replaces was one extra Spark job
        // per micro-batch, counting rows the write had just streamed
        val obs = org.apache.spark.sql.Observation()
        writeSorted(RefPipeline.ordersEnriched(batch, products, usersFinal)
          .observe(obs, count(lit(1)).as("n")), payloadCols, part)
        batches.incrementAndGet()
        rows.addAndGet(obs.get("n").asInstanceOf[Long])
        ()
      }
      .start()
    q.awaitTermination()
    RunSummary(batches.get, rows.get)
  }

  /** The enriched-orders sink as a DataFrame, `ingest_batch` replay
    * bookkeeping projected away. */
  def readOrdersSink(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/orders")
      .select(payloadCols.map(col): _*)

  /** Rewrites the dimension sink at `sink` from `build` unless its
    * [[SourceMarker]] holds the current fingerprint of `sources`; the
    * marker is written only after the sink's write has committed. The
    * fingerprint is taken before the write, so a source that changes
    * during the write is picked up by the next run. */
  private def refreshDimension(spark: SparkSession, sink: String,
                               sources: Seq[String])(build: => DataFrame): Unit = {
    val fingerprint = sources.map(Tables.memoKey(spark, _)).mkString("\n")
    val marker = new Path(sink, SourceMarker)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stored =
      try {
        val in = fs.open(marker)
        try new String(in.readAllBytes(), UTF_8) finally in.close()
      } catch { case _: FileNotFoundException => "" }
    if (stored != fingerprint) {
      writeSorted(build, Seq("Id"), sink)
      val out = fs.create(marker, true)
      try out.write(fingerprint.getBytes(UTF_8)) finally out.close()
    }
  }

  /** Deterministic sink write: one fully-sorted zstd parquet file, so
    * identical input always produces identical bytes (the
    * rerun-idempotence law is checked at the file level, not just row
    * sets). */
  private def writeSorted(df: DataFrame, by: Seq[String], path: String): Unit =
    df.repartition(1).sortWithinPartitions(by.map(col): _*)
      .write.mode("overwrite").option("compression", "zstd").parquet(path)
}
