package graft.pipelines

import org.apache.spark.sql.{DataFrame, Dataset, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.hadoop.fs.Path
import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import graft.operators.IndexLease
import graft.sources.{Sinks, Tables}

/** The reference's daily DAG (`dags/etl.py:148-157`: extract, transform,
  * load, run by a daily cron over whatever input files exist,
  * `catchup=False` at `:154`, retries at `:20-21`). Two entry points share
  * one dimension step and one parquet writer
  * ([[graft.sources.Sinks.overwriteParquet]]); they differ only in the
  * fact source and the fact write:
  *
  *  - [[runBatch]] enriches all of `inDir/orders.csv` and overwrites
  *    `outDir/orders` in one parallel pass with no exchange, so input
  *    split i becomes part file i, its rows sorted by
  *    [[RefPipeline.ordersKey]] (`Product_ID, Fecha, User_ID`,
  *    [[RefPipeline.ordersEnriched]]'s per-task sort);
  *  - [[runIncremental]] drains the fact files that arrived under
  *    `inDir/orders/` since the last run as a Structured Streaming file
  *    source with `Trigger.AvailableNow`. The checkpoint's offset log is
  *    the `catchup=False`: a re-run never reprocesses old files, a run
  *    after downtime picks up everything pending, and a run with nothing
  *    pending is a no-op. Each micro-batch lands in its own
  *    `ingest_batch=<id>` partition with overwrite semantics, so
  *    foreachBatch's at-least-once replay (the reference's `retries`)
  *    rewrites rather than double-appends, byte-identically. That
  *    partition is one file sorted by [[arrivalSortKey]], the orders
  *    key first.
  *
  * Facts go through the UNCHANGED batch plan
  * ([[RefPipeline.ordersEnriched]], whose join/rename semantics the
  * correctness gate pins) against the dimension snapshots read back from
  * the users/products sinks. A sink is refreshed only when its sources
  * changed. Each sink is fingerprinted by path, length and mtime of its
  * sources (`products` ← `products.csv`; `users` ← `users.csv` +
  * `user_info.json`), and the fingerprint is stored as a `_source` file
  * inside the sink directory once the sink's write has committed. A run
  * rewrites the sink when the stored fingerprint differs from the current
  * one or is missing. Spark readers skip `_`-prefixed files, and an
  * overwrite deletes the marker along with the old sink, so a crash
  * between the write and the marker, or a deleted sink, always leads to
  * a rewrite; an idle re-run rewrites nothing. A change to the transforms
  * themselves does not change the fingerprint: delete the sinks to
  * rebuild them.
  *
  * Both snapshots are read back with explicit schemas (no inference
  * job), so `user_info.json` is parsed only when the users sink is
  * rewritten, facts are enriched against exactly the rows the sinks hold,
  * and the parquet size estimate lets the planner broadcast a snapshot
  * under the broadcast threshold at plan time (adaptive execution is off
  * in streaming, and a plan-time broadcast shuffles no facts).
  *
  * Each run holds the writer lease on `outDir`
  * ([[graft.operators.IndexLease]]), so an overlapping run refuses
  * loudly instead of racing the sink overwrites and the checkpoint.
  *
  * At scale: an incremental batch is the arrival increment (a day of
  * files), not the corpus — its single product-first sorted file is the
  * one-file-per-day layout; swap it for `partitionBy(date)` when an
  * increment outgrows one file. Nothing rescans the held sink.
  *
  * Every sink is clustered by its key in [[RefPipeline]]: orders by
  * [[RefPipeline.ordersKey]] (`Product_ID, Fecha, User_ID`), users by
  * [[RefPipeline.usersKey]] (`Email`), products by
  * [[RefPipeline.productsKey]] (`Id`). Parquet then stores the
  * product-derived columns, `Fecha` and `Name` as dictionary/RLE runs:
  * the two large sinks are about a sixth smaller than with orders
  * sorted by `Product_ID` alone and users in `user_info` order.
  */
object RefOrchestration {

  /** What one scheduled run did: micro-batches drained and enriched
    * orders rows written (0/0 = the no-op re-run; a batch run is 1). */
  final case class RunSummary(batches: Long, ordersRows: Long)

  private val payloadCols =
    Seq("Fecha", "User_ID", "Product_ID", "Product_Name", "Category", "Price")

  /** `key` completed with the other `cols` in their order: a total
    * order over the rows whatever the key's ties. */
  private def totalOrder(key: Seq[String], cols: Seq[String]): Seq[String] =
    key ++ cols.filterNot(key.contains)

  /** Sort key of each `ingest_batch=N` file: [[RefPipeline.ordersKey]],
    * then the rest of [[payloadCols]] (`Product_ID, Fecha, User_ID,
    * Product_Name, Category, Price`), so a replayed batch is
    * byte-identical. */
  private[graft] val arrivalSortKey: Seq[String] =
    totalOrder(RefPipeline.ordersKey, payloadCols)

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

  /** One daily batch run: refresh the dimension sinks whose sources
    * changed, enrich every order, overwrite the orders sink. Layout
    * contract: inDir holds `orders.csv`, `products.csv`, `users.csv`,
    * `user_info.json`; outDir gains `orders`, `users`, `products`.
    * Refuses an outDir that [[runIncremental]] writes: overwriting its
    * orders would drop rows its offset log counts as processed. */
  def runBatch(spark: SparkSession, inDir: String,
               outDir: String): RunSummary =
    IndexLease.withLease(spark, outDir, "RefOrchestration.runBatch") {
      val checkpoint = new Path(outDir, "_checkpoint")
      require(!checkpoint.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(checkpoint), s"RefOrchestration.runBatch refused: $checkpoint " +
        "exists, so runIncremental writes this outDir; overwriting its orders " +
        "would drop rows its offset log counts as processed")
      val (products, users) = dimensions(spark, inDir, outDir)
      RunSummary(1, writeCounted(RefPipeline.ordersEnriched(
          Tables.csv(spark, s"$inDir/orders.csv", Tables.refOrdersSchema),
          products, users), s"$outDir/orders"))
    }

  /** One scheduled run: refresh the dimension sinks whose sources
    * changed, drain pending fact files, append enriched batches
    * idempotently. Layout contract: inDir holds `orders/` (arriving csv
    * files), `products.csv`, `users.csv`, `user_info.json`; outDir gains
    * `orders/ingest_batch=N`, `users`, `products`, `_checkpoint`.
    * Refuses an outDir that [[runBatch]] writes: its orders and the
    * batch partitions would mix two layouts in one sink. */
  def runIncremental(spark: SparkSession, inDir: String,
                     outDir: String): RunSummary =
    IndexLease.withLease(spark, outDir, "RefOrchestration.runIncremental") {
      val orders = new Path(outDir, "orders")
      val fs = orders.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(!fs.exists(orders) || fs.exists(new Path(outDir, "_checkpoint")),
        s"RefOrchestration.runIncremental refused: $orders exists without " +
          "_checkpoint, so runBatch writes this outDir; its orders and the " +
          "ingest_batch partitions would mix two layouts in one sink")
      val (products, usersFinal) = dimensions(spark, inDir, outDir)
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
          rows.addAndGet(writeSorted(
            RefPipeline.ordersEnriched(batch, products, usersFinal),
            RefPipeline.ordersKey, part))
          batches.incrementAndGet()
          ()
        }
        .start()
      q.awaitTermination()
      RunSummary(batches.get, rows.get)
    }

  /** The enriched-orders sink as a DataFrame, `ingest_batch` replay
    * bookkeeping projected away. Reads both entry points' layouts. */
  def readOrdersSink(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/orders")
      .select(payloadCols.map(col): _*)

  /** The dimension step both entry points share: refresh the products
    * and users sinks, then read both back as (products, users). */
  private def dimensions(spark: SparkSession, inDir: String,
                         outDir: String): (DataFrame, DataFrame) = {
    refreshDimension(spark, s"$outDir/products", Seq(s"$inDir/products.csv"),
        RefPipeline.productsKey) {
      RefPipeline.productsPassthrough(
        Tables.csv(spark, s"$inDir/products.csv", Tables.refProductsSchema))
    }
    refreshDimension(spark, s"$outDir/users",
        Seq(s"$inDir/users.csv", s"$inDir/user_info.json"),
        RefPipeline.usersKey) {
      RefPipeline.usersEnriched(
        Tables.csv(spark, s"$inDir/users.csv", Tables.refUsersSchema),
        Tables.userInfoJson(spark, s"$inDir/user_info.json"))
    }
    (spark.read.schema(Tables.refProductsSchema).parquet(s"$outDir/products"),
      spark.read.schema(usersSinkSchema).parquet(s"$outDir/users"))
  }

  /** Rewrites the dimension sink at `sink` from `build`, sorted by
    * `key`, unless its [[SourceMarker]] holds the current fingerprint of
    * `sources`; the marker is written only after the sink's write has
    * committed. The fingerprint is taken before the write, so a source
    * that changes during the write is picked up by the next run. */
  private def refreshDimension(spark: SparkSession, sink: String,
                               sources: Seq[String], key: Seq[String])(
                               build: => DataFrame): Unit = {
    val fingerprint = sources.map(Tables.memoKey(spark, _)).mkString("\n")
    val marker = new Path(sink, SourceMarker)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stored =
      try {
        val in = fs.open(marker)
        try new String(in.readAllBytes(), UTF_8) finally in.close()
      } catch { case _: FileNotFoundException => "" }
    if (stored != fingerprint) {
      writeSorted(build, key, sink)
      val out = fs.create(marker, true)
      try out.write(fingerprint.getBytes(UTF_8)) finally out.close()
    }
  }

  /** Deterministic sink write for the dimension sinks and the
    * per-arrival batches: one file sorted by the sink's clustering `key`
    * completed with `df`'s other columns (for an arrival, that is
    * [[arrivalSortKey]]), a total order over the rows, so identical
    * input always produces identical bytes (the rerun-idempotence laws
    * are checked at the file level, not just row sets). Returns the rows
    * written. Catalyst drops a sort inside `df` (the per-task sort of
    * [[RefPipeline.ordersEnriched]] or [[RefPipeline.usersEnriched]])
    * under this one, so the write sorts once; the row count sits above
    * the sort because an observation between the two would keep both. */
  private def writeSorted(df: DataFrame, key: Seq[String], path: String): Long =
    writeCounted(df.repartition(1)
      .sortWithinPartitions(totalOrder(key, df.columns.toSeq).map(col): _*), path)

  /** Overwrites `path` with `df` and returns the rows written, counted
    * on the write job itself (an Observation) instead of a read-back
    * job. */
  private def writeCounted(df: DataFrame, path: String): Long = {
    val obs = Observation()
    Sinks.overwriteParquet(df.observe(obs, count(lit(1)).as("n")), path)
    obs.get("n").asInstanceOf[Long]
  }
}
