package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Typed accessors for the driver testdata tables (`TESTDATA.md`,
  * schemas in `FIXTURES.md`) plus schema-first CSV/JSON readers for
  * reference-shaped inputs (SURVEY §2.1 S1/S2).
  *
  * Parquet carries its own schema; the explicit `StructType`s here are
  * for the CSV/JSON reference sources, where inference would be
  * nondeterministic (reference infers with pandas — `dags/etl.py:41-43`).
  */
object Tables {

  /** Schema memo for the driver testdata tables: a bare
    * `spark.read.parquet` runs a footer-reading schema-inference job
    * per call, and a full battery run reads the same few static tables
    * hundreds of times — the first read of each (dir, table) infers
    * and memoizes, every later read is inference-job-free. Keyed on
    * the file's length+mtime (the gate-fixture memo convention), so a
    * regenerated table yields a fresh inference, never a stale
    * schema. Size/mtime resolve through the Hadoop FileSystem API, not
    * java.io.File — on hdfs:// or s3a:// paths java.io.File reports
    * 0/0, the key would degenerate to the path alone, and a
    * regenerated table would silently serve a stale schema. */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** `path#length#mtime` via the path's own FileSystem (any scheme);
    * directories key on the status of the directory entry itself plus
    * its content summary length, so a rewritten multi-file table
    * re-keys too. Also the source fingerprint of the dimension sinks
    * in `RefOrchestration`. */
  private[graft] def memoKey(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    if (st.isDirectory) {
      val kids = fs.listStatus(p)
      s"$path#${kids.map(_.getLen).sum}#${kids.map(_.getModificationTime).foldLeft(st.getModificationTime)(math.max)}"
    } else s"$path#${st.getLen}#${st.getModificationTime}"
  }

  def parquet(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val sch = schemaMemo.computeIfAbsent(memoKey(spark, path),
      _ => spark.read.parquet(path).schema)
    spark.read.schema(sch).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame   = parquet(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = parquet(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = parquet(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = parquet(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = parquet(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = parquet(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = parquet(s, d, "lineitem")
  /** Raw `events.parquet` schema with `ts` as plain INT64 nanos — the
    * per-read alternative to the session-wide
    * `spark.sql.legacy.parquet.nanosAsLong` conf (which would silently
    * change the schema of every later nanos-parquet read in the session).
    * Only used when [[eventsTsUnit]] resolves to NANOS. */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Time unit of the on-disk `events.ts` column, sniffed from the
    * parquet footer. The driver has regenerated the testdata with
    * different units across rounds (timestamp[ns] → timestamp[us]), so
    * assuming a unit silently corrupts every event-time query; the
    * footer's logical-type annotation is the source of truth. */
  sealed abstract class TsUnit(val label: String)
  object TsUnit {
    /** TIMESTAMP(NANOS) annotation, or a plain unannotated INT64 `ts`
      * (the historic driver format stored epoch nanos in a raw long). */
    case object Nanos  extends TsUnit("NANOS")
    /** TIMESTAMP(MICROS/MILLIS) — Spark reads these natively as
      * TimestampType, no rebuild needed. */
    case object Native extends TsUnit("NATIVE")
  }

  /** Reads parquet footers of `events.parquet` (a single file, or the
    * first AND last part files of a directory — two footers max, still a
    * constant-cost driver-side sniff regardless of table size) and
    * classifies the `ts` logical type. Sniffing both ends of the sorted
    * part-file list catches the realistic mixed-unit hazard: parts
    * appended after a regeneration with a different unit land at one end
    * of the listing. Disagreement fails loudly — a mixed-unit directory
    * has no single correct read plan. */
  def eventsTsUnit(spark: SparkSession, dir: String): TsUnit = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(s"$dir/events.parquet")
    val fs = root.getFileSystem(conf)
    val files: Seq[Path] =
      if (fs.getFileStatus(root).isDirectory) {
        val parts = fs.listStatus(root)
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
          .map(_.getPath).sortBy(_.getName)
        if (parts.isEmpty)
          throw new IllegalStateException(s"$root: no .parquet part files")
        Seq(parts.head, parts.last).distinct
      } else Seq(root)
    def unitOf(file: Path): TsUnit = {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        val prim = schema.getType(schema.getFieldIndex("ts")).asPrimitiveType
        // legacy INT96 timestamps carry no logical annotation but Spark
        // reads them natively — check the physical type before assuming
        // an unannotated column is the historic raw-nanos INT64
        if (prim.getPrimitiveTypeName ==
            org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT96)
          TsUnit.Native
        else prim.getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
              if t.getUnit == TimeUnit.NANOS => TsUnit.Nanos
          case _: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => TsUnit.Native
          case _ => TsUnit.Nanos // unannotated INT64: historic epoch-nanos format
        }
      } finally reader.close()
    }
    val units = files.map(f => f -> unitOf(f))
    if (units.map(_._2).distinct.size > 1)
      throw new IllegalStateException(
        s"$root: mixed ts units across part files: " +
          units.map { case (f, u) => s"${f.getName}=${u.label}" }.mkString(", ") +
          " — one read plan cannot be correct for both; repartition the table to a single unit")
    units.head._2
  }

  /** The resolved recipe for reading events with a true µs-TIMESTAMP
    * `ts`, shared verbatim by the batch reader ([[events]]) and the
    * streaming reader (`StreamOps.eventsStream`) so the two can never
    * drift: `schema` is what to force on the scan, `finish` rebuilds
    * `ts` when the on-disk unit needs it. */
  final case class EventsReadPlan(schema: StructType, finish: DataFrame => DataFrame)

  def eventsReadPlan(spark: SparkSession, dir: String): EventsReadPlan =
    eventsTsUnit(spark, dir) match {
      case TsUnit.Nanos =>
        // Spark rejects TIMESTAMP(NANOS) under inference
        // ([PARQUET_TYPE_ILLEGAL]); force ts:LongType, then rebuild a µs
        // TIMESTAMP with exact integer division (`div`, not `/` — ns
        // epochs exceed 2^53, a double round trip would corrupt them).
        EventsReadPlan(eventsRawSchema,
          _.withColumn("ts", org.apache.spark.sql.functions
            .timestamp_micros(org.apache.spark.sql.functions.expr("ts div 1000"))))
      case TsUnit.Native =>
        // timestamp[us]/[ms]: the native reader yields TimestampType —
        // or TIMESTAMP_NTZ when the column carries no UTC adjustment
        // (pyarrow's default), which watermarks reject. Cast NTZ → LTZ
        // after the scan; the session timezone is pinned UTC everywhere
        // (Verify/Bench/tests), so the wall-clock instant is unchanged
        // and matches the oracle's naive reading. Pin the inferred
        // schema so the streaming source (which requires an explicit
        // schema) reads identically.
        val p0 = s"$dir/events.parquet"
        val schema = schemaMemo.computeIfAbsent(memoKey(spark, p0),
          _ => spark.read.parquet(p0).schema)
        val needsCast = schema.fields.exists(f =>
          f.name == "ts" && f.dataType == TimestampNTZType)
        EventsReadPlan(schema,
          df => if (needsCast) df.withColumn("ts", org.apache.spark.sql.functions
            .col("ts").cast(TimestampType)) else df)
    }

  /** Events with `ts` as a µs TIMESTAMP regardless of the on-disk unit
    * (timestamp[us]/[ms] native, timestamp[ns] / raw-INT64-nanos via
    * rebuild — see [[eventsReadPlan]]). */
  def events(s: SparkSession, d: String): DataFrame = {
    val plan = eventsReadPlan(s, d)
    plan.finish(s.read.schema(plan.schema).parquet(s"$d/events.parquet"))
  }
  def documents(s: SparkSession, d: String): DataFrame  = parquet(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = parquet(s, d, "embeddings")

  /** Registers every testdata table as a temp view so `spark.sql` queries
    * (grouping sets, CTE-heavy ops) can reference them by name. Idempotent. */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    val names = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "documents", "embeddings")
    names.foreach(n => parquet(spark, dir, n).createOrReplaceTempView(n))
    events(spark, dir).createOrReplaceTempView("events")
  }

  // ---- Reference-shaped schemas (FIXTURES.md §A) -------------------------

  /** orders.csv: Fecha,Product_ID,User_ID — `dags/etl.py:161-168`. */
  val refOrdersSchema: StructType = StructType(Seq(
    StructField("Fecha", StringType),
    StructField("Product_ID", LongType),
    StructField("User_ID", LongType)))

  /** products.csv: Id,Name,Category,Price — `dags/etl.py:170-176`. */
  val refProductsSchema: StructType = StructType(Seq(
    StructField("Id", LongType),
    StructField("Name", StringType),
    StructField("Category", StringType),
    StructField("Price", LongType)))

  /** users.csv: Id,Document — `dags/etl.py:178-184`. */
  val refUsersSchema: StructType = StructType(Seq(
    StructField("Id", LongType),
    StructField("Document", LongType)))

  /** user_info.json: {status, data:[{document,...}]} — `dags/etl.py:34-40`. */
  val refUserInfoSchema: StructType = StructType(Seq(
    StructField("status", LongType),
    StructField("data", ArrayType(StructType(Seq(
      StructField("document", LongType),
      StructField("name", StringType),
      StructField("birthday", StringType),
      StructField("gender", StringType),
      StructField("email", StringType),
      StructField("phone", StringType)))))))

  /** S1: header CSV with an explicit schema (no inference). */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** S3: execute a `.sql` file against the session catalog — the
    * reference's templated PostgresOperator file execution
    * (`dags/etl.py:156,218-235`) without the filesystem side-channel. */
  def sqlFile(spark: SparkSession, path: String): DataFrame =
    spark.sql(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))

  /** S2: whole-document JSON `{status, data:[...]}` flattened to one row
    * per element of `data` (reference: `pd.json_normalize(data['data'])`,
    * `dags/etl.py:36-40`). */
  def userInfoJson(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.option("multiLine", "true").schema(refUserInfoSchema)
      .json(path)
      .select(explode(col("data")).as("r"))
      .select("r.*")
  }
}
