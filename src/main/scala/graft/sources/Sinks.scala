package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sinks (SURVEY §2.2). The reference's DROP TABLE + CREATE + bulk
  * INSERT cycle (`ddl_*.sql`, `df_to_sql.py`) collapses to overwrite-mode
  * writes; `filter_columns`-style SERIAL-id exclusion is a `select`
  * before the write (`dags/etl.py:264-269`).
  */
object Sinks {

  /** K1/K2: idempotent overwrite (the drop+create+insert cycle), zstd —
    * the one parquet writer of every ETL sink (`RefOrchestration`'s
    * batch, dimension and per-arrival writes). */
  def overwriteParquet(df: DataFrame, path: String,
                       partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite").option("compression", "zstd")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
  }

  /** K3: CSV with header, matching the generator's `to_csv(index=False)`. */
  def overwriteCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  def overwriteJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** ORC sink — second columnar format (ships with Spark). */
  def overwriteOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** XML sink — Spark 4's built-in XML source (`rowTag` = the element
    * wrapping each row). Like the JSON/CSV sinks, read-back goes
    * through an explicit schema: XML carries no types at all. */
  def overwriteXml(df: DataFrame, path: String, rowTag: String): Unit =
    df.write.mode("overwrite").option("rowTag", rowTag).format("xml")
      .save(path)

  /** K2 strict parity: JDBC writer — the reference's multi-row INSERT
    * over libpq (`dags/utils/df_to_sql.py:12-13`, connection
    * `dags/etl.py:13`) is the `overwrite` JDBC mode; quoting/escaping
    * (`df_to_sql.py:10`) is handled by the driver's prepared statements.
    * Round-trip tested against embedded Derby (`JdbcSinkSpec`) — no
    * Postgres ships in this environment. */
  def overwriteJdbc(df: DataFrame, url: String, table: String,
                    props: java.util.Properties = new java.util.Properties): Unit =
    df.write.mode("overwrite").jdbc(url, table, props)

  /** SERIAL-parity surrogate key (`ddl_orders_tbl.sql:4` `ID SERIAL
    * PRIMARY KEY`): `monotonically_increasing_id` gives what SERIAL
    * actually guarantees — unique, non-null, monotone per writer — but
    * NOT contiguity: ids are per-partition blocks (partition index in
    * the upper bits), so gaps are normal, exactly as they are under
    * Postgres sequence caching/rollbacks. Anything needing dense ranks
    * should use a window rank instead and accept the global sort. */
  def withSerialId(df: DataFrame, name: String = "id"): DataFrame =
    df.withColumn(name, monotonically_increasing_id())

  /** K2 STRICT form: the reference load's actual artifact is not rows in
    * a table but a multi-row `insert into ... values ...;` statement
    * TEXT (`df_to_sql.py:1-14`): every value stringified and
    * single-quoted regardless of type, `'` escaped as `\'` (`:10`), rows
    * joined with `,`, an optional `(COL,...)` column list — and, when
    * the column list is absent, the format string's double space
    * (`insert into t  values`). This reproduces that statement
    * byte-for-byte as ONE row, built in-plan: per-row literal tuples are
    * codegen'd string expressions, the partial aggregation collects
    * (key, tuple) pairs, and the array_sort puts rows in `sortKey` order
    * without a global sort exchange (`df.iterrows()` order is the input
    * order; a distributed engine must pin it explicitly).
    *
    * Scale note: a single statement string is inherently a driver-sized
    * artifact — the reference emits one per (small) dimension table. For
    * fact-sized loads, chunk upstream (e.g. one statement per
    * `ingest_batch` partition) and keep the JDBC writer
    * ([[overwriteJdbc]]) as the row path. */
  def insertStatement(df: DataFrame, table: String,
                      filterColumns: Seq[String],
                      sortKey: Column): DataFrame = {
    // str(i).replace("'", "\\'") — regex-free literal escape; the
    // replacement's backslash is doubled for Matcher.replaceAll
    val escaped = df.columns.map(c =>
      regexp_replace(col(c).cast("string"), "'", "\\\\'"))
    val tuple = concat(lit("('"), concat_ws("','", escaped: _*), lit("')"))
    val colsStr =
      if (filterColumns.nonEmpty) filterColumns.mkString("(", ",", ")") else ""
    df.select(struct(sortKey.as("k"), tuple.as("s")).as("r"))
      .agg(collect_list(col("r")).as("rs"))
      .select(concat(
        lit(s"insert into $table $colsStr values "),
        array_join(transform(array_sort(col("rs")), _.getField("s")), ","),
        lit(";")).as("stmt"))
  }

  /** K2's read leg, PARTITIONED: a plain `spark.read.jdbc` opens ONE
    * connection and streams the whole table through a single task —
    * the read-side twin of the single-sorter hot key. This form splits
    * `partitionColumn`'s range into `numPartitions` disjoint WHERE
    * slices (Spark issues one query per slice, in parallel), after one
    * cheap MIN/MAX bounds query pushed to the database. The column
    * must be numeric (Spark's range-predicate contract); rows with a
    * NULL partition column land in the first slice per Spark's
    * semantics. Falls back to the single-connection read when the
    * table is empty (no bounds to split). */
  def readJdbcPartitioned(spark: org.apache.spark.sql.SparkSession,
                          url: String, table: String, partitionColumn: String,
                          numPartitions: Int = 8,
                          props: java.util.Properties = new java.util.Properties): DataFrame = {
    require(numPartitions > 0,
      s"readJdbcPartitioned: numPartitions must be positive, got $numPartitions")
    // Spark's JDBC writer creates case-sensitive quoted columns; an
    // unquoted name would resolve to the database's upper-cased form
    val q = org.apache.spark.sql.jdbc.JdbcDialects.get(url)
      .quoteIdentifier(partitionColumn)
    val b = spark.read
      .jdbc(url,
        s"(SELECT MIN($q) AS lo, MAX($q) AS hi FROM $table) mm", props)
      .head()
    if (b.isNullAt(0)) spark.read.jdbc(url, table, props)
    else spark.read.jdbc(url, table, partitionColumn,
      b.get(0).asInstanceOf[Number].longValue,
      b.get(1).asInstanceOf[Number].longValue,
      numPartitions, props)
  }

  /** Training-shard export: range-partition on `orderCol` into
    * `nShards`, sort within each shard, one file per shard. This is the
    * 100 TB way to lay out packed training sequences so a shard reader
    * streams them in global order WITHOUT a global sort: the range
    * exchange samples boundaries (one pass), each shard sorts locally
    * in parallel, and shard k's every key ≤ shard k+1's — a single-task
    * `ORDER BY` write would funnel the corpus through one sorter.
    * Layout law (files = shards, disjoint ordered key ranges) is
    * asserted in `SinksSkewSpec`.
    *
    * `nShards = 0` (the default) auto-sizes from a counting pass:
    * ceil(rows / `targetRowsPerShard`), capped at 100k shards — a fixed
    * shard count is wrong at both ends (8 shards of a 100 TB corpus are
    * 12 TB sort partitions; 8 shards of a test fixture are fine), and
    * the extra scan is the same order of work as the range sampler's.
    * The auto path also caps shards at the column's approximate
    * distinct count (same single pass): range boundaries can't split a
    * tied key, so more shards than keys only manufactures partitions
    * with nothing to hold.
    *
    * Layout caveat: "one file per shard" means files ≤ nShards — Spark
    * writes NO part file for an empty range partition, so an explicit
    * nShards far above the key cardinality (or a heavily skewed
    * orderCol, where the sampler gives several boundary ranges no rows)
    * yields fewer files than shards. Ranges stay disjoint and ordered
    * either way; only the file count shrinks. */
  def writeRangeShards(df: DataFrame, path: String, orderCol: String,
                       nShards: Int = 0,
                       targetRowsPerShard: Long = 4000000L): Unit = {
    require(nShards >= 0, s"writeRangeShards: nShards must be >= 0, got $nShards")
    require(targetRowsPerShard > 0,
      s"writeRangeShards: targetRowsPerShard must be positive, got $targetRowsPerShard")
    val n =
      if (nShards > 0) nShards
      else {
        val s = df.agg(
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)),
          org.apache.spark.sql.functions.approx_count_distinct(
            org.apache.spark.sql.functions.col(orderCol))).head()
        val rows = s.getLong(0)
        val keys = s.getLong(1)
        math.min(math.min(100000L, math.max(1L, keys)),
            (rows + targetRowsPerShard - 1) / targetRowsPerShard)
          .toInt.max(1)
      }
    df.repartitionByRange(n, org.apache.spark.sql.functions.col(orderCol))
      .sortWithinPartitions(orderCol)
      .write.mode("overwrite").parquet(path)
  }

  /** Writes the shard MANIFEST a 100 TB reader coordinates from:
    * one row per part file with its `orderCol` range and row count, so
    * a distributed consumer can assign shards to workers, seek a key
    * range, or verify completeness WITHOUT listing-and-footer-probing
    * 10⁵ parquet files. Lands under `_manifest/` inside the shard dir —
    * the underscore prefix keeps Spark's file index from reading it as
    * data — as JSON (one tiny file per manifest partition; the manifest
    * is shard-count-scale, never row-scale). One columnar re-read of
    * the written shards, grouped by file. */
  def writeShardManifest(spark: org.apache.spark.sql.SparkSession,
                         path: String, orderCol: String): Unit = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(orderCol)).as("lo"), max(col(orderCol)).as("hi"),
        count(lit(1)).as("rows"))
      .coalesce(1)
      .write.mode("overwrite").json(s"$path/_manifest")
  }

  /** Reads a [[writeShardManifest]] back: (file, lo, hi, rows). */
  def readShardManifest(spark: org.apache.spark.sql.SparkSession,
                        path: String): DataFrame =
    spark.read.json(s"$path/_manifest")

  /** Z-ordered layout: range-shard + sort on the Morton interleave of
    * two bucketized dimensions ([[graft.functions.ZOrderOps]]), so
    * per-file min/max statistics prune box predicates on EITHER column
    * — the multi-dimensional answer to [[writeRangeShards]]'s
    * one-column clustering. `xCol`/`yCol` must already be bucketized to
    * [0, 2^bits) longs by the caller (values outside clamp to the edge
    * cells). The `_z` key is persisted alongside the data: 8 bytes/row
    * buys manifest-level pruning ([[writeShardManifest]] over `_z`
    * ranges) and makes the layout auditable. Sharding, auto-sizing and
    * the files ≤ shards caveat are writeRangeShards', unchanged. */
  def writeZOrdered(df: DataFrame, path: String, xCol: String, yCol: String,
                    bits: Int = 16, nShards: Int = 0,
                    targetRowsPerShard: Long = 4000000L): Unit =
    writeRangeShards(
      df.withColumn("_z", graft.functions.exprs.z_order2(
        org.apache.spark.sql.functions.col(xCol).cast("long"),
        org.apache.spark.sql.functions.col(yCol).cast("long"), bits)),
      path, "_z", nShards, targetRowsPerShard)

  /** Bucketed managed table: pre-shuffles once on the bucket key so
    * later equi-joins/aggregations on that key are exchange-free — the
    * 100 TB answer to "this join shuffles the fact table every run".
    * Requires a catalog (`saveAsTable`), hence a configured warehouse. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    // a previous SESSION may have left the managed location behind while
    // this session's in-memory catalog has no entry for it — overwrite
    // mode then fails with LOCATION_ALREADY_EXISTS; clear the stale dir.
    // The location comes from the catalog (correct under non-default
    // databases and custom warehouse dirs — hand-resolving
    // <warehouse>/<table> is wrong for both); non-file schemes are left
    // alone (a remote warehouse has no stale local dir to heal).
    val loc = spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    if (Option(loc.getScheme).forall(_.equalsIgnoreCase("file"))) {
      val p = java.nio.file.Paths.get(loc.getPath)
      if (java.nio.file.Files.exists(p)) Scratch.deleteTree(p)
    }
    df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }
}
