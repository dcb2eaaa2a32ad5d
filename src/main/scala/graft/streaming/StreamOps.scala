package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

/** Structured Streaming variants of the event-time operators (SURVEY
  * §2.8: the reference is batch-only; its daily cron re-run over new
  * files is subsumed by a file-source stream). The same windowed
  * aggregations as `graft.queries.Extensions` — tumbling / sliding /
  * session — expressed over `readStream`, with watermarks bounding
  * state so a 100 TB/day stream can run indefinitely.
  */
object StreamOps {

  /** File-stream reader for ONE table under a testdata-style dir,
    * layout-aware (r19): the driver's sf dirs hold a FLAT file per
    * table (`$dir/<t>.parquet`), which a file-stream source can only
    * reach as `load(dir)` + a leaf-name glob (its basePath must be a
    * directory); a real deployment's table is a part-file DIRECTORY,
    * where that same leaf glob matches NOTHING (part files are named
    * `part-*`) and the stream silently processes zero batches — the
    * bug the sf1-derived sweep caught. One driver-side stat call picks
    * the right form. */
  private def tableStream(spark: SparkSession, dir: String, table: String,
                          schema: org.apache.spark.sql.types.StructType)
      : DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rd = spark.readStream.schema(schema).format("parquet")
    if (fs.getFileStatus(p).isDirectory) rd.load(p.toString)
    else rd.option("pathGlobFilter", s"$table.parquet").load(dir)
  }

  /** Streaming source over the events table directory: one file = one
    * micro-batch replay. Streams cannot sniff-and-retry, so the on-disk
    * `ts` unit is resolved ONCE batch-side (`Tables.eventsReadPlan` reads
    * the parquet footer) and the same forced schema + rebuild are applied
    * here — batch and streaming readers share one plan and cannot drift
    * when the driver regenerates testdata with a different unit. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val plan = graft.sources.Tables.eventsReadPlan(spark, dir)
    plan.finish(tableStream(spark, dir, "events", plan.schema))
  }

  /** Tumbling 1-hour counts per event type; late data beyond the
    * watermark is dropped instead of growing state forever. */
  def tumblingCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      // decimal accumulation: double sums are micro-batch-order-dependent
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("total"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n"), col("total"))

  /** Sliding 1-hour/30-minute windows (decimal totals, like
    * [[tumblingCounts]], so micro-batch order can't change results). */
  def slidingCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("total"))
      .select(col("w.start").as("win_start"), col("n"), col("total"))

  /** Session windows (30-minute gap) per user. Event time is truncated
    * to seconds BEFORE sessionization — the same truncation as the
    * batch `q_session_window` (the oracle's ns clock vs Spark's µs
    * clock would otherwise disagree on gap boundaries), so streaming ≡
    * batch ≡ oracle. Decimal totals for micro-batch-order independence,
    * like [[tumblingCounts]]. */
  def sessionCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withColumn("tsec", date_trunc("second", col("ts")))
      .withWatermark("tsec", watermark)
      .groupBy(col("user_id"),
        session_window(col("tsec"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("total"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("total"))

  /** Runs a streaming frame to completion against a memory sink and
    * returns the query (caller reads `spark.table(name)`). Parquet-file
    * sources are finite, so `processAllAvailable` terminates. */
  def runToMemory(df: DataFrame, name: String,
                  outputMode: String = "complete"): StreamingQuery = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .start()
    q.processAllAvailable()
    q
  }

  /** Stateful streaming dedup: at-most-once event ids within the
    * watermark horizon (`dropDuplicates` keeps per-key state, expired by
    * the watermark — bounded memory on an unbounded stream). */
  def dedupedEvents(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicates("event_id", "ts")

  /** Stream-stream join: purchases attributed to a view by the same
    * user within the preceding hour. Both sides are watermarked and the
    * join carries a time-range condition, so state for either side is
    * dropped once the watermark passes — the bounded-state contract
    * that lets two unbounded streams join forever. Event time is
    * second-truncated on both sides (same ns-vs-µs clock rationale as
    * [[sessionCounts]]) so streaming ≡ batch ≡ oracle. */
  def attributedPurchases(events: DataFrame,
                          watermark: String = "2 hours"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        date_trunc("second", col("ts")).as("v_ts"))
      .withWatermark("v_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"),
        date_trunc("second", col("ts")).as("p_ts"))
      .withWatermark("p_ts", watermark)
    views.join(purchases,
      col("v_user") === col("p_user") &&
        col("p_ts") >= col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("v_user").as("user_id"), col("view_id"),
        col("purchase_id"), col("v_ts"), col("p_ts"))
  }

  /** Stream-static join: enrich the event stream with a broadcast
    * dimension (the table is re-read per micro-batch, so slowly-changing
    * dims stay current), then count per (hour window, segment). The
    * canonical "events ⋈ reference data" pipeline shape — the static
    * side never becomes state, so memory stays bounded. */
  def enrichedSegmentCounts(events: DataFrame, customers: DataFrame,
                            watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .join(broadcast(customers.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("win_start"),
        col("c_mktsegment").as("segment"), col("n"))

  /** Custom streaming state via `flatMapGroupsWithState`: a running
    * per-user (event count, decimal total) that survives across
    * micro-batches — the escape hatch when built-in windowed aggregates
    * can't express the state machine. Decimal accumulation keeps the
    * total independent of the order rows reach the group iterator
    * (exact arithmetic is commutative; double summation is not), so the
    * emitted value matches a batch `SUM(CAST(value AS DECIMAL(18,2)))`
    * bit-for-bit. Emits one updated row per user per micro-batch
    * (OutputMode.Update). */
  def userStats(events: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    events.selectExpr("user_id", "value").as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, java.math.BigDecimal), (Long, Long, Double)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Double)],
         state: GroupState[(Long, java.math.BigDecimal)]) =>
          var (n, total) = state.getOption.getOrElse((0L, java.math.BigDecimal.ZERO))
          rows.foreach { case (_, v) =>
            n += 1
            // same rounding as Spark's cast(double as decimal(18,2))
            total = total.add(java.math.BigDecimal.valueOf(v)
              .setScale(2, java.math.RoundingMode.HALF_UP))
          }
          state.update((n, total))
          Iterator((uid, n, total.doubleValue))
      }
      .toDF("user_id", "n_events", "total")
  }

  /** foreachBatch sink: the production pattern for routing a stream
    * into any batch writer (JDBC upserts, partitioned parquet, multi
    * sink fan-out). Each micro-batch appends as parquet under `dir`;
    * batchId makes retried batches idempotent in real deployments (a
    * retried id would overwrite its own directory — here append-only
    * because `processAllAvailable` runs each batch exactly once). */
  def foreachBatchToParquet(df: DataFrame, dir: String): StreamingQuery = {
    val q = df.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.write.mode("append").parquet(dir)
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** Streaming incremental-aggregate maintenance — the §2.9 `Maintain`
    * partials kept current by a stream instead of a daily job: each
    * micro-batch's MERGEABLE partials (count + exact decimal sum — see
    * `Maintain.aggPartials` for why decimal) land in their own
    * `ingest_batch=<batchId>` partition under `$stateDir/batches`, and
    * `Maintain.readAggRefreshed` folds base ∪ batches at read time. The
    * base corpus is never rescanned; each batch pays one partial
    * aggregate over its own rows (key-cardinality-bounded output).
    * Replay-idempotent by partition overwrite: at-least-once redelivery
    * of a batchId rewrites that partition with identical partials
    * (deterministic agg of the same rows) instead of double-folding.
    * `checkpointDir` REQUIRED for the same reason as the ingestion
    * dedup streams — only a durable offset log keeps batchIds unique
    * across a process restart. */
  def maintainAggStream(delta: DataFrame, keyCol: String, valCol: String,
                        stateDir: String,
                        checkpointDir: String): StreamingQuery = {
    val q = delta.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.Maintain.aggPartials(batch, keyCol, valCol)
          .write.mode("overwrite")
          .parquet(s"$stateDir/batches/ingest_batch=$batchId")
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** Quantile twin of [[maintainAggStream]]: each micro-batch's
    * bin-count partials (binned under the state's STORED domain) land in
    * their own `ingest_batch=<id>` overwrite partition; the read side
    * (`Maintain.readQuantileRefreshed` → `estimateQuantiles`) folds base
    * + batches. Same replay contract: a redelivered batch rewrites its
    * partition with identical partials, so at-least-once delivery never
    * double-folds. */
  def maintainQuantileStream(delta: DataFrame, keyCol: String,
                             valCol: String, stateDir: String,
                             checkpointDir: String): StreamingQuery = {
    val q = delta.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.Maintain.quantileDeltaPartials(
          batch.sparkSession, stateDir, batch, keyCol, valCol)
          .write.mode("overwrite")
          .parquet(s"$stateDir/batches/ingest_batch=$batchId")
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** Top-k twin of [[maintainAggStream]]: each micro-batch's k-bounded
    * per-group leaderboard partials land in their own
    * `ingest_batch=<id>` overwrite partition; the read side
    * (`Maintain.readTopKRefreshed`) re-cuts base + batches to k. Same
    * replay contract — a redelivered batch rewrites identical partials
    * (deterministic top-k of the same rows), so at-least-once delivery
    * never double-counts. */
  def maintainTopKStream(delta: DataFrame, keyCol: String, idCol: String,
                         scoreCol: String, stateDir: String,
                         checkpointDir: String): StreamingQuery = {
    val q = delta.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.Maintain.topKDeltaPartials(
          batch.sparkSession, stateDir, batch, keyCol, idCol, scoreCol)
          .write.mode("overwrite")
          .parquet(s"$stateDir/batches/ingest_batch=$batchId")
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** Streaming ingestion twin of
    * [[graft.operators.Similarity.appendIvfIndex]] — the IVF index
    * joins the other index families' continuously-fed form: each
    * micro-batch of vectors is assigned under the STORED quantizer and
    * appended as its own committed batch subtree. Replay-idempotent by
    * the append's own contract (whole-subtree replacement + marker-last
    * commit); `checkpointDir` carries the batchId sequence as ever. */
  def incrementalIvfStream(vectors: DataFrame, indexDir: String,
                           checkpointDir: String): StreamingQuery = {
    val q = vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.Similarity.appendIvfIndex(batch.sparkSession,
          indexDir, batch.toDF(), batchId = Some(batchId))
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** CDC-driven streaming twin of
    * [[graft.operators.Maintain.foldTopKSlackState]] — deletion-aware
    * leaderboard maintenance over a change stream: each micro-batch
    * carries `opCol` ∈ {"insert", "delete"} rows, split and folded into
    * the slack state with the batchId as the replay guard (durable
    * marker, written strictly last — a redelivered batch skips; a torn
    * fold can only over-decrement depth, i.e. refuse early, never
    * serve staleness). Tombstones apply to PREVIOUSLY-STORED rows: a
    * same-batch delete+insert of one id nets to the insert (upsert
    * semantics), and per-id event order across batches is the caller's
    * contract, as in any CDC consumer. Unknown op values refuse
    * loudly. Per-batch cost is |state| + |batch| — the Maintain law. */
  def maintainTopKSlackStream(cdc: DataFrame, keyCol: String, idCol: String,
                              scoreCol: String, opCol: String,
                              stateDir: String,
                              checkpointDir: String): StreamingQuery =
    cdcFoldStream(cdc, opCol, checkpointDir, "maintainTopKSlackStream") {
      (b, inserts, deletes, batchId) =>
        graft.operators.Maintain.foldTopKSlackState(b.sparkSession,
          stateDir, inserts, deletes, keyCol, idCol, scoreCol,
          batchId = Some(batchId))
    }

  /** CDC twin of [[maintainAggStream]] — deletion-aware count/sum
    * maintenance over a change stream: each micro-batch's insert rows
    * fold in as positive partials and its delete rows as NEGATIVE ones
    * (`Maintain.foldAggStateWithDeletes` — exact, zero extra state),
    * with the batchId as the durable replay guard. Unlike the
    * insert-only stream there are no accreting batch partitions: a
    * delete-bearing fold must REPLACE state, so each batch swaps the
    * state directory whole (old state on a torn fold, marker-committed
    * new state otherwise — never a mix). Per-batch cost is
    * |state| + |batch|, the Maintain law. Unknown/NULL op values
    * refuse loudly; tombstones must be previously-inserted row images
    * (key + value), per the fold's contract. */
  def maintainAggCdcStream(cdc: DataFrame, keyCol: String, valCol: String,
                           opCol: String, stateDir: String,
                           checkpointDir: String): StreamingQuery =
    cdcFoldStream(cdc, opCol, checkpointDir, "maintainAggCdcStream") {
      (b, inserts, deletes, batchId) =>
        graft.operators.Maintain.foldAggStateWithDeletes(b.sparkSession,
          stateDir, inserts, deletes, keyCol, valCol,
          batchId = Some(batchId))
    }

  /** CDC twin of [[maintainQuantileStream]] — the histogram leg:
    * deleted rows re-bin under the state's STORED domain to exactly
    * the bins their inserts incremented
    * (`Maintain.foldQuantileStateWithDeletes`), so the maintained
    * quantile estimate stays hash-exact under deletes. Same swap/replay
    * contract as [[maintainAggCdcStream]]. */
  def maintainQuantileCdcStream(cdc: DataFrame, keyCol: String,
                                valCol: String, opCol: String,
                                stateDir: String,
                                checkpointDir: String): StreamingQuery =
    cdcFoldStream(cdc, opCol, checkpointDir, "maintainQuantileCdcStream") {
      (b, inserts, deletes, batchId) =>
        graft.operators.Maintain.foldQuantileStateWithDeletes(b.sparkSession,
          stateDir, inserts, deletes, keyCol, valCol,
          batchId = Some(batchId))
    }

  /** CDC stream for a PERSISTED INDEX home, whatever its family and
    * layout — the full grow-and-shrink lifecycle as one change stream.
    * Each micro-batch's insert rows are indexed and its delete rows
    * tombstoned under one commit marker through `IndexCdc.apply`,
    * which dispatches on the home's stored `kind`: the BM25, minhash,
    * prefix, IVF and sign-LSH appliers, or a sharded home, which routes
    * the batch to the shards it touches (per-shard markers heal a
    * trigger that crashed mid-fanout; the home marker fast-skips
    * replays). Deletes apply FIRST, to previously committed rows — a
    * batch carrying delete+insert of one id is an UPDATE (the CDC
    * upsert encoding). Replay: a redelivered batch recomputes
    * identical partition content and skips once its marker is
    * durable. Document families read `id`/`text`; vector families key
    * on `vec_id`/`embedding` and ignore both. */
  def maintainIndexCdcStream(cdc: DataFrame, opCol: String, dir: String,
                             checkpointDir: String, id: String = "doc_id",
                             text: String = "text"): StreamingQuery =
    cdcFoldStream(cdc, opCol, checkpointDir, "maintainIndexCdcStream") {
      (b, inserts, deletes, batchId) =>
        graft.operators.IndexCdc.apply(b.sparkSession, dir, inserts,
          deletes, batchId, id, text)
    }

  /** The shared CDC-consumption harness: persist the micro-batch
    * (validation + both op splits reuse it), split it by
    * `IndexCdc.splitOps` (which refuses any op outside {insert,
    * delete}, NULL included), hand (batch, inserts, deletes, batchId)
    * to the fold. */
  private def cdcFoldStream(cdc: DataFrame, opCol: String,
                            checkpointDir: String, who: String)(
      fold: (DataFrame, DataFrame, DataFrame, Long) => Unit): StreamingQuery = {
    val q = cdc.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val b = batch.toDF()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val (inserts, deletes) =
            graft.operators.IndexCdc.splitOps(b, opCol, who)
          fold(b, inserts, deletes, batchId)
        } finally b.unpersist()
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** Streaming hybrid-retrieval freshness — the §2.8 composition of
    * [[graft.operators.Retrieval.rrfFuse]] with the persisted serving
    * indexes: each micro-batch of QUERIES is served by the caller's
    * `legs` builders (e.g. `Bm25Index.crossBm25TopK` against a standing
    * postings artifact + a dense leg), fused, and the per-query fused
    * boards land in their own `ingest_batch=<id>` overwrite partition
    * of `outDir` — the accreting partitioned table IS the maintained
    * leaderboard (per-query boards are independent, so batch-wise
    * serving composes exactly: union over batches ≡ one-shot fusion
    * over all queries).
    *
    * Replay-idempotent under at-least-once foreachBatch: the legs read
    * only the batch and static index state, so a redelivered batchId
    * recomputes identical boards and REWRITES its own partition.
    * `checkpointDir` is required — the durable offset log carries the
    * batchId sequence that makes the partition layout meaningful
    * across restarts (the [[incrementalDedupStream]] contract). */
  def maintainRrfStream(queries: DataFrame,
                        legs: DataFrame => Seq[DataFrame], k: Int,
                        outDir: String,
                        checkpointDir: String): StreamingQuery = {
    val q = queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.Retrieval.rrfFuse(legs(batch.toDF()), k)
          .write.mode("overwrite")
          .parquet(s"$outDir/ingest_batch=$batchId")
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** Documents schema for the file-stream source (matches the testdata
    * parquet; file streams require an explicit schema). */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming source over the documents table directory: one file = one
    * micro-batch replay, mirroring [[eventsStream]]. */
  def documentsStream(spark: SparkSession, dir: String): DataFrame =
    tableStream(spark, dir, "documents", documentsSchema)

  /** Ingestion-time dedup as a stream — the §2.8×§2.9 composition the
    * "daily ingestion" story implies: each micro-batch of documents is
    * checked ([[graft.operators.Dedup.crossMinhashPairs]]) against a
    * PERSISTED corpus-side signature index and the matches appended
    * under `outDir`. The index is built once outside the stream
    * ([[graft.operators.Dedup.readMinhashIndex]]); per batch the plan
    * touches only the batch itself and the index tables — the held
    * corpus is never rescanned, which is the entire point of the
    * bipartite design at 100 TB. foreachBatch (not a streaming join):
    * the index side is batch-static and the verify needs an aggregate-
    * free equality join, exactly the batch operator — so the stream
    * reuses it verbatim and streaming ≡ batch by construction.
    *
    * Replay-idempotent: each micro-batch's pairs land in their own
    * `batch=<batchId>` partition of `outDir` with overwrite semantics,
    * so foreachBatch's at-least-once redelivery (the same batchId
    * replayed after a crash) REWRITES that partition instead of
    * double-appending — the index side is static, so the recomputed
    * pairs are identical. Read the result with
    * `spark.read.parquet(outDir)` and project the pair columns; the
    * `batch` partition column is bookkeeping.
    *
    * `checkpointDir` is REQUIRED, not optional: the replay-idempotency
    * above holds within one continuous batchId sequence, and only a
    * durable offset log extends that sequence across a process restart.
    * Without one a restarted query re-forms micro-batch boundaries from
    * batchId 0 — already-written `batch=<id>` partitions from the first
    * incarnation survive as stale duplicates beside the re-cut ones.
    * With it, a restart resumes at the first unprocessed file and the
    * partition layout stays append-only (restart law in
    * `SignatureIndexSpec`). */
  def incrementalDedupStream(docs: DataFrame,
                             index: graft.operators.Dedup.MinhashIndex,
                             outDir: String, checkpointDir: String,
                             jaccardMin: Double = 0.5): StreamingQuery = {
    val q = docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.Dedup
          .crossMinhashPairs(batch, index, "doc_id", "text", jaccardMin)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** The FULL ingestion loop, self-maintaining: per micro-batch, flag
    * near-dups against the persisted index at `idxDir`
    * ([[graft.operators.Dedup.crossMinhashPairs]]), append the flagged
    * pairs under `outDir`, then FOLD THE NOVEL DOCUMENTS INTO THE INDEX
    * ([[graft.operators.Dedup.appendToMinhashIndex]]) so later batches
    * dedup against everything that arrived before them — the index
    * grows by exactly the deduplicated stream. Held data is never
    * rescanned: each batch pays its own signatures, one band-key join,
    * and one append.
    *
    * Semantics: "novel" = not matching the index AS OF the batch's
    * start, so duplicates WITHIN one micro-batch are both admitted
    * (standard bipartite-ingest behavior — run `minhashPairs` on the
    * batch first if intra-batch dedup is wanted). The index is re-read
    * per batch (cheap: plan construction only) so each batch sees the
    * previous batch's appends.
    *
    * Crash-safe under foreachBatch's at-least-once contract — see
    * [[processIngestBatch]] for the exactly-once-in-effect argument.
    * That contract is only reachable across a PROCESS restart through
    * the required `checkpointDir`: the committed-batch skip compares
    * batchIds against the index marker, and without a durable offset
    * log a restarted query restarts batchIds at 0, so
    * `batchId <= last_committed_batch` would silently DROP the first
    * batches of genuinely new data. The stop/restart-through-checkpoint
    * law in `SignatureIndexSpec` pins the no-skip/no-double behavior. */
  def selfMaintainingDedupStream(docs: DataFrame, idxDir: String,
                                 outDir: String, checkpointDir: String,
                                 jaccardMin: Double = 0.5): StreamingQuery = {
    val q = docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        processIngestBatch(batch, batchId, idxDir, outDir, jaccardMin)
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** One micro-batch of the self-maintaining ingestion loop, idempotent
    * under replay of the same `batchId` (Structured Streaming replays
    * the last uncommitted batch after a crash; batch ids are monotonic):
    *
    *  - an already-COMMITTED batch (id ≤ the index metadata's
    *    `last_committed_batch`, written strictly after every table
    *    append) is skipped whole — its pairs finished writing before the
    *    index commit, and recomputing them against the now-grown index
    *    would emit spurious self-matches;
    *  - a batch whose first attempt crashed MID-APPEND recomputes its
    *    pairs against the committed-only view of the index
    *    ([[graft.operators.Dedup.readMinhashIndex]] filters partitions
    *    past the marker, so the crashed attempt's half-written
    *    signatures are invisible — no self-matches, same novel set),
    *    rewrites its own `batch=<id>` pairs partition, and its index
    *    append lands via dynamic partition OVERWRITE of its own
    *    `ingest_batch=<id>` partition — replacing, never duplicating,
    *    the leftovers.
    *
    * Net: pairs, index tables and `n_docs` after crash+replay are
    * byte-identical to the no-crash run (asserted by
    * `SignatureIndexSpec`'s replay laws). */
  private[graft] def processIngestBatch(batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                                        batchId: Long, idxDir: String,
                                        outDir: String,
                                        jaccardMin: Double): Unit = {
    val spark = batch.sparkSession
    val meta = graft.operators.Dedup.readMeta(spark,
      graft.operators.Dedup.indexRoot(spark, idxDir))
    if (batchId <= graft.operators.Dedup.lastCommittedBatch(meta)) return
    val b = batch.persist()
    try {
      val index = graft.operators.Dedup.readMinhashIndex(spark, idxDir)
      val pairs = graft.operators.Dedup
        .crossMinhashPairs(b, index, "doc_id", "text", jaccardMin)
        .persist()
      try {
        pairs.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        val novel = b.join(pairs.select(col("new_id").as("doc_id")),
          Seq("doc_id"), "left_anti")
        graft.operators.Dedup.appendToMinhashIndex(novel, "doc_id", "text",
          idxDir, batchId = Some(batchId))
      } finally pairs.unpersist()
    } finally b.unpersist()
  }

  /** PCA twin of [[maintainAggStream]]: each micro-batch's integer
    * Gram AND first-moment partials land in their own
    * `ingest_batch=<id>` overwrite partitions (both statistics — a
    * Gram-only fold could not rebuild the mean, and a refit would
    * silently mix full-corpus P with base-only S); the read side
    * (`Pca.fitStreamRefreshed`) folds base + batches to statistics
    * BIT-IDENTICAL to a one-shot scan, so the refit model is too.
    * Same replay contract as the other maintenance legs — the batch is
    * persisted so the two partial writes share one evaluation. */
  def maintainPcaStream(delta: DataFrame, vecCol: String,
                        stateDir: String,
                        checkpointDir: String): StreamingQuery = {
    val q = delta.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val b = batch.persist()
        try {
          graft.operators.Pca.gramDeltaPartials(
            b.sparkSession, stateDir, b, vecCol)
            .write.mode("overwrite")
            .parquet(s"$stateDir/gram_batches/ingest_batch=$batchId")
          graft.operators.Pca.momentDeltaPartials(
            b.sparkSession, stateDir, b, vecCol)
            .write.mode("overwrite")
            .parquet(s"$stateDir/moment_batches/ingest_batch=$batchId")
        } finally b.unpersist()
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** Check-only streaming form of the LOSSLESS prefix join
    * ([[graft.operators.SimJoin.crossPrefixJoin]]): each micro-batch is
    * checked against the persisted prefix index and its qualifying
    * pairs land in a `batch=<id>` overwrite partition — union over
    * batches ≡ the one-shot bipartite join (the join is per-new-doc
    * independent), so the gate shares the batch oracle. Mirrors
    * [[incrementalDedupStream]] on the minhash side. */
  def incrementalPrefixJoinStream(docs: DataFrame, idxDir: String,
                                  outDir: String,
                                  checkpointDir: String): StreamingQuery = {
    val q = docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.SimJoin
          .crossPrefixJoin(batch.sparkSession, batch, idxDir)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** Self-maintaining prefix-join ingestion loop, mirroring
    * [[selfMaintainingDedupStream]]: flag each micro-batch against the
    * index, persist the pairs, then fold the NOVEL documents in
    * ([[graft.operators.SimJoin.appendPrefixIndex]] — stale-dictionary
    * appends, recall-lossless by the order-invariance law) so later
    * batches dedup against everything before them. Idempotence is the
    * shared v2 contract: committed batches skip whole; a mid-append
    * crash replays against the committed-only view and dynamically
    * overwrites its own partitions. */
  def selfMaintainingPrefixStream(docs: DataFrame, idxDir: String,
                                  outDir: String,
                                  checkpointDir: String): StreamingQuery = {
    val q = docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        processPrefixIngestBatch(batch, batchId, idxDir, outDir)
      }
      .start()
    q.processAllAvailable()
    q
  }

  private[graft] def processPrefixIngestBatch(
      batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
      batchId: Long, idxDir: String, outDir: String): Unit = {
    val spark = batch.sparkSession
    val meta = graft.operators.Dedup.readMeta(spark,
      graft.operators.Dedup.indexRoot(spark, idxDir))
    if (batchId <= graft.operators.Dedup.lastCommittedBatch(meta)) return
    val b = batch.persist()
    try {
      val pairs = graft.operators.SimJoin
        .crossPrefixJoin(spark, b, idxDir).persist()
      try {
        pairs.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        val novel = b.join(pairs.select(col("new_id").as("doc_id")),
          Seq("doc_id"), "left_anti")
        graft.operators.SimJoin.appendPrefixIndex(spark, idxDir, novel,
          batchId = Some(batchId))
      } finally pairs.unpersist()
    } finally b.unpersist()
  }

  private val embeddingsSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Streaming source over the embeddings table directory, mirroring
    * [[documentsStream]]. */
  def embeddingsStream(spark: SparkSession, dir: String): DataFrame =
    tableStream(spark, dir, "embeddings", embeddingsSchema)

  /** Embedding twin of [[incrementalDedupStream]]: each micro-batch of
    * vectors is checked against a persisted corpus-side
    * [[graft.operators.Similarity.EmbeddingIndex]]
    * ([[graft.operators.Similarity.crossEmbeddingPairs]]) — the held
    * corpus's band keys were cut once at build time and are never
    * re-derived per batch. Same replay contract: pairs land in a
    * `batch=<batchId>` partition with overwrite semantics, so
    * at-least-once redelivery rewrites rather than double-appends; the
    * required `checkpointDir` extends that contract across a process
    * restart (see [[incrementalDedupStream]]). */
  def incrementalEmbeddingDedupStream(vecs: DataFrame,
                                      index: graft.operators.Similarity.EmbeddingIndex,
                                      outDir: String, checkpointDir: String,
                                      cosMin: Double = 0.3): StreamingQuery = {
    val q = vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.Similarity
          .crossEmbeddingPairs(batch, index, cosMin)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** Embedding twin of [[selfMaintainingDedupStream]]: flag each
    * micro-batch against the persisted index, append the pairs, fold the
    * novel vectors back in ([[graft.operators.Similarity.appendToEmbeddingIndex]])
    * so later batches dedup against everything before them. Inherits the
    * append's occupancy-drift refusal: a stream that grows the index past
    * its band-space sizing fails loudly mid-loop — rebuild
    * ([[graft.operators.Similarity.rebuildEmbeddingIndex]]) and restart,
    * rather than silently sliding into quadratic candidate volume.
    * Crash-safe under at-least-once replay — same marker + partition-
    * overwrite argument as [[processIngestBatch]], and the same
    * required `checkpointDir` for the same reason as
    * [[selfMaintainingDedupStream]]: the committed-batch skip is only
    * safe across a restart when the offset log is durable. */
  def selfMaintainingEmbeddingStream(vecs: DataFrame, idxDir: String,
                                     outDir: String, checkpointDir: String,
                                     cosMin: Double = 0.3): StreamingQuery = {
    val q = vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        processEmbeddingIngestBatch(batch, batchId, idxDir, outDir, cosMin)
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** One micro-batch of the embedding ingestion loop — the exact
    * [[processIngestBatch]] shape on the embedding index: committed
    * batches skip whole, a crashed attempt recomputes against the
    * committed-only read view and overwrites its own partitions. */
  private[graft] def processEmbeddingIngestBatch(batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                                                 batchId: Long, idxDir: String,
                                                 outDir: String,
                                                 cosMin: Double): Unit = {
    val spark = batch.sparkSession
    val meta = graft.operators.Dedup.readMeta(spark,
      graft.operators.Dedup.indexRoot(spark, idxDir))
    if (batchId <= graft.operators.Dedup.lastCommittedBatch(meta)) return
    val b = batch.persist()
    try {
      val index = graft.operators.Similarity.readEmbeddingIndex(spark, idxDir)
      val pairs = graft.operators.Similarity
        .crossEmbeddingPairs(b, index, cosMin)
        .persist()
      try {
        pairs.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        val novel = b.join(pairs.select(col("new_id").as("vec_id")),
          Seq("vec_id"), "left_anti")
        graft.operators.Similarity.appendToEmbeddingIndex(novel, idxDir,
          batchId = Some(batchId))
      } finally pairs.unpersist()
    } finally b.unpersist()
  }

  /** Streaming decontamination — the curation pass in ingestion mode:
    * the eval-suite side is STATIC (its exact distinct shingle-hash set
    * and Bloom bitmap are built once, before the stream starts), and
    * each arriving micro-batch of documents is checked with the exact
    * batch-side plan ([[graft.operators.Curation.confirmedOverlaps]]:
    * Bloom prefilter at the scan, exact confirm, per-doc overlap
    * count). Confirmed overlaps land under `outDir` in a
    * `batch=<batchId>` partition with overwrite semantics — the same
    * replay-idempotency shape as [[incrementalDedupStream]], including
    * its required `checkpointDir` (a restart without a durable offset
    * log re-cuts batch boundaries and strands stale `batch=<id>`
    * partitions).
    *
    * What lands under `outDir` is the MERGEABLE form — the confirmed
    * (doc_id, h) hit rows of each batch, not per-doc counts: a document
    * SPLIT or REDELIVERED across micro-batches leaves partial distinct
    * sets that no count re-aggregation could repair (distinct counts
    * don't sum), but distinct hit rows union correctly. Read the result
    * through [[decontamResult]], which re-aggregates with a distinct
    * count — single-batch documents cost one extra dedup of already-
    * unique rows; multi-batch documents come out EXACTLY right instead
    * of tripping a contract check. Write volume is the contaminated
    * sliver only (true overlaps, Bloom-prefiltered at the scan). */
  def decontamStream(docs: DataFrame, benchmark: DataFrame, outDir: String,
                     checkpointDir: String,
                     mBits: Int = 1 << 20, k: Int = 5): StreamingQuery = {
    val b = graft.operators.Dedup.materialize(
      graft.operators.Dedup.shingleHashesFlat(benchmark, "doc_id", "text")
        .select(explode(col("hs")).as("h")).distinct())
    val bitmap = graft.operators.Curation.buildBloomBitmap(b, "h", mBits, k)
    val q = docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.Curation
          .confirmedOverlapHits(batch, "doc_id", "text", b, bitmap, k)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** Reads a [[decontamStream]] output directory back to the per-doc
    * overlap counts: distinct (doc_id, h) across ALL batch partitions,
    * so a document that spanned micro-batches (split or redelivered)
    * aggregates to exactly the count the batch pass computes. */
  def decontamResult(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)
      .select("doc_id", "h").distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlap"))

  private val runCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Streaming frequency monitoring: the Misra–Gries heavy-hitters
    * sketch ([[graft.operators.FreqSketch.MisraGriesAgg]]) as a
    * complete-mode streaming aggregate over the document token stream.
    * The state store holds ONE ≤ k-entry buffer however long the
    * stream runs — the bounded-state answer to "which keys are hot
    * RIGHT NOW" that a continuously-fed ingestion pipeline consults
    * before salting or capping (the batch `groupBy(key).count` it
    * replaces is unrunnable on an unbounded stream). The MG theorems
    * (presence above N/(k+1), never-overcount) hold under ANY
    * micro-batch split because the merge is the mergeable-summaries
    * one — same reason it is safe under batch partial aggregation. */
  def heavyHittersStream(docs: DataFrame, k: Int): DataFrame = {
    val agg = org.apache.spark.sql.functions.udaf(
      new graft.operators.FreqSketch.MisraGriesAgg(k),
      org.apache.spark.sql.Encoders.STRING)
    docs
      .select(explode(graft.operators.TextOps.tokens(col("text"))).as("term"))
      .agg(agg(col("term")).as("sk"))
      .select(explode(col("sk")).as(Seq("term", "est")))
  }

  /** Drains a finite streaming frame and returns the materialized result
    * as a batch DataFrame (unique memory-sink name per invocation).
    *
    * The stream runs under a CLONED session pinned to fewer shuffle
    * partitions: streaming state-store count = shuffle partitions at
    * query start (a stream-stream join keeps 4 stores per partition per
    * micro-batch commit), and the caller's batch-tuned 32 partitions
    * cost seconds of pure store I/O at drain scale. `cloneSession` (not
    * `newSession`, which resets to the base SparkConf) carries the
    * caller's RUNTIME conf — session timezone, ANSI flags — onto the
    * drain, so streaming can't silently diverge from batch semantics,
    * while still leaving the caller's own conf untouched. */
  def drainToBatch(df: DataFrame, outputMode: String = "complete")
                  (implicit spark: SparkSession): DataFrame = {
    val name = s"graft_stream_${runCounter.incrementAndGet()}"
    val drainSession =
      org.apache.spark.sql.graftbridge.ColumnBridge.cloneSession(spark)
    drainSession.conf.set("spark.sql.shuffle.partitions", "8")
    val rebound =
      org.apache.spark.sql.graftbridge.ColumnBridge.rebind(df, drainSession)
    val q = runToMemory(rebound, name, outputMode)
    q.stop()
    drainSession.table(name)
  }
}
