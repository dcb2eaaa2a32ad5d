package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.FilterExec
import org.scalatest.funsuite.AnyFunSuite

/** Whole-battery physical-plan audit: the shapes that silently destroy
  * 100 TB runs must be impossible to reintroduce without failing CI.
  *
  *  - No CartesianProduct anywhere (only `q_join_cross` states one, and
  *    it must be the broadcast nested-loop form over two tiny dims).
  *  - No filter left sitting directly on top of a parquet scan: a
  *    pushable predicate must reach the scan (`PushedFilters`); what
  *    legitimately remains above it is only the non-pushable leftovers
  *    Spark re-evaluates, which the scan node itself reports.
  *  - Every query that joins a dimension table broadcasts at least one
  *    side unless it is a deliberate shuffle test.
  */
class PlanAuditSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  /** Plan-only queries: building `executedPlan` is cheap. Queries that
    * EXECUTE eagerly while being constructed (streaming drains, sink
    * round trips, iterative clustering, k-means training) are excluded
    * — their interesting plans are asserted by their own specs, and
    * forcing them here would re-run the whole battery.
    *
    * `lazy val`, NOT `def`: four tests walk this set, and many gates
    * build their fixture apparatus (index writes, CDC feeds) eagerly
    * while the frame is constructed — as a def the suite paid that
    * apparatus 4×, which alone pushed it past the CI budget (16.5 min;
    * constructing once cuts it to the single battery pass). The
    * per-test plan walks reuse the same frames' cached
    * `queryExecution`. */
  private lazy val planOnly: Seq[(String, org.apache.spark.sql.DataFrame)] =
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) =>
        n.startsWith("stream_") || n.endsWith("_roundtrip") ||
          n.startsWith("mm_") || n == "q_partition_prune" ||
          n == "q_bucketed_agg" || n == "sim_ivf" ||
          n == "dedup_clusters" || n == "dedup_semantic" ||
          n == "curation_pipeline" || n == "text_pack_shards" ||
          // r12 eager constructors: bucketed-table writes / index
          // rebuild+compact / agg-state write run during plan building;
          // their plan shapes are asserted in SinksSkewSpec /
          // IndexMaintenanceSpec / AggMaintainStreamSpec
          n == "q_bucketed_join" || n == "dedup_index_rebuild" ||
          n == "dedup_embedding_rebuild" || n == "q_agg_maintain" ||
          n == "q_distinct_maintain"
      }
      .map { case (n, fn) => n -> fn(spark, dir) }

  private def collectNodes(p: SparkPlan): Seq[SparkPlan] = {
    val self = p match {
      case a: AdaptiveSparkPlanExec => collectNodes(a.executedPlan)
      case other => Seq(other)
    }
    self ++ p.children.flatMap(collectNodes) ++
      p.subqueries.flatMap(collectNodes)
  }

  test("no CartesianProduct in any gated plan (q_join_cross broadcasts)") {
    planOnly.foreach { case (name, df) =>
      val nodes = collectNodes(df.queryExecution.executedPlan)
      val cart = nodes.collect { case c: CartesianProductExec => c }
      assert(cart.isEmpty, s"$name plans a CartesianProduct")
      if (name == "q_join_cross")
        assert(nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
          "q_join_cross should broadcast the 5-row side")
    }
  }

  test("no unpushed pushable filter directly above a parquet scan") {
    planOnly.foreach { case (name, df) =>
      val nodes = collectNodes(df.queryExecution.executedPlan)
      nodes.foreach {
        case f: FilterExec =>
          f.children.foreach {
            case scan: org.apache.spark.sql.execution.FileSourceScanExec =>
              // a filter above a scan is fine only when the scan already
              // holds pushed filters (the residual re-check) or the
              // predicate is genuinely non-pushable (custom expressions)
              val pushable = f.condition.references.nonEmpty &&
                scan.metadata.getOrElse("PushedFilters", "[]") == "[]" &&
                !f.condition.exists(e =>
                  e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Unevaluable] ||
                    e.getClass.getName.startsWith("graft."))
              assert(!pushable,
                s"$name: filter '${f.condition.sql.take(80)}' sits on a " +
                  "parquet scan with no pushed filters")
            case _ => ()
          }
        case _ => ()
      }
    }
  }

  test("shuffle budgets: headline plans never regress to extra exchanges") {
    // exact ShuffleExchange ceilings, pinned from the audited plans: a
    // regression that adds an exchange to any of these (a lost broadcast,
    // a dropped TakeOrderedAndProject, a stray repartition) fails here
    // long before it shows up as a 100 TB incident
    val budgets = Map(
      "q1_agg" -> 1,               // one partial→final agg shuffle
      "q_filter_scan" -> 0,        // pure pushed-filter scan
      "ref_orders_enriched" -> 0,  // fact ⋈ broadcast dims only
      "ref_users_enriched" -> 0,
      "q_topk" -> 0,               // TakeOrderedAndProject, no sort shuffle
      "q5_region_revenue" -> 1,    // broadcast dims + one agg shuffle
      // bench-set distinct + per-doc count, +2 (r20) for the
      // conditional shingle fan-out (Rebalance.fanOutExpansion) on each
      // of the two shingled legs — fixture-scale only, absent at corpus
      // scale
      "decontam_ngram" -> 4,
      // candidate-sliver ⋈ exact-set exchanges + final per-doc count;
      // the confirm join is deliberately unhinted (the exact set need
      // not fit executor memory), so the static plan may shuffle both
      // sides — AQE collapses to broadcast at gate scale
      "decontam_bloom" -> 3,
      "q_domain_mix" -> 0,         // scan + hash filter
      "text_chunks" -> 0,          // per-doc explode
      "text_redact" -> 0,          // scan-only scrub
      "text_repetition" -> 0,      // narrow per-doc repetition fold
      "dedup_exact" -> 1,          // hash groupBy
      "q_group_sample_k" -> 1,     // bounded partial top-k agg
      // multi-distinct profile: Expand + partial-by-(gid,value) +
      // final global agg — 2 exchanges for the whole 5-column profile
      "q_profile" -> 2,
      // the approx OPERATOR is one partial→final aggregate (single
      // exchange, no Expand — asserted below); the other 10 exchanges
      // are GATE APPARATUS: five single-distinct exact legs (2 each,
      // crossJoined as 1-row frames) that feed the within-5% verdict
      // columns of the tolerance oracle. At 100 TB only the approx leg
      // runs — the r10 1-exchange shape, recoverable by dropping the
      // verdict columns
      "q_profile_approx" -> 11,
      // two-phase prefix sum: the returned plan's only exchange is the
      // bounded within-bucket window (bucket totals ran eagerly); the
      // global-order single-window form this replaces would sort the
      // corpus in one task
      "text_pack" -> 1,
      // broadcast queries + top-k agg, +1 (r20) for bruteForceTopK's
      // conditional corpus fan-out — fixture-scale only
      "sim_topk" -> 2,
      "sim_ann" -> 1,              // LSH bucket join + top-k agg
      "q_histogram" -> 1,          // bin groupBy
      "q_merge_upsert" -> 2,       // full outer shuffles both sides
      // round-3/4 heavy plans, pinned from the audited sf0.01 shapes
      // (sim_ivf executes eagerly during construction — its 1-shuffle
      // budget is pinned in TopKSpec instead)
      "q_join_asof_fast" -> 1,     // packed-timeline agg; probes broadcast
      "dedup_minhash" -> 1,        // band self-join off the checkpointed sigs
      "dedup_ngram" -> 3,          // df histogram + candidate distinct + verify
      "dedup_containment" -> 3,    // same candidate stage as dedup_ngram
      // df histogram + posting self-join sides + pair count; no hs
      // re-attach stage (the count IS the verify), so no 5th exchange
      "dedup_substring" -> 4,
      // stats agg + stats-for-prefix agg + prefix agg + final doc agg;
      // both attach joins broadcast the bigram-bounded stats tables;
      // +1 (r20) for the conditional tokenize fan-out — fixture-scale
      // only, absent at corpus scale
      "text_familiarity" -> 5,
      // bipartite band join + distinct fold into one exchange, same as
      // the dedup_minhash self-join it shares its blocking stage with.
      // The r11 mega-bucket occupancy guard does NOT appear here: its
      // pre-check is a separate eager narrow aggregate, and on corpora
      // with no over-cap bucket (this one) the returned plan is
      // bit-identical to the uncapped form — the split/star plan only
      // materializes when a mega-duplicate cluster is actually present
      // (law in CandidateBoundSpec)
      "dedup_incremental" -> 1,
      "dedup_embedding_incr" -> 1,
      // two-phase windows, ONE full-fact exchange each: trailing is
      // exactly the (key, bucket) window over the padded union (1);
      // running adds two METADATA-scale exchanges (the per-key
      // bucket-total prefix window + shipping the keys×buckets totals
      // into the back-join) on top of its fact window — a regression
      // that re-shuffles the FACT per phase shows up as a 4th
      "q_window_running_2p" -> 3,
      "q_window_trailing_2p" -> 1,
      "q_window_running_stats_2p" -> 3, // same shape, 4 merged aggs
      "q_window_trailing_avg_2p" -> 1,  // same padded single pass
      // tf groupBy + df fold + the unhinted term attach's two sides
      // collapsing under AQE + the final bounded per-doc aggregate; a
      // 5th exchange would mean a window sort crept back in
      "text_keyterms" -> 4,
      // window-hash frequency count + per-doc reassembly groupBy; the
      // frequent-set attach is unhinted (corpus-derived side) and
      // collapses to broadcast at gate scale
      "dedup_paragraphs" -> 2,
      // sketch global agg + exact term counts + n_total leg; the two
      // 1-row frame combines broadcast
      "q_countmin" -> 3,
      // per-(group, pos) signature min + the G·k-row pairwise compare
      // sides + final per-pair agg — everything after the first
      // exchange is metadata-scale; +2 (r20) for the conditional
      // shingle fan-out on each corpus leg — fixture-scale only
      "q_corpus_overlap" -> 5,
      // the rank machinery (range exchange + partition offsets) runs
      // eagerly behind materialize; the returned plan is the bucketed
      // neighborhood self-join, which may shuffle both checkpointed
      // sides on the bucket key
      "q_er_fuzzy" -> 2,
      // same eager-rank construction: the returned plan re-partitions
      // the checkpointed ranked rows for the pid window and aggregates
      // the B-row buckets — a 3rd exchange would mean the global sort
      // crept back in
      "q_histogram_equi" -> 2,
      // one co-partitioned full-outer join + nothing else (payloads
      // pruned to (id, md5) at both scans)
      "q_snapshot_diff" -> 2,
      // hashed-model inference is scan-only — the plan law in
      // TextOpsSpec additionally pins zero UDFs
      "text_quality_model" -> 0,
      // domain-count agg + the G-row rate table's combine + the
      // unhinted rate attach; the corpus itself shuffles only for the
      // count
      "q_temperature_mix" -> 3,
      // r13 additions, pinned from the audited shapes:
      // one exploded-triangle hash agg — the d²-bounded Gram fold —
      // plus (r20) Rebalance.fanOutExpansion's conditional input
      // fan-out, which only plans when the scan yields fewer splits
      // than cores (always true at fixture scale, never at corpus
      // scale — the shuffled rows are the SMALL pre-expansion vectors)
      "q_pca_gram" -> 2,
      // stats + eigensolve ran eagerly at construction; the returned
      // projection plan is scan + posexplode + one per-comp agg
      "q_pca_project" -> 1,
      // k-bounded state ∪ delta re-cut through one partial top-k agg
      "q_topk_maintain" -> 1,
      // bm25 leg's postings/df/score exchanges + the fused bounded
      // top-k; the dense leg broadcasts its query side; +1 (r20) for
      // Rebalance.fanOutExpansion's conditional tokenize fan-out in
      // docTermFreqs — plans only when the corpus scans in fewer
      // splits than cores (fixture scale), never at corpus scale
      "retrieval_rrf" -> 5,
      // shingle-df fold + per-doc (df,h) re-sort + candidate distinct
      // + verify attach; a 5th exchange would mean the lossless join
      // regressed to a global-rank sort
      "q_simjoin_prefix" -> 4,
      // three per-table conditional-sum scans (1 global-agg exchange
      // each) + unique's groupBy→agg pair + FK distinct→agg pair; the
      // |checks|-row report sort is metadata-scale
      "q_quality_audit" -> 7,
      // G-row moment groupBy is the only exchange; the stats attach is
      // an explicit broadcast and z is scan-side — a 2nd exchange
      // would mean the window form crept back in
      "q_group_zscore" -> 1,
      // r18: hash → shard route → per-shard rank window. ONE exchange
      // (hashpartitioning on shard); a 2nd would mean a global sort or
      // an extra repartition crept into the training-order shuffle
      "q_train_shuffle" -> 1,
      // r18: the returned mixture plan's only corpus exchange is the
      // window's (pid, domain) clustering over the materialized range
      // pass; budgets/offsets attach as broadcasts — a 2nd exchange
      // would mean a per-domain global sort crept back in
      "q_token_budget_mix" -> 1,
      // r18: + the in-plan budget derivation (domain-mass agg, 1-row
      // normalizer combine, G-row budget fold) — all metadata-scale;
      // the corpus still crosses only the window exchange
      "q_token_budget_temp" -> 4)
    val byName = planOnly.toMap
    budgets.foreach { case (name, budget) =>
      val n = collectNodes(byName(name).queryExecution.executedPlan)
        .count(_.isInstanceOf[
          org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
      assert(n <= budget,
        s"$name plans $n shuffle exchanges, budget is $budget")
    }
  }

  test("q_profile_approx plans no Expand (the 100 TB profiler is one pass)") {
    // the exact profiler pays Catalyst's distinct-expand (row × distinct
    // column count before the shuffle); the approx form must not — at
    // 100 TB that Expand multiplies the shuffled volume by the number of
    // profiled columns
    val df = SparkEntry.queries("q_profile_approx")(spark, dir)
    val expand = collectNodes(df.queryExecution.executedPlan)
      .filter(_.isInstanceOf[org.apache.spark.sql.execution.ExpandExec])
    assert(expand.isEmpty, "q_profile_approx plans an Expand node")
  }

  test("rare-shingle dedup family never force-broadcasts a corpus-derived side") {
    // The rare-gram set (df ∈ [2, maxDf]) grows with the volume of
    // duplicated content — corpus-proportional on exactly the dirty
    // corpora dedup is run against — so an unconditional broadcast()
    // hint on it is a guaranteed driver OOM at 100 TB that stays
    // invisible at sf0.1. Size-GATED broadcasts are fine (Catalyst's
    // static estimate scales with the leaf file size; AQE re-checks the
    // measured size at runtime) — what must never appear is a hint that
    // bypasses the gate. With autoBroadcastJoinThreshold=-1 the only
    // possible BroadcastExchange is a hinted one, so the audited plans
    // must have none.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Seq("dedup_ngram", "dedup_containment", "dedup_substring").foreach { name =>
        val df = SparkEntry.queries(name)(spark, dir)
        val bcast = collectNodes(df.queryExecution.executedPlan)
          .filter(_.isInstanceOf[
            org.apache.spark.sql.execution.exchange.BroadcastExchangeExec])
        assert(bcast.isEmpty,
          s"$name force-broadcasts a corpus-derived frame")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("sharded BM25 serve: driver job count is independent of the " +
    "shard count (global stats fold is ONE union-aggregate job, " +
    "never S sequential per-shard head()s)") {
    // at the S-in-the-hundreds sizing SCALING.md recommends, a
    // per-shard driver action before the serve is hundreds of
    // sequential tiny Spark jobs of pure latency — the serve must
    // launch the SAME number of jobs at any S
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") < 240)
    val qs = docs.filter(col("doc_id") % 29 === 0)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ",
          slice(graft.operators.TextOps.tokens(col("text")), 1, 6))
          .as("query_text"))
    def jobsFor(s: Int): Int = {
      val home = graft.sources.Scratch.dir(s"jobcount-$s")
      graft.operators.ShardedIndex.writeBm25(corpus, home, shards = s)
      val n = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          n.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        graft.operators.ShardedIndex.crossBm25TopKSharded(spark, qs,
          home, k = 5).collect()
        org.apache.spark.sql.graftbridge.ColumnBridge
          .drainListenerBus(spark)
        val served = n.getAndSet(0)
        // (N, S) is read from the commit record: no Spark job at all
        graft.operators.Bm25Index.foldedStats(spark,
          graft.operators.ShardedIndex.shardDir(home, 0))
        org.apache.spark.sql.graftbridge.ColumnBridge
          .drainListenerBus(spark)
        assert(n.get() == 0,
          s"Bm25Index.foldedStats launched ${n.get()} Spark jobs")
        served
      } finally spark.sparkContext.removeSparkListener(l)
    }
    val j2 = jobsFor(2)
    val j8 = jobsFor(8)
    assert(j2 == j8,
      s"sharded serve job count scales with S: S=2 -> $j2 jobs, " +
        s"S=8 -> $j8 — a per-shard driver action crept back in")
  }

  test("filtered BM25 serve (HomeStats) adds no shuffle exchange over " +
    "the unfiltered serve — the ids-only allowed keys broadcast") {
    // the whole point of the ids-only `allowed` contract is that a
    // selective filter's key set is broadcast-sized: if the semi-join
    // ever plans a shuffle of the match stream, the filter has turned
    // the term-bounded serve into an extra corpus-keyed exchange —
    // the 100 TB regression this pin exists for
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") % 29 =!= 0)
    val idx = graft.sources.Scratch.dir("plan-bm25-flt")
    graft.operators.Bm25Index.write(corpus, idx)
    val qs = docs.filter(col("doc_id") % 29 === 0)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ",
          slice(graft.operators.TextOps.tokens(col("text")), 1, 6))
          .as("query_text"))
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      collectNodes(df.queryExecution.executedPlan)
        .count(_.isInstanceOf[
          org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
    val unfiltered = exchanges(
      graft.operators.Bm25Index.crossBm25TopK(spark, qs, idx, 5))
    val filtered = exchanges(
      graft.operators.Bm25Index.crossBm25TopKFiltered(spark, qs, idx,
        docs.filter(col("lang") =!= "en").select("doc_id"), 5,
        scope = graft.operators.Bm25Index.HomeStats))
    assert(filtered == unfiltered,
      s"HomeStats filtered serve plans $filtered shuffle exchanges vs " +
        s"$unfiltered unfiltered — the allowed-keys semi-join stopped " +
        "broadcasting")
  }

  test("dimension joins broadcast the small side") {
    // queries whose plans join region/nation/supplier dims must show a
    // broadcast join (AQE or hint) — a shuffle on a 25-row dim is wrong.
    // q_skew_salted deliberately replicates instead of broadcasting.
    val dimJoined = Seq("q5_region_revenue", "q3_shipping_priority",
      "q10_returned_revenue", "ref_orders_enriched", "q_rollup")
    val byName = planOnly.toMap
    dimJoined.foreach { name =>
      byName.get(name).foreach { df =>
        val nodes = collectNodes(df.queryExecution.executedPlan)
        assert(nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
          s"$name joins a dimension without broadcasting it")
      }
    }
  }
}
