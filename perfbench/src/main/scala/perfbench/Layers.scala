package perfbench

import scala.collection.mutable

/** Per-layer metrics from a [[Recorder]]'s spans, counters and notes.
  * A layer metric is the median over the traced iterations that called
  * the layer of the per-iteration total; `spark.*` totals come from the
  * named primary workload's traced iterations only. */
object Layers {

  def metrics(rec: Recorder, primary: String): Seq[(String, (Double, String))] = {
    val spans = rec.allSpans
    def perIteration(name: String)(f: Span => Double): Seq[Double] =
      spans.filter(_.name == name).groupBy(_.iteration).values
        .map(_.map(f).sum).toSeq
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Main.median(xs)
    def secs(name: String) = med(perIteration(name)(_.durNs / 1e9))
    def self(name: String) = med(perIteration(name)(rec.selfNs(_) / 1e9))
    def count(name: String)(f: Counters => Long) =
      med(perIteration(name)(s => f(rec.counters(s)).toDouble))
    def noted(name: String) = med(rec.notesOf(name).groupBy(_._1).values
      .map(_.map(_._2).sum.toDouble).toSeq)

    val out = mutable.ArrayBuffer.empty[(String, (Double, String))]
    def put(k: String, v: Double, unit: String): Unit = out += (k -> (v, unit))

    val csv = "sources.Tables.csv"
    put(s"$csv.s", secs(csv), "s")
    put(s"$csv.input_bytes", count(csv)(_.inputBytes), "bytes")

    val json = "sources.Tables.userInfoJson"
    put(s"$json.s", secs(json), "s")
    put(s"$json.tasks", count(json)(_.tasks), "count")
    val etlIterations = spans.count(s =>
      s.parent < 0 && (s.name == "etl_batch" || s.name == "etl_incremental"))
    put(s"$json.scans", rec.userInfoScans.toDouble / math.max(1, etlIterations),
      "count")

    for (p <- Seq("usersEnriched", "ordersEnriched")) {
      val n = s"pipelines.RefPipeline.$p"
      put(s"$n.s", secs(n), "s")
      put(s"$n.shuffle_bytes", count(n)(_.shuffleWrite), "bytes")
      put(s"$n.jobs", count(n)(_.jobs), "count")
    }

    val sink = "sources.Sinks.overwriteParquet"
    put(s"$sink.s", secs(sink), "s")
    put(s"$sink.self_s", self(sink), "s")
    put(s"$sink.output_bytes", noted(s"$sink.output_bytes"), "bytes")
    put(s"$sink.files", noted(s"$sink.files"), "count")

    val inc = "pipelines.RefOrchestration.runIncremental"
    put(s"$inc.s", secs(inc), "s")
    put(s"$inc.noop_s", secs(s"$inc[noop]"), "s")
    put(s"$inc.jobs", count(inc)(_.jobs), "count")
    val runs = spans.count(s => s.name == inc || s.name == s"$inc[noop]")
    // durationMs keys of the streaming progress events; queryPlanning is
    // reported as planning_ms to keep the name within 64 characters
    for ((key, name) <- Seq("addBatch" -> "addBatch", "walCommit" -> "walCommit",
      "latestOffset" -> "latestOffset", "queryPlanning" -> "planning"))
      put(s"$inc.stream.${name}_ms",
        rec.streamMs.getOrElse(key, 0L).toDouble / math.max(1, runs), "ms")
    put(s"$inc.checkpoint_bytes", noted(s"$inc.checkpoint_bytes"), "bytes")

    val gate = "operators.Dedup.crossMinhashPairs"
    put(s"$gate.s", secs(gate), "s")
    put(s"$gate.shuffle_bytes", count(gate)(_.shuffleWrite), "bytes")
    put(s"$gate.pairs", noted(s"$gate.pairs"), "count")

    for (apply <- Seq("operators.Dedup.applyMinhashCdc", "operators.Bm25Index.applyCdc")) {
      put(s"$apply.s", secs(apply), "s")
      put(s"$apply.jobs", count(apply)(_.jobs), "count")
      put(s"$apply.index_bytes", noted(s"$apply.index_bytes"), "bytes")
    }

    val serve = "operators.Bm25Index.crossBm25TopK"
    put(s"$serve.s", secs(serve), "s")
    put(s"$serve.shuffle_bytes", count(serve)(_.shuffleWrite), "bytes")
    put(s"$serve.jobs", count(serve)(_.jobs), "count")
    put("operators.Bm25Index.crossBm25TopKFiltered.s",
      secs("operators.Bm25Index.crossBm25TopKFiltered"), "s")

    // the primary workload's traced loop: root spans named after it
    val roots = spans.filter(s => s.parent < 0 && s.name == primary)
    val per = roots.map(rec.counters)
    def eng(f: Counters => Long) = med(per.map(c => f(c).toDouble))
    put("spark.jobs", eng(_.jobs), "count")
    put("spark.stages", eng(_.stages), "count")
    put("spark.tasks", eng(_.tasks), "count")
    put("spark.task_cpu_s", eng(_.cpuNs) / 1e9, "s")
    put("spark.shuffle_write_bytes", eng(_.shuffleWrite), "bytes")
    put("spark.spill_bytes", eng(_.spill), "bytes")
    put("spark.busy_ratio", per.map(_.runMs).sum / 1000.0 /
      (roots.map(_.durNs).sum / 1e9 * Main.Cores), "ratio")
    out.toSeq
  }
}
