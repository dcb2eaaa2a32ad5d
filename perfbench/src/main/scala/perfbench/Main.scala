package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The repository benchmark, one workload per invocation:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> [--trace-out <file>]
  * }}}
  *
  * `--trace 0` sets the workload up three times (reporting the median
  * set-up time), then runs it in a closed loop for `--seconds` and
  * prints the end-to-end metrics. `--trace 1` sets every workload up
  * once, runs the named one untraced and then traced for half of
  * `--seconds` each, gives the other two one traced pass each so every layer is
  * measured, times `etl_batch` at local[1] against local[4], and prints
  * the per-layer metrics and the tracing overhead. The last stdout line
  * is one JSON object; the exit code is non-zero iff an output check
  * failed. */
object Main {

  val Cores = 4
  val SetupReps = 3

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: Path, traceOut: Option[Path])

  /** Iterations attempted and failed (threw or failed the output check). */
  final class Tally {
    var attempted = 0L
    var failed = 0L
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)
    System.setProperty("spark.local.dir", o.work.resolve("spark-local").toString)
    System.setProperty("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
    val tally = new Tally
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    try {
      if (o.trace) traced(o, tally, metrics) else untraced(o, tally, metrics)
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        tally.attempted += 1
        tally.failed += 1
    } finally stopSession()
    val correct = tally.failed == 0 && tally.attempted > 0
    metrics.foreach { case (k, (v, u)) => println(s"[perfbench] ${o.workload} $k = $v $u") }
    println(s"[perfbench] ${o.workload} failed_ratio = " +
      s"${tally.failed.toDouble / math.max(1L, tally.attempted)} (${tally.failed}/${tally.attempted})")
    println(resultJson(correct, tally, metrics))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.names.contains(w), s"unknown workload $w")
    Opts(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Path.of(need("work")).toAbsolutePath, m.get("trace-out").map(Path.of(_)))
  }

  // ---- sessions ----------------------------------------------------------

  def session(master: String): SparkSession = {
    stopSession()
    graft.GraftSession.getOrCreate(master, shufflePartitions = 2 * Cores)
  }

  def stopSession(): Unit = {
    SparkSession.getDefaultSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  // ---- loops -------------------------------------------------------------

  /** Runs `w` for `iters` iterations, or until `seconds` have passed
    * (at least one iteration); returns each iteration's wall time (s) and
    * input rows. */
  def loop(w: Workload, tr: Tracer, tally: Tally, seconds: Double = 0,
           iters: Int = 0): Seq[(Double, Long)] = {
    val done = mutable.ArrayBuffer.empty[(Double, Long)]
    val end = System.nanoTime() + (seconds * 1e9).toLong
    def more = if (iters > 0) done.size < iters
      else done.isEmpty || System.nanoTime() < end
    while (more) {
      w.prepare()
      tr.nextIteration()
      val t0 = System.nanoTime()
      tally.attempted += 1
      val rows =
        try tr.span(w.name)(w.run(tr))
        catch {
          case NonFatal(e) =>
            tally.failed += 1
            System.err.println(s"[perfbench] ${w.name} iteration failed: $e")
            if (!e.isInstanceOf[CheckFailed]) e.printStackTrace()
            0L
        }
      done += (((System.nanoTime() - t0) / 1e9, rows))
    }
    done.toSeq
  }

  /** Session start, input generation, index build and warm-up of `name`
    * in a fresh directory; returns the workload and the seconds taken. */
  def setUp(o: Opts, name: String, master: String, dir: Path,
            tally: Tally): (Workload, Double) = {
    val t0 = System.nanoTime()
    Fs.delete(dir)
    Files.createDirectories(dir)
    val spark = session(master)
    val t1 = System.nanoTime()
    val w = Workloads.make(name, o.seed)
    w.setup(spark, dir)
    val t2 = System.nanoTime()
    val warm = loop(w, Tracer.off, tally, iters = w.warmups).map(_._1)
    val total = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] $name set-up at $master $total%.2f s: session " +
      f"${(t1 - t0) / 1e9}%.2f s, inputs ${(t2 - t1) / 1e9}%.2f s, warm-up " +
      warm.map(t => f"$t%.2f").mkString(" ") + " s")
    (w, total)
  }

  def untraced(o: Opts, tally: Tally,
               metrics: mutable.Map[String, (Double, String)]): Unit = {
    val setups = (1 to SetupReps).map { r =>
      if (r > 1) Fs.delete(o.work.resolve(s"setup-${r - 1}"))
      setUp(o, o.workload, s"local[$Cores]", o.work.resolve(s"setup-$r"), tally)
    }
    val w = setups.last._1
    val measured = loop(w, Tracer.off, tally, o.seconds)
    // timed over the iterations that consumed input: a window holds only a
    // few etl_incremental steps, so whether it ends before or after a
    // no-op rerun would move the median; the reruns are still run and
    // checked, and timed by the traced runIncremental.noop_s
    val loaded = measured.filter(_._2 > 0)
    val times = loaded.map(_._1)
    metrics("setup_s") = (median(setups.map(_._2)), "s")
    metrics("run_s.p50") = (median(times), "s")
    metrics("rows_per_s") = (median(loaded.map { case (t, rows) => rows / t }), "1/s")
    metrics("live_heap_mb") = (liveHeapMb(), "MB")
    metrics("stored_bytes_per_input_byte") =
      (w.storedBytes.toDouble / w.inputBytes, "ratio")
    // too few iterations per run for a steady tail: printed, not reported
    println(s"[perfbench] ${o.workload} run_s.p90 = ${quantile(times, 0.9)} s " +
      s"over ${times.size} iterations")
    System.err.println(s"[perfbench] ${o.workload} iteration times: " +
      measured.map(t => f"${t._1}%.3f").mkString(" ") + " s")
  }

  def traced(o: Opts, tally: Tally,
             metrics: mutable.Map[String, (Double, String)]): Unit = {
    val spark = session(s"local[$Cores]")
    val ws = Workloads.names.map { n =>
      val w = Workloads.make(n, o.seed)
      val dir = o.work.resolve(n)
      Files.createDirectories(dir)
      w.setup(spark, dir)
      loop(w, Tracer.off, tally, iters = w.warmups)
      n -> w
    }.toMap
    // the measured window is split between an untraced and a traced loop
    val primary = ws(o.workload)
    val plain = loop(primary, Tracer.off, tally, o.seconds / 2)

    val rec = new Recorder(spark)
    rec.attach()
    val gc0 = gcSeconds()
    val traced = loop(primary, rec, tally, o.seconds / 2)
    val gc = gcSeconds() - gc0
    val persisted = spark.sparkContext.getPersistentRDDs.size
    // one traced pass over the other workloads, so every layer is
    // measured; etl_incremental's pass includes a no-op rerun
    Workloads.names.filter(_ != o.workload).foreach { n =>
      loop(ws(n), rec, tally, iters = if (n == "etl_incremental") 4 else 1)
    }
    rec.drainAndDetach()
    o.traceOut.foreach(rec.write)

    // single-threaded baseline: one warm untraced etl_batch iteration at
    // local[4], then one at local[1] after the same set-up and warm-up
    // as at local[4], so the ratio holds no cold-session cost
    val t4 = if (o.workload == "etl_batch") median(plain.map(_._1))
      else loop(ws("etl_batch"), Tracer.off, tally, iters = 1).head._1
    val (b1, _) = setUp(o, "etl_batch", "local[1]", o.work.resolve("local1"), tally)
    val t1 = loop(b1, Tracer.off, tally, iters = 1).head._1

    Layers.metrics(rec, o.workload).foreach { case (k, v) => metrics(k) = v }
    metrics("spark.gc_s") = (gc / traced.size, "s")
    metrics("spark.persisted_rdds") = (persisted.toDouble, "count")
    metrics("spark.parallel_speedup") = (t1 / t4, "ratio")
    // overhead over iterations that consumed input (no-op reruns excluded)
    def loaded(xs: Seq[(Double, Long)]) =
      median(Some(xs.filter(_._2 > 0)).filter(_.nonEmpty).getOrElse(xs).map(_._1))
    metrics("trace.overhead_s") = (loaded(traced) - loaded(plain), "s")
    System.err.println(s"[perfbench] ${o.workload} untraced / traced iteration times: " +
      Seq(plain, traced).map(_.map(t => f"${t._1}%.3f").mkString(" ")).mkString(" / ") + " s")
  }

  // ---- measurements ------------------------------------------------------

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Heap in use after full collections; the pauses let reference-queue
    * cleaners (Spark's ContextCleaner) release what the first one freed. */
  def liveHeapMb(): Double = {
    for (_ <- 1 to 3) {
      System.gc()
      Thread.sleep(300)
    }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0

  def resultJson(correct: Boolean, t: Tally,
                 metrics: collection.Map[String, (Double, String)]): String = {
    val ms = metrics.collect { case (k, (v, u)) if !v.isNaN && !v.isInfinite =>
      s""""$k": {"value": $v, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": ${t.attempted}, "failed": ${t.failed}, "metrics": {$ms}}"""
  }
}
