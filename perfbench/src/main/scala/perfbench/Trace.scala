package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What the workloads call around each call into the program. The
  * untraced form only runs the body; [[Recorder]] records spans and
  * engine counters. */
class Tracer {
  def on: Boolean = false
  /** Marks the start of the next loop iteration. */
  def nextIteration(): Unit = ()
  def span[T](name: String)(body: => T): T = body
  /** In a traced run, forces `df` through a `noop` sink inside the
    * current span, so a lazy frame's scan/transform cost lands there. */
  def forced(df: DataFrame): DataFrame = df
  /** A per-iteration value measured by a workload (bytes, files, pairs). */
  def note(name: String, value: Long): Unit = ()
}

object Tracer {
  val off = new Tracer
}

/** One recorded span; `iteration` groups the spans of one loop step. */
final case class Span(id: Int, parent: Int, iteration: Int, name: String,
                      startMs: Long, endMs: Long, durNs: Long)

/** Engine counters summed over Spark jobs. */
final class Counters {
  var jobs, stages, tasks, runMs, cpuNs, shuffleWrite, spill, inputBytes = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; shuffleWrite += o.shuffleWrite; spill += o.spill
    inputBytes += o.inputBytes
  }
}

/** Trace collector: spans (name, start, end, parent, iteration) kept in
  * memory, plus counters from Spark's public listener APIs, attributed to
  * the innermost span open when each job started. Spans nest and never
  * overlap their siblings (one thread calls the program), so a
  * span's self time is its duration minus its children's. */
final class Recorder(spark: SparkSession) extends Tracer {

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, Long, Long)]
  private val notes = mutable.ArrayBuffer.empty[(Int, String, Long)]
  private var nextSpan = 0
  private var iteration = 0

  override def on: Boolean = true
  override def nextIteration(): Unit = iteration += 1

  override def span[T](name: String)(body: => T): T = {
    val id = nextSpan
    nextSpan += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open.push((id, name, System.currentTimeMillis(), System.nanoTime()))
    try body
    finally {
      val (_, _, ms, ns) = open.pop()
      spans += Span(id, parent, iteration, name, ms,
        System.currentTimeMillis(), System.nanoTime() - ns)
    }
  }

  override def forced(df: DataFrame): DataFrame = {
    df.write.format("noop").mode("overwrite").save()
    df
  }

  override def note(name: String, value: Long): Unit =
    notes += ((iteration, name, value))

  // ---- engine counters ---------------------------------------------------

  private val DrainTag = "perfbench.drain"
  private val jobTime = mutable.HashMap.empty[Int, Long]
  private val jobCounters = mutable.HashMap.empty[Int, Counters]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private var drainJob = -1
  @volatile private var drained = false

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(e.properties).map(_.getProperty("spark.job.description"))
      if (desc.contains(DrainTag)) drainJob = e.jobId
      else {
        jobTime(e.jobId) = e.time
        val c = new Counters
        c.jobs = 1
        jobCounters(e.jobId) = c
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        stageJob.get(e.stageInfo.stageId).foreach(jobCounters(_).stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = jobCounters(j)
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == drainJob) drained = true
  }

  /** user_info scans by the program's own queries (the noop forcing of a
    * traced run is excluded), from the executed plans. */
  @volatile var userInfoScans = 0L

  private object Plans extends AdaptiveSparkPlanHelper

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit =
      if (!qe.logical.toString.contains("noop-table")) {
        val n = Plans.collectWithSubqueries(qe.executedPlan) {
          case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.getName == "user_info.json") => 1
        }.size
        synchronized { userInfoScans += n }
      }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  private val streamStarted = new java.util.concurrent.atomic.AtomicLong
  private val streamTerminated = new java.util.concurrent.atomic.AtomicLong
  /** Σ durationMs per key over all streaming progress events. */
  val streamMs: mutable.Map[String, Long] = mutable.HashMap.empty[String, Long]

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streamStarted.incrementAndGet()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      streamMs.synchronized {
        e.progress.durationMs.forEach((k, v) =>
          streamMs(k) = streamMs.getOrElse(k, 0L) + v.longValue)
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      streamTerminated.incrementAndGet()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until every listener event posted so far was delivered: a
    * tagged marker job is seen after all earlier jobs' events, and every
    * streaming query started has reported its termination. */
  def drainAndDetach(): Unit = {
    val sc = spark.sparkContext
    sc.setJobDescription(DrainTag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(null)
    val deadline = System.nanoTime() + 30000000000L
    while ((!drained || streamTerminated.get < streamStarted.get) &&
      System.nanoTime() < deadline) Thread.sleep(20)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  // ---- aggregation -------------------------------------------------------

  def allSpans: Seq[Span] = spans.toSeq

  private lazy val children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  def selfNs(s: Span): Long =
    s.durNs - children.getOrElse(s.id, Nil).map(_.durNs).sum

  /** Counters of the jobs started inside `s` or its descendants; a job
    * belongs to the innermost span open at its start time. */
  def counters(s: Span): Counters = {
    val c = new Counters
    ownJobs.getOrElse(s.id, Nil).foreach(c += _)
    children.getOrElse(s.id, Nil).foreach(ch => c += counters(ch))
    c
  }

  private lazy val ownJobs: Map[Int, Seq[Counters]] = synchronized {
    val depth = mutable.HashMap.empty[Int, Int]
    spans.sortBy(_.id).foreach(s =>
      depth(s.id) = if (s.parent < 0) 0 else depth.getOrElse(s.parent, 0) + 1)
    jobTime.toSeq.flatMap { case (job, t) =>
      val inside = spans.filter(s => s.startMs <= t && t <= s.endMs)
      if (inside.isEmpty) None
      else Some(inside.maxBy(s => (s.startMs, depth(s.id))).id -> jobCounters(job))
    }.groupMap(_._1)(_._2)
  }

  def notesOf(name: String): Seq[(Int, Long)] =
    notes.collect { case (i, n, v) if n == name => (i, v) }.toSeq

  /** Writes every span, one JSON object a line. */
  def write(path: Path): Unit =
    EtlGen.writeLines(path) { w =>
      spans.sortBy(_.id).foreach { s =>
        val c = counters(s)
        w.write(s"""{"id":${s.id},"parent":${s.parent},"iteration":${s.iteration},""" +
          s""""name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs},""" +
          s""""dur_ns":${s.durNs},"self_ns":${selfNs(s)},"jobs":${c.jobs},""" +
          s""""stages":${c.stages},"tasks":${c.tasks},"shuffle_write_bytes":${c.shuffleWrite}}""")
        w.write('\n')
      }
    }
}
