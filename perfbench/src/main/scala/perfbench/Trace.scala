package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. Spans are recorded by the harness around
  * its own calls into the engine (op → `fn` → action, each table API call,
  * each stream trigger); Spark's public listeners supply job, stage, task,
  * Catalyst-phase and streaming-progress events. Everything stays in
  * memory until the run writes its record.
  *
  * Listener events arrive asynchronously, so spark counters are
  * attributed to spans by time interval after [[drain]].
  */
final class Trace(spark: SparkSession) {
  import Trace._

  val spans = ArrayBuffer[Span]()
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.LinkedHashMap[Int, StageRec]()
  val queries = ArrayBuffer[QueryRec]()
  val progress = ArrayBuffer[Progress]()
  private var nextId = 0

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Trace.this.synchronized {
        val props = Option(e.properties)
        val tag = Seq("spark.job.description", "spark.jobGroup.id")
          .flatMap(k => props.flatMap(p => Option(p.getProperty(k))))
          .mkString(" ").toLowerCase
        jobs(e.jobId) = JobRec(e.jobId, e.time, e.time, e.stageIds,
          tag.contains("broadcast"))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Trace.this.synchronized(jobs.get(e.jobId).foreach(_.endMs = e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Trace.this.synchronized {
        val st = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId))
        val m = e.taskMetrics
        if (m != null) {
          st.taskRunMs += m.executorRunTime
          st.cpuNs += m.executorCpuTime
          st.gcMs += m.jvmGCTime
          st.shW += m.shuffleWriteMetrics.bytesWritten
          st.shR += m.shuffleReadMetrics.totalBytesRead
          st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          st.input += m.inputMetrics.bytesRead
          val dur = e.taskInfo.finishTime - e.taskInfo.launchTime
          st.schedMs += math.max(0L, dur - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            e.taskInfo.gettingResultTime)
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit = Trace.this.synchronized {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      queries += QueryRec(System.currentTimeMillis(), ms("analysis"),
        ms("optimization"), ms("planning"))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      rec(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = rec(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        val p = e.progress
        val ops = p.stateOperators.toSeq
        val d = p.durationMs
        val durs = d.keySet.toArray.map(k => k.toString ->
          d.get(k).longValue).toMap
        progress += Progress(System.currentTimeMillis(), p.batchId,
          p.numInputRows, durs, ops.map(_.numRowsTotal).sum,
          ops.map(_.memoryUsedBytes).sum, ops.map(_.commitTimeMs).sum)
      }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.BusDrain.drain(spark.sparkContext)

  /** Records a span around `f`; returns its result and the span id. */
  def span[A](name: String, kind: String, parent: Int = -1)(f: Int => A)
      : A = {
    val id = synchronized { nextId += 1; nextId }
    val t0 = System.currentTimeMillis()
    try f(id)
    finally synchronized {
      spans += Span(id, parent, name, kind, t0, System.currentTimeMillis())
    }
  }

  /** Records a span measured elsewhere (a stream trigger's batch). */
  def addSpan(name: String, kind: String, startMs: Long, endMs: Long)
      : Unit = synchronized {
    nextId += 1
    spans += Span(nextId, -1, name, kind, startMs, endMs)
  }

  // ------------------------------------------------------------ attribution

  def jobsIn(a: Long, b: Long): Seq[JobRec] = synchronized {
    jobs.values.filter(j => j.startMs >= a && j.startMs <= b).toSeq
  }

  /** Total length of the union of the job intervals within [a, b]. */
  def jobBusyMs(a: Long, b: Long): Long = {
    val iv = jobsIn(a, b).map(j => (j.startMs max a, j.endMs min b))
      .filter { case (x, y) => y > x }.sortBy(_._1)
    var busy = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (x, y) =>
      if (x > curE) { busy += curE - curS; curS = x; curE = y }
      else curE = math.max(curE, y)
    }
    busy + (curE - curS)
  }

  /** Spark counters of the jobs started within the given intervals. */
  def sparkCounters(intervals: Seq[(Long, Long)], cores: Int)
      : Map[String, Double] = synchronized {
    val js = intervals.flatMap { case (a, b) => jobsIn(a, b) }.distinct
    val sts = js.flatMap(_.stages).distinct.flatMap(stages.get)
      .filter(_.taskRunMs.nonEmpty)
    val wallMs = intervals.map { case (a, b) => b - a }.sum.toDouble
    val busyMs = intervals.map { case (a, b) => jobBusyMs(a, b) }.sum
    val runMs = sts.map(_.taskRunMs.sum).sum.toDouble
    val skews = sts.filter(_.taskRunMs.size >= 2).map { st =>
      val sorted = st.taskRunMs.sorted
      val med = sorted(sorted.size / 2).toDouble
      if (med > 0) sorted.last / med else 1.0
    }
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> sts.size.toDouble,
      "spark.tasks" -> sts.map(_.taskRunMs.size).sum.toDouble,
      "spark.broadcast_jobs" -> js.count(_.broadcast).toDouble,
      "spark.job_busy_s" -> busyMs / 1e3,
      "spark.driver_gap_s" -> (wallMs - busyMs) / 1e3,
      "spark.sched_delay_s" -> sts.map(_.schedMs).sum / 1e3,
      "spark.task_run_s" -> runMs / 1e3,
      "spark.task_cpu_s" -> sts.map(_.cpuNs).sum / 1e9,
      "spark.task_gc_s" -> sts.map(_.gcMs).sum / 1e3,
      "spark.core_util" ->
        (if (wallMs > 0) runMs / (wallMs * cores) else 0.0),
      "spark.shuffle_write_mb" -> sts.map(_.shW).sum / 1048576.0,
      "spark.shuffle_read_mb" -> sts.map(_.shR).sum / 1048576.0,
      "spark.spill_mb" -> sts.map(_.spill).sum / 1048576.0,
      "spark.input_mb" -> sts.map(_.input).sum / 1048576.0,
      // 1.0 (no skew) when no stage ran more than one task
      "spark.stage_skew" ->
        (if (skews.isEmpty) 1.0 else Stats.quantile(skews, 0.9)))
  }

  /** Catalyst phase totals of the queries that finished within the given
    * intervals (plus a grace period: the listener runs after the action). */
  def catalystCounters(intervals: Seq[(Long, Long)]): Map[String, Double] =
    synchronized {
      val qs = queries.filter(q => intervals.exists { case (a, b) =>
        q.atMs >= a && q.atMs <= b + 250 })
      Map(
        "catalyst.queries" -> qs.size.toDouble,
        "catalyst.analysis_s" -> qs.map(_.analysisMs).sum / 1e3,
        "catalyst.optimization_s" -> qs.map(_.optimizationMs).sum / 1e3,
        "catalyst.planning_s" -> qs.map(_.planningMs).sum / 1e3)
    }

  def spanRecords: Seq[Map[String, Any]] = synchronized {
    spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "kind" -> s.kind, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs))
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, kind: String,
      startMs: Long, endMs: Long)
  final case class JobRec(id: Int, startMs: Long, var endMs: Long,
      stages: Seq[Int], broadcast: Boolean)
  final class StageRec(val id: Int) {
    val taskRunMs = ArrayBuffer[Long]()
    var cpuNs = 0L; var gcMs = 0L; var schedMs = 0L
    var shW = 0L; var shR = 0L; var spill = 0L; var input = 0L
  }
  final case class QueryRec(atMs: Long, analysisMs: Long,
      optimizationMs: Long, planningMs: Long)
  final case class Progress(atMs: Long, batchId: Long, rows: Long,
      durations: Map[String, Long], stateRows: Long, stateBytes: Long,
      stateCommitMs: Long)
}

object Stats {
  /** Linear-interpolated quantile (0 for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
