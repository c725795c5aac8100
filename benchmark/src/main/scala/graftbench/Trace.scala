package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer tracing from the benchmark's own side of the engine API.
  *
  * A span is a named interval on the client's timeline around one public
  * engine call. Three listeners collect what the engine did meanwhile:
  *  - a `SparkListener` records jobs with their task metrics, and each SQL
  *    execution's final physical plan and driver-side SQL metrics;
  *  - a `QueryExecutionListener` records each query's planning time
  *    (analysis, optimization and physical planning);
  *  - a `StreamingQueryListener` records each progress report's phase
  *    durations (`durationMs`).
  * The client's jobs carry the span's name as a local property; jobs the
  * streaming query runs carry its query id instead and are attributed to
  * the span open when they started. Everything stays in memory; workloads
  * read it back at the end of their traced phase.
  *
  * Spans of a tracer that is not attached cost one clock read each.
  */
final class Tracer {
  import Tracer._

  private var attached = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  // Keyed by (session index, id): job, stage and execution ids restart per
  // context.
  private val jobs = mutable.LinkedHashMap.empty[(Int, Int), Job]
  private val stageJob = mutable.HashMap.empty[(Int, Int), (Int, Int)]
  private val sqlPlans = mutable.HashMap.empty[(Int, Long), SparkPlanInfo]
  private val driverAccums = mutable.HashMap.empty[(Int, Long), Map[Long, Long]]
  private val plannings = new ConcurrentLinkedQueue[Planning]()
  private val progress = new ConcurrentLinkedQueue[Progress]()
  private val sessions = mutable.ArrayBuffer.empty[SparkSession]

  private def jobListener(ctx: Int) = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      jobs((ctx, e.jobId)) = Job(ctx, e.time, e.time, ended = false, prop(SpanKey),
        prop("spark.sql.execution.id").map(_.toLong),
        prop("sql.streaming.queryId").isDefined, TaskSums())
      e.stageIds.foreach(s => stageJob((ctx, s)) = (ctx, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get((ctx, e.jobId)).foreach { j => j.endMs = e.time; j.ended = true }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) jobs.synchronized {
        stageJob.get((ctx, e.stageId)).flatMap(jobs.get).foreach { j =>
          j.tasks = j.tasks + TaskSums(
            m.executorCpuTime / 1e6, m.executorRunTime.toDouble, m.jvmGCTime.toDouble,
            m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
            m.inputMetrics.bytesRead)
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = jobs.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart => sqlPlans((ctx, s.executionId)) = s.sparkPlanInfo
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          sqlPlans((ctx, u.executionId)) = u.sparkPlanInfo
        case a: SparkListenerDriverAccumUpdates =>
          driverAccums((ctx, a.executionId)) =
            driverAccums.getOrElse((ctx, a.executionId), Map.empty[Long, Long]) ++ a.accumUpdates
        case _ => ()
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val now = System.currentTimeMillis()
      plannings.add(Planning(now - durationNs / 1000000L,
        qe.tracker.phases.values.map(_.durationMs).sum.toDouble))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0)
        progress.add(Progress(p.batchId, p.numInputRows,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  /** Registers the three listeners on `spark` (once per session). */
  def attach(spark: SparkSession): Unit = {
    attached = true
    if (!sessions.contains(spark)) {
      sessions += spark
      spark.sparkContext.addSparkListener(jobListener(sessions.length))
      spark.listenerManager.register(queryListener)
      spark.streams.addListener(streamListener)
    }
  }

  /** Waits until the listener bus has delivered every event queued so far.
    * The bus has no public flush, so a one-task marker job is run and its
    * end event awaited: events on one queue are delivered in order. */
  def drain(spark: SparkSession): Unit = if (attached) {
    val sc = spark.sparkContext
    sc.setLocalProperty(SpanKey, DrainLabel)
    try sc.parallelize(Seq(0), 1).count()
    finally sc.setLocalProperty(SpanKey, null)
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() < deadline &&
      !jobs.synchronized(jobs.values.exists(j => j.ended && j.label.contains(DrainLabel))))
      Thread.sleep(10)
    // The SQL and streaming listeners sit on queues of their own.
    Thread.sleep(300)
    jobs.synchronized(jobs.filterInPlace((_, j) => !j.label.contains(DrainLabel)))
  }

  /** Runs `body` as the span `name` on the client timeline. */
  def span[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    if (attached) sc.setLocalProperty(SpanKey, name)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      spans.add(Span(name, t0, System.currentTimeMillis()))
      if (attached) sc.setLocalProperty(SpanKey, null)
    }
  }

  // ---- queries over what was recorded ---------------------------------------

  def spansNamed(name: String): Seq[Span] = spans.asScala.filter(_.name == name).toSeq

  private def inSpan(s: Span, t: Long): Boolean = t >= s.startMs && t <= s.endMs

  /** The client's own jobs of span `s`, or with `stream` the jobs the
    * streaming query started inside it. */
  def jobsIn(s: Span, stream: Boolean): Seq[Job] = jobs.synchronized {
    jobs.values.filter(j => j.stream == stream && inSpan(s, j.startMs) &&
      (stream || j.label.contains(s.name))).toSeq
  }

  /** Milliseconds of `s` covered by at least one of `js`. */
  def jobUnionMs(s: Span, js: Seq[Job]): Double = {
    val iv = js.map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var (curA, curB) = (0L, 0L)
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    (covered + curB - curA).toDouble
  }

  def tasks(js: Seq[Job]): TaskSums = js.map(_.tasks).foldLeft(TaskSums())(_ + _)

  /** The final plans of the client's SQL executions inside `s`. */
  def plansIn(s: Span): Seq[Plan] = jobs.synchronized {
    jobsIn(s, stream = false).flatMap(j => j.execId.map(j.ctx -> _)).distinct.flatMap { k =>
      sqlPlans.get(k).map { info =>
        val nodes = flatten(info)
        val filesAccums = nodes.flatMap(_.metrics).filter(_.name == "number of files read")
          .map(_.accumulatorId).toSet
        val accums = driverAccums.getOrElse(k, Map.empty[Long, Long])
        Plan(nodes.count(n => ExchangeNodes.contains(n.nodeName)),
          accums.collect { case (id, v) if filesAccums.contains(id) => v }.sum)
      }
    }
  }

  /** Planning time of the queries that started inside `s`. */
  def planningMsIn(s: Span): Double =
    plannings.asScala.filter(p => inSpan(s, p.startMs)).map(_.ms).sum

  def progresses: Seq[Progress] = progress.asScala.toSeq.sortBy(_.batchId)

  private def flatten(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(flatten)
}

object Tracer {
  private val SpanKey = "graftbench.span"
  private val DrainLabel = "graftbench.drain"
  /** Plan nodes that repartition data between stages. */
  private val ExchangeNodes = Set("Exchange", "BroadcastExchange")

  final case class Span(name: String, startMs: Long, endMs: Long)
  final case class Job(ctx: Int, startMs: Long, var endMs: Long, var ended: Boolean,
                       label: Option[String], execId: Option[Long], stream: Boolean,
                       var tasks: TaskSums)
  final case class TaskSums(cpuMs: Double = 0, runMs: Double = 0, gcMs: Double = 0,
                            shuffleWrite: Long = 0, spill: Long = 0, inBytes: Long = 0) {
    def +(o: TaskSums): TaskSums = TaskSums(cpuMs + o.cpuMs, runMs + o.runMs,
      gcMs + o.gcMs, shuffleWrite + o.shuffleWrite, spill + o.spill, inBytes + o.inBytes)
  }
  final case class Plan(exchanges: Int, filesRead: Long)
  final case class Planning(startMs: Long, ms: Double)
  final case class Progress(batchId: Long, rows: Long, durations: Map[String, Long])
}
