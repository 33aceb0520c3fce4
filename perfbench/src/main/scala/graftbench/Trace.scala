package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded in the benchmark's own code around each call into a
  * graft layer, plus the engine events Spark's public listeners report.
  * Everything stays in memory until the run ends. Off unless enabled:
  * the untraced run pays one volatile read per span. */
object Trace {

  /** One span. `op` is the index of the benchmark op it belongs to (-1
    * outside ops); times are epoch ms for attribution of listener
    * events and nanoTime for durations. */
  final case class Span(id: Int, parent: Int, op: Int, name: String,
                        startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  final case class Job(startMs: Long, endMs: Long)
  final case class Task(endMs: Long, runMs: Long, gcMs: Long, inputBytes: Long,
                        shuffleBytes: Long, spillBytes: Long, outputBytes: Long,
                        outputRecords: Long)
  /** One executed plan: planning time, whether an in-memory scan served
    * it, and the files its file scans read. */
  final case class Plan(startMs: Long, planMs: Double, inMemoryScan: Boolean,
                        filesRead: Long)

  @volatile private var on = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var currentOp = -1
  private val jobStarts = scala.collection.concurrent.TrieMap.empty[Int, Long]
  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Task]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[Plan]()
  private val reregistrations = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  private val eventsSeen = new java.util.concurrent.atomic.AtomicLong

  def enabled: Boolean = on

  /** Starts recording and attaches the listeners to `spark`. */
  def start(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(Engine)
    spark.listenerManager.register(Plans)
    attachLogCounter()
    on = true
  }

  /** Runs `body` as span `name`, a child of the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += null // reserve the id
      stack = id :: stack
      val (s0, n0) = (System.currentTimeMillis, System.nanoTime)
      try body
      finally {
        spans(id) = Span(id, parent, currentOp, name, s0, System.currentTimeMillis,
          n0, System.nanoTime)
        stack = stack.tail
      }
    }

  /** Runs op number `i` as a root span named `op`. */
  def op[T](i: Int)(body: => T): T = {
    currentOp = i
    try span("op")(body) finally currentOp = -1
  }

  def allSpans: Seq[Span] = spans.toSeq

  /** Waits until the listener bus has delivered everything posted so far:
    * no new event for a while, bounded. */
  def drain(): Unit = {
    var last = -1L
    var waited = 0
    while (eventsSeen.get != last && waited < 5000) {
      last = eventsSeen.get
      Thread.sleep(250); waited += 250
    }
  }

  import scala.jdk.CollectionConverters._
  def allJobs: Seq[Job] = jobs.asScala.toSeq
  def allTasks: Seq[Task] = tasks.asScala.toSeq
  def allPlans: Seq[Plan] = plans.asScala.toSeq
  def reregistrationTimes: Seq[Long] = reregistrations.asScala.toSeq.map(_.longValue)

  /** Self time of every span: its duration minus the part its children
    * cover (children never overlap: one client thread). */
  def selfMs(all: Seq[Span]): Map[Int, Double] = {
    val childMs = all.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(_.ms).sum }
    all.map(s => s.id -> (s.ms - childMs.getOrElse(s.id, 0.0))).toMap
  }

  private object Engine extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStarts.put(e.jobId, e.time); eventsSeen.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobStarts.remove(e.jobId).foreach(s => jobs.add(Job(s, e.time)))
      eventsSeen.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(Task(e.taskInfo.finishTime, m.executorRunTime,
        m.jvmGCTime, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten,
        m.outputMetrics.recordsWritten))
      eventsSeen.incrementAndGet()
    }
  }

  private object Plans extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      val start = if (phases.isEmpty) System.currentTimeMillis else phases.map(_.startTimeMs).min
      plans.add(Plan(start, phases.map(_.durationMs).sum.toDouble,
        planNodes(qe.executedPlan).exists(_.isInstanceOf[InMemoryTableScanExec]),
        planNodes(qe.executedPlan).collect { case f: FileSourceScanExec =>
          f.metrics.get("numFiles").map(_.value).getOrElse(0L) }.sum))
      eventsSeen.incrementAndGet()
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      eventsSeen.incrementAndGet()
  }

  /** Every node of an executed plan, through adaptive stages and
    * subqueries. */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
      case s: QueryStageExec => planNodes(s.plan)
      case other => other.children.flatMap(planNodes) ++ other.subqueries.flatMap(planNodes)
    }
    p +: inner
  }

  /** Counts `SimpleFunctionRegistry` warnings that a function replaced a
    * previously registered one: each is a re-registration the function
    * install path paid. */
  private def attachLogCounter(): Unit = {
    val ctx = LoggerContext.getContext(false)
    val appender = new AbstractAppender("graftbench-reregistrations", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName.contains("FunctionRegistry") &&
            e.getMessage.getFormattedMessage.contains("replaced a previously registered"))
          reregistrations.add(e.getTimeMillis)
    }
    appender.start()
    ctx.getConfiguration.getRootLogger.addAppender(appender, null, null)
    ctx.updateLoggers()
  }
}
