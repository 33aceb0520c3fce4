package graftbench

import Trace.Span
import Layers.Window

/** Per-layer figures of a traced run: engine events attributed to the
  * spans whose wall-clock interval they fall in. `loopMs` is each
  * correct op's latency as the loop timed it, a clock apart from the
  * spans'. */
final class Layers(val spans: Seq[Span], jobs: Seq[Trace.Job], tasks: Seq[Trace.Task],
                   plans: Seq[Trace.Plan], reregistrations: Seq[Long],
                   loopMs: Map[Int, Double]) {

  def window(lo: Long, hi: Long): Window = {
    val ts = tasks.filter(t => t.endMs >= lo && t.endMs <= hi)
    val ps = plans.filter(p => p.startMs >= lo && p.startMs <= hi)
    Window(jobs.count(j => j.startMs >= lo && j.startMs <= hi),
      Stats.covered(jobs.map(j => (j.startMs, j.endMs)), lo, hi),
      ts.size, ts.map(_.runMs).sum, ts.map(_.gcMs).sum, ts.map(_.inputBytes).sum,
      ts.map(_.shuffleBytes).sum, ts.map(_.spillBytes).sum, ts.map(_.outputBytes).sum,
      ts.map(_.outputRecords).sum, ps.size, ps.count(_.inMemoryScan), ps.map(_.planMs).sum,
      ps.map(_.filesRead).sum, reregistrations.count(t => t >= lo && t <= hi))
  }

  def window(s: Span): Window = window(s.startMs, s.endMs)

  val ops: Seq[Span] = spans.filter(_.name == "op")

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  /** Median duration of the spans called `name`; 0 when there are none. */
  def medianMs(name: String): Double = med(named(name).map(_.ms))

  def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  private val MB = 1024.0 * 1024.0

  /** Engine, cache and function-registry figures per op (medians unless
    * the name says otherwise), and the span reconciliation: per op, the
    * self times of its layer spans plus the unexplained remainder (the op
    * span's own self time: the benchmark's code between layer calls) are
    * set against the op's latency as the loop measured it. */
  def generic: Map[String, Double] = {
    val ws = ops.map(window)
    def m(f: Window => Double) = med(ws.map(f))
    val self = Trace.selfMs(spans)
    val byOp = spans.groupBy(_.op)
    val unexplained = ops.map(o => self(o.id))
    val reconcileError = ops.filter(o => loopMs.contains(o.op)).map { o =>
      math.abs(byOp(o.op).map(s => self(s.id)).sum - loopMs(o.op))
    }
    val plansRun = ws.map(_.plans).sum
    Map(
      "engine.plan_ms" -> m(_.planMs),
      "engine.jobs" -> m(_.jobs.toDouble),
      "engine.tasks" -> m(_.tasks.toDouble),
      "engine.job_ms" -> m(_.jobMs.toDouble),
      "engine.driver_gap_ms" -> med(ops.zip(ws).map { case (o, w) =>
        math.max(0.0, o.ms - w.jobMs) }),
      "engine.task_ms" -> m(_.taskMs.toDouble),
      "engine.gc_ms" -> m(_.gcMs.toDouble),
      "engine.input_mb" -> m(_.inputBytes / MB),
      "engine.shuffle_mb" -> m(_.shuffleBytes / MB),
      "engine.spill_mb" -> m(_.spillBytes / MB),
      "engine.output_mb" -> m(_.outputBytes / MB),
      "cache.scan_ratio" -> (if (plansRun == 0) 0.0
        else ws.map(_.inMemoryPlans).sum.toDouble / plansRun),
      "functions.reregistrations" ->
        (if (ws.isEmpty) 0.0 else ws.map(_.reregistrations).sum.toDouble / ws.size),
      "trace.unexplained_ms" -> med(unexplained),
      "trace.unexplained_share" ->
        (if (ops.isEmpty) 0.0 else unexplained.sum / ops.map(_.ms).sum),
      "trace.reconcile_error_ms" -> (if (reconcileError.isEmpty) 0.0 else reconcileError.max))
  }
}

object Layers {
  /** Engine work inside one interval. */
  final case class Window(jobs: Int, jobMs: Long, tasks: Int, taskMs: Long, gcMs: Long,
                          inputBytes: Long, shuffleBytes: Long, spillBytes: Long,
                          outputBytes: Long, outputRecords: Long, plans: Int,
                          inMemoryPlans: Int, planMs: Double, filesRead: Long,
                          reregistrations: Int)
}
