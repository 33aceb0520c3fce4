package graftbench

import org.apache.spark.sql.SparkSession

/** One closed-loop workload. The runner calls `setup` with an empty
  * `dir` several times on one session, to time set-up (the last one
  * stays), then `warmup`, then ops `i = 0, 1, ...` as `prepare(i)`
  * (untimed), `run(i)` (timed) and `check(i, out)` (untimed). */
trait Workload {
  type Out

  /** What one op is, naming its latency in the readable report. */
  def opName: String

  /** Ops in one cycle of the mix; the loop measures whole cycles. */
  def cycle: Int

  /** Generates the inputs from `seed` under `dir` and builds the initial
    * table or index. */
  def setup(spark: SparkSession, dir: String, seed: Long): Unit

  /** Untimed work before measurement starts. */
  def warmup(): Unit = ()

  /** Ops run through the loop, checked but not timed, before the
    * measured ones: the first runs of each code path pay class loading
    * and JIT compilation that a long-lived session pays once. */
  def warmupOps: Int = 0

  def prepare(i: Int): Unit = ()

  def run(i: Int): Out

  /** Whether op `i`'s result is correct. */
  def check(i: Int, out: Out): Boolean

  /** Directories under the set-up `dir` that hold the generated set-up
    * inputs (hashed into the report). */
  def setupInputs: Seq[String]

  /** What the inputs were: sizes and counts, for the report. */
  def inputs: Seq[(String, String)]

  /** Workload figures a user sees besides op latency, as
    * (name, value, unit); computed once after the measured loop. */
  def figures(): Seq[(String, Double, String)] = Nil

  /** Per-layer metrics from the spans of a traced run. */
  def layers(t: Layers): Map[String, Double] = Map.empty
}

object Workload {
  val all: Seq[String] = Seq("cdc_upsert", "analytics_mix")

  def apply(name: String): Workload = name match {
    case "cdc_upsert" => new CdcUpsert
    case "analytics_mix" => new AnalyticsMix
    case other => throw new IllegalArgumentException(
      s"unknown workload $other; expected one of ${all.mkString(", ")}")
  }
}
