package graftbench

import scala.collection.mutable.ArrayBuffer

/** What a closed loop measured: the index and latency of every op that
  * returned a correct result, and how many ops were attempted and failed
  * (threw or returned a wrong result). */
final case class LoopResult(okOps: Seq[Int], latenciesMs: Seq[Double], attempted: Int,
                            failed: Int, nextOp: Int)

/** A closed loop with one client: op `i + 1` starts only after op `i`
  * and its check return. */
object Loop {

  /** Runs ops from `firstOp` on, in whole cycles of `cycle` ops, and
    * stops before a cycle that the previous cycle's duration says would
    * end past `budgetMs` (at least one cycle always runs).
    *
    * `prepare` (untimed) makes op i's inputs, `run` is the timed op and
    * `check` (untimed) says whether its result is correct; an exception
    * from `run` or `check` counts as a failed op, never as a dropped
    * one. `after` runs after every op (untimed sampling). */
  def run[T](firstOp: Int, cycle: Int, budgetMs: Double)(prepare: Int => Unit)(
      op: Int => T)(check: (Int, T) => Boolean)(after: Int => Unit = _ => ()): LoopResult = {
    require(cycle >= 1, "cycle must be positive")
    val okOps = ArrayBuffer.empty[Int]
    val lat = ArrayBuffer.empty[Double]
    var attempted = 0
    var failed = 0
    var i = firstOp
    val t0 = System.nanoTime
    var cycleStart = t0
    var lastCycleMs = 0.0
    var go = true
    while (go) {
      if ((i - firstOp) % cycle == 0 && i > firstOp) {
        val now = System.nanoTime
        lastCycleMs = (now - cycleStart) / 1e6
        cycleStart = now
        go = (now - t0) / 1e6 + lastCycleMs <= budgetMs
      }
      if (go) {
        attempted += 1
        val ok =
          try {
            prepare(i)
            val s = System.nanoTime
            val out = op(i)
            val ms = (System.nanoTime - s) / 1e6
            val good = check(i, out)
            if (good) { okOps += i; lat += ms }
            good
          } catch {
            case e: Exception =>
              System.err.println(s"op $i failed: $e")
              e.printStackTrace(System.err)
              false
          }
        if (!ok) failed += 1
        after(i)
        i += 1
      }
    }
    LoopResult(okOps.toSeq, lat.toSeq, attempted, failed, i)
  }
}
