package graftbench

/** Checks of the benchmark's own rules, run at the start of every run
  * (no Spark; milliseconds). A broken rule stops the run before it
  * prints a result. */
object SelfTest {

  private def expect(cond: Boolean, what: String): Unit =
    if (!cond) throw new AssertionError(s"benchmark self-test failed: $what")

  def run(): Unit = {
    percentileRule()
    metricNames()
    failuresCount()
    coverage()
  }

  /** The highest percentile reported has at least ten samples beyond it,
    * and a p90 is refused below 100 samples. */
  def percentileRule(): Unit = {
    val xs99 = (1 to 99).map(_.toDouble)
    val xs100 = (1 to 100).map(_.toDouble)
    expect(Stats.tailLevel(19).isEmpty, "19 samples support no percentile")
    expect(Stats.tailLevel(20).contains(50), "20 samples support the median")
    expect(Stats.tailLevel(99).contains(75), "99 samples support p75, not p90")
    expect(Stats.tailLevel(100).contains(90), "100 samples support p90")
    expect(Stats.tailLevel(1000).contains(99), "1000 samples support p99")
    expect(!Stats.percentiles("x", "ms", xs99).exists(_._1.contains("_p90_")),
      "no p90 printed from 99 samples")
    expect(Stats.percentiles("x", "ms", xs100).map(_._1) == Seq("x_p50_ms", "x_p90_ms"),
      "p50 and p90 printed from 100 samples")
    expect(scala.util.Try(Stats.percentile(xs99, 90)).isFailure, "p90 of 99 samples refused")
    expect(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0, "median of three")
  }

  /** Every metric name is made of `[A-Za-z0-9_.-]`, starts with a letter
    * or digit, has at most 64 characters and is used once. */
  def metricNames(): Unit = {
    val names = (Main.EndToEnd ++ Main.PerLayer).map(_._1)
    names.foreach(n => expect(n.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"), s"metric name $n"))
    expect(names.distinct.size == names.size, "metric names are unique")
    (Main.EndToEnd ++ Main.PerLayer).foreach { case (n, u) =>
      expect(u.matches("[A-Za-z0-9_/%.-]{1,16}"), s"unit $u of $n")
    }
  }

  /** An op that throws and an op with a wrong result both count as
    * failed; neither is dropped from `attempted`. */
  def failuresCount(): Unit = {
    val r = Loop.run(0, cycle = 10, budgetMs = 0)(_ => ())(i =>
      if (i == 3) throw new RuntimeException("injected failure (self-test)") else i)(
      (i, out) => out != 5)()
    expect(r.attempted == 10, s"10 ops attempted, got ${r.attempted}")
    expect(r.failed == 2, s"2 ops failed, got ${r.failed}")
    expect(r.latenciesMs.size == 8, "latencies only of correct ops")
    expect(r.okOps == (0 until 10).filterNot(Set(3, 5)), "correct ops by index")
  }

  /** Interval union used for wall time covered by jobs. */
  def coverage(): Unit = {
    expect(Stats.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 0, 100) == 30, "union")
    expect(Stats.covered(Seq((0L, 10L), (5L, 20L)), 8, 12) == 4, "clipped union")
  }
}
