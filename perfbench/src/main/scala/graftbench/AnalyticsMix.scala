package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, TempDirs}

/** An analyst's warm interactive session: registry queries over a
  * generated star schema plus events, documents and embeddings, one
  * query per op in a seeded order per pass. Caches stay warm between
  * queries; nothing is written to a table. */
final class AnalyticsMix extends Workload {
  type Out = Array[org.apache.spark.sql.Row]

  import AnalyticsMix._

  val opName = "query"
  /** One pass over the mix. */
  val cycle: Int = Mix.size

  private var spark: SparkSession = _
  private var dir: String = _
  private var seed: Long = _
  private var counts = Map.empty[String, Int]
  private lazy val registry: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries.filter { case (k, _) => Mix.contains(k) }
  private val warmHash = mutable.HashMap.empty[String, Long]

  val setupInputs = Seq("data")

  def inputs: Seq[(String, String)] =
    ("scale_factor" -> ScaleFactor.toString) +: counts.toSeq.sorted.map {
      case (k, v) => s"${k}_rows" -> v.toString }

  def setup(spark: SparkSession, dir: String, seed: Long): Unit = {
    this.spark = spark; this.dir = s"$dir/data"; this.seed = seed
    counts = Gen.star(spark, seed, ScaleFactor, this.dir)
  }

  /** The query of op `i`: each pass runs the mix in its own seeded
    * order. */
  def queryOf(i: Int): String =
    new scala.util.Random(Gen.rng(seed, 5000 + i / Mix.size).nextLong()).shuffle(Mix)
      .apply(i % Mix.size)

  /** Order-free hash of a result: rows compare as a multiset. */
  private def hash(rows: Array[org.apache.spark.sql.Row]): Long =
    rows.map(_.toString).sorted.foldLeft(1125899906842597L)((h, r) => 31 * h + r.hashCode)

  private def execute(q: String): Out = registry(q)(spark, dir).collect()

  /** One untimed pass records each query's result hash. */
  override def warmup(): Unit = Mix.foreach { q =>
    warmHash(q) = hash(execute(q))
    TempDirs.cleanup()
  }

  def run(i: Int): Out = {
    val q = queryOf(i)
    Trace.span(s"analytics.$q")(execute(q))
  }

  /** The result equals the warm-up's. Also deletes the scratch
    * directories the query made. */
  def check(i: Int, out: Out): Boolean = {
    TempDirs.cleanup()
    val same = warmHash.get(queryOf(i)).contains(hash(out))
    if (!same) System.err.println(s"op $i: ${queryOf(i)} differs from its warm-up result")
    same
  }

  override def layers(t: Layers): Map[String, Double] =
    Mix.map(q => s"analytics.query_ms.$q" -> t.medianMs(s"analytics.$q")).toMap
}

object AnalyticsMix {
  val ScaleFactor = 0.005

  /** The interactive mix: the reference's two reports over the consumer
    * pipeline (`q1_avg_monthly`, `q2_avg_hourly`: the etl and reporting
    * layers), a join, a window, a rollup, a sketch, the native as-of join
    * (a planner strategy of graft's own), text and near-duplicate queries
    * on native functions, and exact cosine top-k (the similarity layer).
    * The other registry queries of the interactive list, and the IVF-PQ
    * probe, whose index training alone takes 10 s of every run's warm-up,
    * do not fit the run budget. */
  val Mix: Seq[String] = Seq(
    "q1_avg_monthly", "q2_avg_hourly", "join_revenue_nation", "window_running",
    "rollup_priority", "distinct_approx", "join_asof_native", "dedup_minhash", "text_tfidf",
    "ann_cosine_topk")
}
