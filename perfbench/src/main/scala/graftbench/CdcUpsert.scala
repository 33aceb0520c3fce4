package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.acid.{MergeClause, TxLog}

/** Small change batches committed to a partitioned consumer table. One
  * op is a commit and the read-after-write snapshot aggregate after it,
  * checked against an in-memory key → row model. */
final class CdcUpsert extends Workload {
  /** Count, sum of cents and row-hash xor of the snapshot read. */
  type Out = (Long, Long, Long)

  import CdcUpsert._

  val opName = "commit_read"
  /** Two rounds of six commits (each row-level kind once, then an
    * optimize): one round is too little work to be steady on a shared
    * machine. The warm-up runs one round. */
  val cycle = 2 * Round
  override val warmupOps = Round

  private var spark: SparkSession = _
  private var dir: String = _
  private var seed: Long = _
  private def table = s"$dir/consumer"

  /** The model: key → row, plus per-month key lists for seeded sampling. */
  private val model = mutable.HashMap.empty[Long, Trip]
  private val byMonth = Array.fill(Months + 1)(mutable.ArrayBuffer.empty[Long])
  private val slot = mutable.HashMap.empty[Long, Int]
  private var nextId = 0L

  private var change: Seq[Trip] = Nil
  private var changeBytes = 0L
  private var kind = ""

  private val readMs = mutable.ArrayBuffer.empty[Double]
  private val commitMs = mutable.ArrayBuffer.empty[(String, Double)]
  private var cacheBefore = (0L, 0L)

  private val traced = mutable.ArrayBuffer.empty[Commit]
  private val liveFiles = mutable.ArrayBuffer.empty[Int]

  val setupInputs = Seq("initial")

  def inputs: Seq[(String, String)] = Seq(
    "initial_rows" -> InitialRows.toString, "months" -> Months.toString,
    "change_rows" -> s"${InitialRows / 500}-${InitialRows / 100}",
    "checkpoint_interval" -> "10 (engine default)")

  private def put(t: Trip): Unit = {
    if (!model.contains(t.id)) {
      slot(t.id) = byMonth(t.month).size
      byMonth(t.month) += t.id
    }
    model(t.id) = t
  }

  private def remove(id: Long): Unit = model.remove(id).foreach { t =>
    val keys = byMonth(t.month)
    val at = slot.remove(id).get
    val last = keys.remove(keys.size - 1)
    if (last != id) { keys(at) = last; slot(last) = at }
  }

  private def fresh(r: java.util.Random, month: Int): Trip = {
    val id = nextId
    nextId += 1
    val day = Gen.micros(2024, month, 1) + r.nextInt(28) * Gen.Day
    Trip(id, if (r.nextBoolean()) "purchase" else "view", 1L + r.nextInt(6),
      Gen.cents(r, 300, 12000), day + r.nextInt(86400) * 1000000L, month)
  }

  def setup(spark: SparkSession, dir: String, seed: Long): Unit = {
    this.spark = spark; this.dir = dir; this.seed = seed
    model.clear(); slot.clear(); byMonth.foreach(_.clear()); nextId = 0
    readMs.clear(); commitMs.clear(); traced.clear(); liveFiles.clear()
    val r = Gen.rng(seed, 2000)
    // ids grow with time, as a trip table's keys do
    (1 to Months).foreach(m => (0 until InitialRows / Months).foreach(_ => put(fresh(r, m))))
    // the history, then the latest month as a second commit
    val (latest, history) = model.values.toSeq.sortBy(_.id).partition(_.month == Months)
    Gen.write(spark, history.map(_.row), schema, s"$dir/initial/history")
    Gen.write(spark, latest.map(_.row), schema, s"$dir/initial/latest")
    TxLog.overwrite(spark.read.parquet(s"$dir/initial/history"), table,
      Seq("trip_type", "trip_year", "trip_month"))
    TxLog.append(spark.read.parquet(s"$dir/initial/latest"), table)
  }

  /** Commit `i`'s kind, in the same order every round: the table state
    * each kind meets (files per partition, outstanding deletion vectors)
    * then depends on the seed's data only. A measured cycle commits
    * twelve versions in a row, so at least one lands on a checkpoint
    * (every tenth version). */
  def kindOf(i: Int): String = (Kinds :+ "optimize")(i % Round)

  /** The change batch of commit `i`: 0.2–1 % of the table; about 70 % of
    * its keys from the latest month, 10 % from older months, 20 % new. */
  override def prepare(i: Int): Unit = {
    kind = kindOf(i)
    val r = Gen.rng(seed, 4000 + i)
    val n = InitialRows / 500 + r.nextInt(InitialRows / 125)
    val picked = mutable.LinkedHashMap.empty[Long, Trip]
    def existing(month: Int): Unit = {
      val keys = byMonth(month)
      if (keys.nonEmpty) {
        val t = model(keys(r.nextInt(keys.size)))
        picked(t.id) = t.copy(passengers = 1L + r.nextInt(6), amount = Gen.cents(r, 300, 12000))
      }
    }
    val newKeys = kind.startsWith("merge")
    (0 until n).foreach { _ =>
      val u = r.nextInt(100)
      if (u < 70) existing(Months)
      else if (u < 80) existing(1 + r.nextInt(Months - 1))
      else if (newKeys) { val t = fresh(r, Months); picked(t.id) = t }
      else existing(Months)
    }
    change = picked.values.toSeq
    if (kind != "optimize") {
      val path = s"$dir/changes/c$i"
      Gen.write(spark, change.map(_.row), schema, path)
      changeBytes = new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    }
  }

  /** Commit `i`, then the read-after-write snapshot aggregate: count,
    * sum of cents and the xor of row hashes. The op is the pair, so a
    * change that makes commits cheaper but reads dearer shows in it. */
  def run(i: Int): Out = {
    val t0 = System.nanoTime
    cacheBefore = TxLog.parsedCacheStats
    Trace.span(s"acid.commit.$kind") {
      lazy val source = spark.read.parquet(s"$dir/changes/c$i")
      val keys = change.map(_.id)
      kind match {
        case "merge" => TxLog.merge(source, table, Seq("trip_id"))
        case "merge_dv" => TxLog.mergeWithDv(source, table, Seq("trip_id"))
        case "merge_cond" => TxLog.mergeConditional(source, table, Seq("trip_id"), Seq(
          MergeClause.MatchedUpdate(Some("s.total_amount >= t.total_amount"),
            Map("total_amount" -> "s.total_amount")),
          MergeClause.NotMatchedInsert(None)))
        case "update" => TxLog.update(spark, table, col("trip_id").isin(keys: _*),
          Map("total_amount" -> (col("total_amount") + lit(1.0))))
        case "delete" => TxLog.delete(spark, table, col("trip_id").isin(keys: _*))
        case "optimize" => TxLog.optimize(spark, table)
      }
    }
    val t1 = System.nanoTime
    val agg = Trace.span("acid.read") {
      TxLog.read(spark, table).agg(count(lit(1)),
        sum(round(col("total_amount") * 100).cast("long")),
        bit_xor(xxhash64(col("trip_id"), col("passenger_count"), col("total_amount"))))
        .collect()(0)
    }
    if (i >= warmupOps) {
      commitMs += kind -> (t1 - t0) / 1e6
      readMs += (System.nanoTime - t1) / 1e6
    }
    (agg.getLong(0), agg.getLong(1), agg.getLong(2))
  }

  /** Applies commit `i` to the model. */
  private def applyChange(): Unit = kind match {
    case "merge" | "merge_dv" => change.foreach(put)
    case "merge_cond" => change.foreach { s =>
      model.get(s.id) match {
        case Some(t) => if (s.amount >= t.amount) put(t.copy(amount = s.amount))
        case None => put(s)
      }
    }
    case "update" => change.foreach(s => put(model(s.id).copy(amount = model(s.id).amount + 1.0)))
    case "delete" => change.foreach(s => remove(s.id))
    case "optimize" => ()
  }

  /** Spark's `xxhash64(trip_id, passenger_count, total_amount)`. */
  private def rowHash(t: Trip): Long = {
    val h1 = XXH64.hashLong(t.id, 42L)
    val h2 = XXH64.hashLong(t.passengers, h1)
    XXH64.hashLong(java.lang.Double.doubleToLongBits(if (t.amount == 0.0) 0.0 else t.amount), h2)
  }

  /** The read-after-write aggregate must equal the model's. */
  def check(i: Int, out: Out): Boolean = {
    val (hits, misses) = TxLog.parsedCacheStats
    applyChange()
    if (Trace.enabled) {
      val (v, adds, removes, _) = TxLog.history(spark, table).last
      traced += Commit(kind, hits - cacheBefore._1, misses - cacheBefore._2, v, adds,
        removes, change.size, changeBytes)
      liveFiles += TxLog.fileCount(spark, table)
    }
    out == (model.size.toLong,
      model.values.map(t => math.round(t.amount * 100)).sum,
      model.values.foldLeft(0L)((acc, t) => acc ^ rowHash(t)))
  }

  /** Bytes of the live data and deletion-vector files (every file a
    * snapshot read opens) per live row. */
  private def liveBytesPerRow: Double = {
    val conf = spark.sparkContext.hadoopConfiguration
    TxLog.read(spark, table).inputFiles.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum.toDouble / model.size
  }

  override def figures(): Seq[(String, Double, String)] =
    commitMs.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, ms) =>
      (s"commit_ms.$k", Stats.median(ms.map(_._2).toSeq), "ms") } ++
    Stats.percentiles("read", "ms", readMs.toSeq).map { case (k, v) => (k, v, "ms") } ++
      Seq(("live_bytes_per_row", liveBytesPerRow, "B/row"),
        ("live_rows", model.size.toDouble, "count"))

  override def layers(t: Layers): Map[String, Double] = {
    val spans = t.spans.filter(_.name.startsWith("acid.commit."))
    val cs = spans.zip(traced)
    val changes = cs.filter(_._2.kind != "optimize")
    val hits = traced.map(_.hits).sum
    val misses = traced.map(_.misses).sum
    val logDir = new java.io.File(table, "_txlog")
    (Kinds :+ "optimize").map(k => s"acid.commit_ms.$k" -> t.medianMs(s"acid.commit.$k")).toMap ++
      Map(
        "acid.ckpt_commit_ms" -> t.med(cs.filter(_._2.version % 10 == 0).map(_._1.ms)),
        "acid.files_added" -> t.med(traced.map(_.adds.toDouble).toSeq),
        "acid.files_removed" -> t.med(traced.map(_.removes.toDouble).toSeq),
        "acid.write_amp" -> t.med(changes.map { case (s, c) =>
          t.window(s).outputBytes.toDouble / c.changeBytes }),
        "acid.rewrite_efficiency" -> t.med(changes.map { case (s, c) =>
          c.changeRows.toDouble / math.max(1L, t.window(s).outputRecords) }),
        "acid.log_cache_hit_ratio" -> (if (hits + misses == 0) 0.0
          else hits.toDouble / (hits + misses)),
        "acid.log_misses" -> (if (traced.isEmpty) 0.0 else misses.toDouble / traced.size),
        "acid.read_ms" -> t.medianMs("acid.read"),
        "acid.files_scanned_ratio" -> t.med(t.named("acid.read").zip(liveFiles).map {
          case (s, n) => t.window(s).filesRead.toDouble / math.max(1, n) }),
        "acid.live_files" -> TxLog.fileCount(spark, table).toDouble,
        "acid.log_files" -> Option(logDir.list()).map(_.length.toDouble).getOrElse(0.0),
        "acid.live_bytes_per_row" -> liveBytesPerRow)
  }
}

object CdcUpsert {
  val InitialRows = 30000
  val Months = 6
  val Kinds = Seq("merge", "merge_dv", "merge_cond", "update", "delete")
  /** Commits in one round: every kind, then an optimize. */
  val Round: Int = Kinds.size + 1

  final case class Trip(id: Long, fleet: String, passengers: Long, amount: Double,
                        tsUs: Long, month: Int) {
    def row: Row = Row(id, fleet, passengers, amount, Gen.ts(tsUs), 2024, month)
  }

  /** One traced commit: parsed-log cache hits and misses during it, the
    * version it landed on, its add and remove actions, its change batch. */
  final case class Commit(kind: String, hits: Long, misses: Long, version: Long,
                          adds: Int, removes: Int, changeRows: Int, changeBytes: Long)

  val schema: StructType = StructType(Seq(
    StructField("trip_id", LongType), StructField("trip_type", StringType),
    StructField("passenger_count", LongType), StructField("total_amount", DoubleType),
    StructField("pickup_datetime", TimestampType), StructField("trip_year", IntegerType),
    StructField("trip_month", IntegerType)))
}
