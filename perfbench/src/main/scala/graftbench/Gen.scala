package graftbench

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every stream draws from its own
  * `java.util.Random`, so one seed always yields the same rows, and
  * single-file writes of the same rows yield the same parquet bytes.
  * Schemas follow the engine's test data: the TPC-H-like star,
  * `events`, `documents` and `embeddings`. */
object Gen {

  def rng(seed: Long, stream: Long): java.util.Random =
    new java.util.Random(seed * 0x9E3779B97F4A7C15L ^ (stream * 0xC2B2AE3D27D4EB4FL + 0x165667B19E3779F9L))

  val Day: Long = 86400L * 1000000L

  def micros(y: Int, m: Int, d: Int): Long =
    java.time.LocalDate.of(y, m, d).toEpochDay * Day

  def ts(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Writes `rows` as one parquet file under `path`. */
  def write(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String): Unit =
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.mode("overwrite").parquet(path)

  def cents(r: java.util.Random, lo: Int, hi: Int): Double =
    (lo + r.nextInt(hi - lo + 1)) / 100.0

  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val partTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val adjectives = Seq("blue", "cold", "hot", "new", "old", "red", "small")
  private val nouns = Seq("anvil", "bolt", "gear", "plate", "ring", "rod", "widget")
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val words = ("a the key agg row scan slow fast table value part hash merge batch " +
    "spark line sort window order data column join small customer query big stream " +
    "group filter vector").split(' ').toSeq

  /** Row counts of the star, `events`, `documents` and `embeddings` at
    * scale factor `sf` (lineitem = 6M × sf). */
  def starCounts(sf: Double): Map[String, Int] = Map(
    "region" -> 5, "nation" -> 25,
    "customer" -> (150000 * sf).toInt, "supplier" -> (10000 * sf).toInt,
    "part" -> (200000 * sf).toInt, "orders" -> (1500000 * sf).toInt,
    "lineitem" -> (6000000 * sf).toInt, "events" -> (1000000 * sf).toInt,
    "documents" -> 500, "embeddings" -> 500)

  /** Writes every table of the star schema under `dir` (one
    * `<table>.parquet` each, as the engine's readers expect). */
  def star(spark: SparkSession, seed: Long, sf: Double, dir: String): Map[String, Int] = {
    val n = starCounts(sf)
    def w(name: String, schema: StructType)(rows: Seq[Row]): Unit =
      write(spark, rows, schema, s"$dir/$name.parquet")
    def f(name: String, t: DataType) = StructField(name, t)

    w("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))))(
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (s, i) => Row(i, s) })
    w("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))))((0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val rc = rng(seed, 1)
    w("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))))(
      (0 until n("customer")).map(i => Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25),
        cents(rc, -99999, 999999), segments(rc.nextInt(5)))))
    val rs = rng(seed, 2)
    w("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))))(
      (0 until n("supplier")).map(i => Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25),
        cents(rs, -99999, 999999))))
    val rp = rng(seed, 3)
    w("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))))(
      (0 until n("part")).map(i => Row(i.toLong,
        s"${adjectives(rp.nextInt(7))} ${nouns(rp.nextInt(7))}", s"Brand#${1 + rp.nextInt(25)}",
        partTypes(rp.nextInt(6)), 1 + rp.nextInt(50), 900.0 + (i % 1000) / 10.0)))

    val day0 = micros(1995, 1, 1)
    val ro = rng(seed, 4)
    w("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampType), f("o_orderpriority", StringType))))(
      (0 until n("orders")).map(i => Row(i.toLong, ro.nextInt(n("customer")).toLong,
        Seq("F", "O", "P")(ro.nextInt(3)), cents(ro, 100000, 50000000),
        ts(day0 + ro.nextInt(2403) * Day), priorities(ro.nextInt(5)))))
    val rl = rng(seed, 5)
    w("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampType))))(
      (0 until n("lineitem")).map(_ => Row(rl.nextInt(n("orders")).toLong,
        rl.nextInt(n("part")).toLong, rl.nextInt(n("supplier")).toLong, 1 + rl.nextInt(7),
        (1 + rl.nextInt(50)).toDouble, cents(rl, 90000, 10500000), rl.nextInt(11) / 100.0,
        rl.nextInt(9) / 100.0, Seq("A", "N", "R")(rl.nextInt(3)), Seq("F", "O")(rl.nextInt(2)),
        ts(day0 + rl.nextInt(2500) * Day))))

    val re = rng(seed, 6)
    val ev0 = micros(2024, 1, 1)
    var t = ev0
    val evStep = 30L * Day / math.max(1, n("events"))
    w("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))))((0 until n("events")).map { i =>
      t += 1 + (re.nextDouble() * 2 * evStep).toLong
      Row(i.toLong, ts(t), re.nextInt(150).toLong, eventTypes(re.nextInt(5)),
        cents(re, 1, 50000), s"""{"k": ${re.nextInt(100)}}""")
    })

    val rd = rng(seed, 7)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    w("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))))(
      (0 until n("documents")).map { i =>
        // every tenth document is a light edit of an earlier one: the
        // near-duplicates the dedup queries look for
        val text =
          if (i % 10 == 9) {
            val ws = texts(rd.nextInt(texts.size)).split(' ')
            ws(rd.nextInt(ws.length)) = words(rd.nextInt(words.size))
            ws.mkString(" ")
          } else Seq.fill(20 + rd.nextInt(60))(words(rd.nextInt(words.size))).mkString(" ")
        texts += text
        Row(i.toLong, text, Seq("de", "en", "es", "fr")(rd.nextInt(4)), s"src${rd.nextInt(20)}",
          text.length.toLong)
      })

    // embeddings: a mixture of ten gaussian clusters in 64 dimensions
    val vr = rng(seed, 8)
    val centers = Seq.fill(10)(Array.fill(64)(vr.nextGaussian()))
    w("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType)), f("label", IntegerType))))(
      (0 until n("embeddings")).map { i =>
        val c = vr.nextInt(10)
        Row(i.toLong, centers(c).map(x => (x + 0.6 * vr.nextGaussian()).toFloat).toSeq, c)
      })
    n
  }
}
