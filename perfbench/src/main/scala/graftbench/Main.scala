package graftbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The benchmark's entry point:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> [--source <id>]
  * Main --selftest
  * Main --train --work <dir>
  * }}}
  *
  * Starts a `local[nproc]` session, sets the workload up [[SetupReps]]
  * times on it (the last set-up stays), warms it up, and runs its closed loop
  * for about `seconds`. With `--trace 1` the first half runs untraced and
  * the second half traced, so the run reports tracing overhead beside the
  * per-layer figures. Prints a readable report and, as its last line, one
  * JSON object: `correct`, `attempted`, `failed` and `metrics` (the
  * end-to-end metrics untraced, the per-layer metrics traced). */
object Main {

  val SetupReps = 3

  /** End-to-end metrics, present on every workload: (name, unit). Op
    * latency percentiles go to the readable report: with one cycle of a
    * mixed-op workload per run their run-to-run spread is about twice
    * that of throughput. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "ops_per_s" -> "1/s")

  /** Per-layer metrics of the traced run, present on every workload (0
    * where a layer is not on the workload's path): (name, unit). */
  val PerLayer: Seq[(String, String)] = Seq(
    "engine.plan_ms" -> "ms", "engine.jobs" -> "count", "engine.tasks" -> "count",
    "engine.job_ms" -> "ms", "engine.driver_gap_ms" -> "ms", "engine.task_ms" -> "ms",
    "engine.gc_ms" -> "ms", "engine.input_mb" -> "MB", "engine.shuffle_mb" -> "MB",
    "engine.spill_mb" -> "MB", "engine.output_mb" -> "MB") ++
    (CdcUpsert.Kinds :+ "optimize").map(k => s"acid.commit_ms.$k" -> "ms") ++ Seq(
    "acid.ckpt_commit_ms" -> "ms", "acid.files_added" -> "count",
    "acid.files_removed" -> "count", "acid.write_amp" -> "ratio",
    "acid.rewrite_efficiency" -> "ratio", "acid.log_cache_hit_ratio" -> "ratio",
    "acid.log_misses" -> "count", "acid.read_ms" -> "ms", "acid.files_scanned_ratio" -> "ratio",
    "acid.live_files" -> "count", "acid.log_files" -> "count",
    "acid.live_bytes_per_row" -> "B/row") ++
    AnalyticsMix.Mix.map(q => s"analytics.query_ms.$q" -> "ms") ++ Seq(
    "cache.scan_ratio" -> "ratio", "cache.mb" -> "MB", "cache.peak_mb" -> "MB",
    "functions.reregistrations" -> "count",
    "trace.unexplained_ms" -> "ms", "trace.unexplained_share" -> "ratio",
    "trace.reconcile_error_ms" -> "ms",
    "trace.op_p50_ms" -> "ms", "trace.untraced_op_p50_ms" -> "ms",
    "trace.overhead_ratio" -> "ratio")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, source: String)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt, trace == "1",
      need("work"), kv.getOrElse("source", "unknown"))
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def main(argv: Array[String]): Unit = {
    SelfTest.run()
    if (argv.sameElements(Array("--selftest"))) {
      println("selftest ok")
      sys.exit(0)
    }
    if (argv.headOption.contains("--train")) {
      // a short run of every workload, to record the classes runs load
      val work = parse(argv.tail :+ "--workload" :+ "x" :+ "--seed" :+ "0" :+ "--seconds" :+
        "1" :+ "--trace" :+ "0").work
      Workload.all.foreach(w =>
        run(Args(w, 0, 1, trace = false, s"$work/$w", "train"), reps = 1, train = true))
      sys.exit(0)
    }
    val a = parse(argv)
    val code =
      try { run(a); 0 }
      catch {
        case e: Throwable =>
          System.err.println(s"benchmark failed: $e")
          e.printStackTrace(System.err)
          1
      }
    sys.exit(code)
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def session(a: Args, cores: Int): SparkSession = {
    val spark = GraftSession.builder("graftbench", s"local[$cores]")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** sha256 over the set-up inputs' parquet data pages, in path order.
    * Part-file names carry a random write id, which is left out, and so
    * is each file's footer: parquet-mr lists a column chunk's encodings
    * in hash-set order, which differs between JVMs for identical data. */
  private def inputHash(root: File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files) else Seq(f)
    files(root).filter(_.getName.endsWith(".parquet"))
      .map(f => root.toPath.relativize(f.toPath).toString
        .replaceAll("part-(\\d+)-[0-9a-f-]+", "part-$1") -> f)
      .sortBy(_._1).foreach { case (name, f) =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        // layout: "PAR1" pages footer <footer length, int32 LE> "PAR1"
        val footer = java.nio.ByteBuffer.wrap(bytes, bytes.length - 8, 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
        md.update(name.getBytes("UTF-8"))
        md.update(bytes, 0, bytes.length - 8 - footer)
      }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** MB held by cached blocks, memory and disk. */
  private def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Runs workload `a.workload` and prints its report; `train` stops
    * after the warm-up. */
  def run(a: Args, reps: Int = SetupReps, train: Boolean = false): Unit = {
    val cores = Runtime.getRuntime.availableProcessors
    val wl = Workload(a.workload)
    val dataDir = new File(a.work, "data")
    val s0 = System.nanoTime
    val spark = session(a, cores)
    val sessionS = (System.nanoTime - s0) / 1e9
    val setupS = (1 to reps).map { _ =>
      deleteTree(dataDir)
      spark.catalog.clearCache()
      val s = System.nanoTime
      wl.setup(spark, dataDir.getPath, a.seed)
      (System.nanoTime - s) / 1e9
    }
    val inputs = wl.setupInputs.map(d => d -> inputHash(new File(dataDir, d)))
    val w0 = System.nanoTime
    wl.warmup()
    val warm = Option.when(wl.warmupOps > 0)(
      Loop.run(0, wl.warmupOps, 0)(wl.prepare)(wl.run)(wl.check)())
    val warmS = (System.nanoTime - w0) / 1e9
    if (train) { spark.stop(); return }
    val m0 = System.nanoTime
    val cache = ArrayBuffer.empty[Double]
    def measure(first: Int, budgetMs: Double, traced: Boolean): LoopResult =
      Loop.run(first, wl.cycle, budgetMs)(wl.prepare)(i =>
        if (traced) Trace.op(i)(wl.run(i)) else wl.run(i))(wl.check)(_ =>
        cache += cachedMb(spark))
    val budget = a.seconds * 1000.0
    val untraced = measure(warm.fold(0)(_.nextOp), if (a.trace) budget / 2 else budget,
      traced = false)
    val traced = if (!a.trace) None else {
      Trace.start(spark)
      val cacheFrom = cache.size
      val r = measure(untraced.nextOp, budget / 2, traced = true)
      Trace.drain()
      Some((r, cache.drop(cacheFrom).toSeq))
    }
    val measureS = (System.nanoTime - m0) / 1e9
    val all = traced.map(_._1).toSeq ++ warm :+ untraced
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failed).sum
    val lat = untraced.latenciesMs
    require(lat.nonEmpty, "no op returned a correct result")
    val opsPerS = lat.size / (lat.sum / 1000)

    // ------------------------------------------------------- report
    val out = ArrayBuffer.empty[String]
    out += s"graftbench workload=${a.workload} seed=${a.seed} seconds=${a.seconds} " +
      s"trace=${if (a.trace) 1 else 0}"
    out += s"env nproc=$cores master=local[$cores] heap_mb=${Runtime.getRuntime.maxMemory >> 20} " +
      s"spark=${spark.version} java=${System.getProperty("java.version")} source=${a.source}"
    out += "inputs " + wl.inputs.map { case (k, v) => s"$k=$v" }.mkString(" ")
    inputs.foreach { case (d, h) => out += s"input_sha256 $d $h" }
    out += f"phases_s session=$sessionS%.2f setup=${setupS.sum}%.2f warmup=$warmS%.2f " +
      f"measure=$measureS%.2f"
    def line(name: String, v: Double, unit: String, note: String = "") =
      out += f"metric $name%-28s ${Json.num(v)}%14s $unit%-6s $note".trim
    line("session_start_s", sessionS, "s")
    line("setup_s", Stats.median(setupS), "s",
      s"(median of $reps set-ups: ${setupS.map(s => f"$s%.3f").mkString(", ")})")
    line("error_rate", failed.toDouble / attempted, "ratio",
      s"($failed of $attempted ops failed or wrong, warm-up included)")
    Stats.percentiles(wl.opName, "ms", lat).foreach { case (k, v) => line(k, v, "ms", s"(n=${lat.size})") }
    line("ops_per_s", opsPerS, "1/s")
    line("peak_cached_mb", if (cache.isEmpty) 0.0 else cache.max, "MB")
    wl.figures().foreach { case (k, v, u) => line(k, v, u) }

    val metrics: Seq[(String, Double, String)] = traced match {
      case None =>
        val values = Map("setup_s" -> Stats.median(setupS), "ops_per_s" -> opsPerS)
        EndToEnd.map { case (k, u) => (k, values(k), u) }
      case Some((t, tCache)) =>
        require(t.latenciesMs.nonEmpty, "no traced op returned a correct result")
        val layers = new Layers(Trace.allSpans, Trace.allJobs, Trace.allTasks,
          Trace.allPlans, Trace.reregistrationTimes, t.okOps.zip(t.latenciesMs).toMap)
        val values = layers.generic ++ wl.layers(layers) ++ Map(
          "cache.mb" -> (if (tCache.isEmpty) 0.0 else Stats.median(tCache)),
          "cache.peak_mb" -> (if (cache.isEmpty) 0.0 else cache.max),
          "trace.op_p50_ms" -> Stats.median(t.latenciesMs),
          "trace.untraced_op_p50_ms" -> Stats.median(lat),
          "trace.overhead_ratio" -> Stats.median(t.latenciesMs) / Stats.median(lat))
        val unknown = values.keySet -- PerLayer.map(_._1)
        require(unknown.isEmpty, s"per-layer metrics missing from the list: $unknown")
        PerLayer.map { case (k, u) => (k, values.getOrElse(k, 0.0), u) }
    }
    if (a.trace) metrics.foreach { case (k, v, u) => line(k, v, u) }

    out.foreach(println)
    println(Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }))))
    System.out.flush()
    spark.stop()
  }
}
