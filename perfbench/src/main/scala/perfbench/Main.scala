package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Run settings handed over by `perfbench/run.py`. */
final case class Conf(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    data: String,     // fixture tables dir
    work: String,     // fresh per-run scratch dir inside the checkout
    out: String,      // result JSON written here
    cpus: Int,
    originMs: Double, // epoch ms when the runner began setting up
    cdcRows: Int,
    cdcBatches: Int)

/** Benchmark entry point: one workload, one seed, one JSON result file.
  *
  * A run first sets up — start a session on `local[cpus]` with shuffle
  * partitions = cpus, stage the inputs, warm up untimed, wait for the JIT
  * backlog — and reports the time from the runner's origin to the end of
  * that as `setup_s`, so work moved from the timed loop into session start,
  * staging or first use still shows. The warm-up doubles as the correctness
  * pass. The timed loop then runs closed-loop, one client, until `seconds`
  * of timed work are done. */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val conf = Conf(
      workload = kv("workload"),
      seed = kv("seed").toLong,
      seconds = kv("seconds").toDouble,
      trace = kv.getOrElse("trace", "0") == "1",
      data = kv.getOrElse("data", ""),
      work = kv("work"),
      out = kv("out"),
      cpus = kv("cpus").toInt,
      originMs = kv("origin-ms").toDouble,
      cdcRows = kv("cdc-rows").toInt,
      cdcBatches = kv("cdc-batches").toInt)
    val mainStart = Clock.ms
    val result = conf.workload match {
      case "query_mix" | "llm_pipeline" => QueryWorkload.run(conf)
      case "cdc_ingest" => CdcWorkload.run(conf)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Files.writeString(Paths.get(conf.out), Json(result ++ Map(
      "peak_rss_mb" -> peakRssMb,
      "jvm_marks_s" -> Map("main" -> (mainStart - conf.originMs) / 1e3,
        "result" -> (Clock.ms - conf.originMs) / 1e3))))
  }

  def session(conf: Conf): SparkSession =
    graft.Engine.configure(
      SparkSession.builder().master(s"local[${conf.cpus}]").appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", s"${conf.work}/spark-warehouse")
        .config("spark.local.dir", s"${conf.work}/spark-local")
        .config("spark.sql.streaming.numRecentProgressUpdates", "10000"),
      shufflePartitions = conf.cpus).getOrCreate()

  /** Starts the session, runs `stage` (input staging and warm-up) and waits
    * for the JIT backlog. `setup_s` counts from the runner's origin, so it
    * includes JVM start. */
  def setUp(conf: Conf)(stage: SparkSession => Unit): SetUp = {
    val s0 = Clock.ms
    val spark = session(conf)
    spark.sparkContext.setLogLevel("ERROR")
    guard(spark, conf)
    val sessionS = (Clock.ms - s0) / 1e3
    stage(spark)
    val q0 = Clock.ms
    quiesceJit()
    SetUp(spark, (Clock.ms - conf.originMs) / 1e3, sessionS, (Clock.ms - q0) / 1e3)
  }

  final case class SetUp(spark: SparkSession, setupS: Double, sessionS: Double,
                         quiesceS: Double) {
    def metrics: Map[String, Any] = Map("setup_s" -> setupS,
      "engine.session_s" -> sessionS, "jit_quiesce_s" -> quiesceS)
  }

  /** The run's hygiene: the session is the one this run configured. */
  private def guard(spark: SparkSession, conf: Conf): Unit = {
    val sc = spark.sparkContext
    require(sc.master == s"local[${conf.cpus}]", s"master is ${sc.master}")
    require(spark.conf.get("spark.sql.shuffle.partitions") == conf.cpus.toString,
      "shuffle partitions differ from the core count")
    require(sc.getPersistentRDDs.isEmpty, "a fresh session holds cached data")
  }

  /** Creates `dir`, which must not exist yet: no run or cycle reuses another's
    * output or checkpoint. */
  def freshDir(dir: String): String = {
    require(!Files.exists(Paths.get(dir)), s"$dir already exists")
    Files.createDirectories(Paths.get(dir))
    dir
  }

  /** Waits (up to 15 s) until the JIT compilers have gone half a second
    * with under 10 ms of compile work, so the timed loop does not share the
    * cores with the compile backlog of the warm-up. */
  def quiesceJit(): Unit = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val until = Clock.ms + 15000
    var last = jit.getTotalCompilationTime
    var quiet = false
    while (!quiet && Clock.ms < until) {
      Thread.sleep(500)
      val now = jit.getTotalCompilationTime
      quiet = now - last < 10
      last = now
    }
  }

  /** Heap still in use after full collections: what the engine retains
    * (plan and code caches, memoised frames) once the timed loop is over. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 2).foreach(_ => System.gc())
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this JVM (Linux `VmHWM`), in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Tracing overhead from a traced run's untraced, traced and untraced
    * pass (or cycle) walls: the traced wall over the mean of its two
    * neighbours, minus one, and the neighbours' distance over their mean —
    * an overhead smaller than that is not resolved from noise. */
  def overhead(walls: Seq[Double]): Map[String, Double] = {
    val Seq(u1, t, u2) = walls
    val u = (u1 + u2) / 2
    Map("suite_traced_s" -> t, "trace.overhead_frac" -> (t / u - 1),
      "trace.noise_frac" -> math.abs(u2 - u1) / u)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the `inclusive` method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The p90 of `xs` when at least ten samples lie beyond it. */
  def p90(xs: Seq[Double]): Option[Double] =
    if (xs.size >= 100) Some(quantile(xs, 0.9)) else None
}
