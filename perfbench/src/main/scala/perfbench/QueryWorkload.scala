package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** `query_mix` (the 55 core `q*` entries) and `llm_pipeline` (10 `x_*`
  * entries: graph supersteps, export orchestration and the
  * execution-bound text and dedup operators): each operation builds the entry's DataFrame fresh through
  * `SparkEntry.queries` and materialises it with a `noop` write. Nothing is
  * cached or persisted across operations. The seed shuffles the entry
  * order within every timed pass. */
object QueryWorkload {
  val graphEntries = Seq("x_hits")
  val exportEntries = Seq("x_corpus_export_incr", "x_webdataset_incr")
  val llmPipeline: Seq[String] = graphEntries ++ exportEntries ++ Seq(
    "x_lm_score", "x_ppl_buckets", "x_wquantile", "x_assoc_rules",
    "x_simhash_pairs", "x_minhash_lsh", "x_substring_dedup")

  def entries(workload: String): Seq[String] = workload match {
    case "query_mix" =>
      graft.SparkEntry.queries.keys.filter(_.matches("q\\d+_.*")).toSeq.sorted
    case "llm_pipeline" => llmPipeline
  }

  private final case class Op(name: String, wall: Double, ok: Boolean)
  private final case class Pass(wall: Double, ops: Seq[Op], traced: Boolean)

  def run(conf: Conf): Map[String, Any] = {
    val names = entries(conf.workload)
    val build = graft.SparkEntry.queries
    val dump = s"${conf.work}/dump"
    val failures = mutable.LinkedHashMap.empty[String, Int]
    var attempted = 0
    def fail(name: String, e: Throwable): Unit = {
      failures(name) = failures.getOrElse(name, 0) + 1
      System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
    }
    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

    // set-up: two untimed warm-up passes, the entries of each submitted
    // from `cpus` threads at once. The first writes each result for the
    // oracle gate, which the runner applies once this JVM has ended; the
    // second is there because an entry's first execution leaves the next one
    // far slower and noisier than those after it.
    val setUp = Main.setUp(conf) { spark =>
      Main.freshDir(dump)
      Files.writeString(Paths.get(s"$dump/oracle_sql.json"),
        Json(graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(conf.cpus)
      def warm(sink: (String, DataFrame) => Unit): Unit = names.map { name =>
        pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
          def call(): Option[Throwable] =
            try { sink(name, build(name)(spark, conf.data)); None }
            catch { case e: Throwable => Some(e) }
        })
      }.zip(names).foreach { case (f, name) =>
        attempted += 1
        f.get().foreach(fail(name, _))
      }
      try {
        warm((name, df) => df.coalesce(1).write.parquet(s"$dump/$name"))
        warm((_, df) => noop(df))
      } finally pool.shutdown()
    }
    val spark = setUp.spark

    val rng = new scala.util.Random(conf.seed)
    val tracer = if (conf.trace) Some(new Tracer(spark)) else None
    var tracedLayers = Map.empty[String, Double]
    val passes = mutable.ArrayBuffer.empty[Pass]
    def elapsed = passes.map(_.wall).sum
    // a traced run measures exactly an untraced, a traced and an untraced
    // pass, so the tracing overhead is measured against both neighbours
    def more = if (conf.trace) passes.size < 3 else passes.isEmpty || elapsed < conf.seconds
    while (more) {
      val p = passes.size
      val traced = conf.trace && p == 1
      if (traced) tracer.get.attach()
      val order = rng.shuffle(names)
      val ps = System.nanoTime()
      val ops = order.map { name =>
        attempted += 1
        val s = System.nanoTime()
        val ok = try {
          if (traced) tracedOp(tracer.get, spark, conf, s"p$p:$name", name)
          else noop(build(name)(spark, conf.data))
          true
        } catch { case e: Throwable => fail(name, e); false }
        Op(name, (System.nanoTime() - s) / 1e9, ok)
      }
      val wall = (System.nanoTime() - ps) / 1e9
      passes += Pass(wall, ops, traced)
      if (traced) {
        tracedLayers = passLayers(tracer.get, p, names, wall, conf.cpus)
        tracer.get.detach()
      }
    }

    val retained = Main.retainedHeapMb()
    val plain = passes.filterNot(_.traced).toSeq
    val opWalls = plain.flatMap(_.ops.filter(_.ok).map(_.wall))
    val base = Map[String, Any](
      "workload" -> conf.workload, "seed" -> conf.seed, "cpus" -> conf.cpus,
      "entries" -> names, "suite_s" -> Main.median(plain.map(_.wall)),
      "pass_walls_s" -> plain.map(_.wall), "n_passes" -> plain.size,
      "op_p50_s" -> Main.median(opWalls), "op_p90_s" -> Main.p90(opWalls),
      "n_ops" -> opWalls.size,
      "per_entry_p50_s" -> plain.flatMap(_.ops).filter(_.ok).groupBy(_.name)
        .map { case (k, v) => k -> Main.median(v.map(_.wall)) },
      "heap_retained_mb" -> retained,
      "attempted" -> attempted, "failed" -> failures.values.sum,
      "failures" -> failures) ++ setUp.metrics
    tracer.fold(base) { tr =>
      tr.attach()
      val probes = tablesProbe(tr, spark, conf.data) ++ CdcWorkload.probe(spark, conf, tr)
      tr.detach()
      base ++ Main.overhead(passes.map(_.wall).toSeq) ++ Map(
        "layers" -> (tracedLayers ++ probes),
        "spans" -> spanRecords(tr))
    }
  }

  /** One operation under tracing: an `op` span with `construct`, `plan` and
    * `exec` children, and one child span per Spark job. */
  private def tracedOp(tr: Tracer, spark: SparkSession, conf: Conf,
                       key: String, name: String): Unit = {
    val (opId, closeOp) = tr.open(-1, key, name)
    try {
      tr.tag(key, "construct")
      val (cId, closeC) = tr.open(opId, key, "construct")
      val df = try graft.SparkEntry.queries(name)(spark, conf.data) finally closeC()
      tr.tag(key, "exec")
      val ws = Clock.ms
      try df.write.mode("overwrite").format("noop").save()
      finally {
        val we = Clock.ms
        tr.untag()
        tr.drain()
        val execStart = tr.planIn(ws, we) match {
          case Some((ps, pe, _)) =>
            tr.record(opId, key, "plan", math.max(ws, ps.toDouble), math.min(we, pe.toDouble))
            math.min(we, math.max(ws, pe.toDouble))
          case None => ws
        }
        val eId = tr.record(opId, key, "exec", execStart, we)
        tr.addJobSpans(key, Map("construct" -> cId, "exec" -> eId))
      }
    } finally closeOp()
  }

  /** Per-layer numbers of traced pass `p`, from its spans and job stats. */
  private def passLayers(tr: Tracer, p: Int, names: Seq[String], wall: Double,
                         cpus: Int): Map[String, Double] = {
    tr.drain()
    val prefix = s"p$p:"
    val spans = tr.spans.filter(_.op.startsWith(prefix)).toSeq
    def spanSum(n: String, ops: Seq[String] = names) =
      spans.filter(s => s.name == n && ops.exists(o => s.op == prefix + o)).map(_.dur).sum / 1e3
    val jobs = names.flatMap(n => tr.opJobs(prefix + n).map(n -> _))
    def jobsOf(ops: Seq[String]) = jobs.count { case (n, _) => ops.contains(n) }.toDouble
    val js = jobs.map(_._2)
    val self = Tracer.selfTimes(spans)
    def selfSum(pred: Span => Boolean) = spans.filter(pred).map(s => self(s.id)).sum / 1e3
    val cpuS = js.map(_.cpuNs).sum / 1e9
    Map(
      "construct.s" -> spanSum("construct"),
      "construct.jobs" -> js.count(_.phase == "construct").toDouble,
      "plan.s" -> spanSum("plan"),
      "exec.s" -> spanSum("exec"),
      "exec.jobs" -> js.size.toDouble,
      "exec.stages" -> js.map(_.stages).sum.toDouble,
      "exec.tasks" -> js.map(_.tasks).sum.toDouble,
      "exec.task_run_s" -> js.map(_.runMs).sum / 1e3,
      "exec.task_cpu_s" -> cpuS,
      "exec.cpu_util" -> cpuS / (wall * cpus),
      "exec.shuffle_write_bytes" -> js.map(_.shuffleWriteBytes).sum.toDouble,
      "exec.spill_bytes" -> js.map(_.spillBytes).sum.toDouble,
      "exec.gc_s" -> js.map(_.gcMs).sum / 1e3,
      "exec.max_task_s" -> (if (js.isEmpty) 0.0 else js.map(_.maxTaskMs).max / 1e3),
      "graphs.jobs" -> jobsOf(graphEntries),
      "export.jobs" -> jobsOf(exportEntries),
      "export.construct_s" -> spanSum("construct", exportEntries),
      "self.op_s" -> selfSum(_.parent == -1),
      "self.construct_s" -> selfSum(_.name == "construct"),
      "self.exec_s" -> selfSum(_.name == "exec"),
      "self.job_s" -> selfSum(_.name.startsWith("job")),
      "pass_s" -> wall)
  }

  /** The `Tables` layer probed directly: one `Tables.load` per fixture.
    * Runs with the tracer attached. */
  def tablesProbe(tr: Tracer, spark: SparkSession, data: String): Map[String, Double] = {
    val key = "tables"
    val (opId, closeOp) = tr.open(-1, key, "tables")
    tr.tag(key, "construct")
    graft.Tables.names.foreach { n =>
      val (_, close) = tr.open(opId, key, s"load:$n")
      try graft.Tables.load(spark, data, n) finally close()
    }
    tr.untag()
    closeOp()
    tr.drain()
    Map("tables.load_s" -> tr.spans.filter(_.op == key).filter(_.parent == opId).map(_.dur).sum / 1e3,
      "tables.load_jobs" -> tr.opJobs(key).size.toDouble)
  }

  def spanRecords(tr: Tracer): Seq[Map[String, Any]] = {
    val self = Tracer.selfTimes(tr.spans.toSeq)
    tr.spans.toSeq.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ms" -> s.start, "dur_ms" -> s.dur, "self_ms" -> self(s.id))
    }
  }
}
