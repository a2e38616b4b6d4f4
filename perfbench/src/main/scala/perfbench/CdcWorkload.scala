package perfbench

import graft.jobs.CdcToOrcJob
import graft.sources.{CdcIngest, OrcTableSink}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Size of the generated CDC stream: `rows` payloads staged as `batches`
  * micro-batches. The other traffic settings are constants of `CdcGen`. */
final case class Traffic(rows: Int, batches: Int)

/** Payloads in arrival order (null = null payload) and what was injected. */
final case class CdcInput(payloads: IndexedSeq[String], poison: Int, drift: Int,
                          updates: Int, poisonKinds: Map[String, Int]) {
  def good: Int = payloads.size - poison
}

/** Seeded generator of the double-encoded envelope `CdcIngest.toEnvelope`
  * emits: `{"value":"{\"after\":{\"ref\":…,\"city_id\":…,\"city_name\":…,
  * \"c_time\":…}}"}`. Written here, independent of the code under test. */
object CdcGen {
  private val epoch = 1704038400000L // 2024-01-01T00:00:00+08:00
  // The reference's job fixes none of these (it reads whatever its topic
  // holds), so each is an arbitrary choice: small enough to leave the
  // stream mostly clean inserts, large enough that every path runs in every
  // micro-batch. Each share is exact, at seeded positions.
  val PoisonShare = 0.01 // undecodable envelopes, four kinds in turn
  val DriftShare = 0.01  // decodable, with an extra `after` key
  val UpdateShare = 0.05 // replays an earlier `ref` as an update
  val Days = 14          // `c_time` spread, drawn out of order: 14 `c_date` partitions
  val Cities = 200       // `city_id` drawn Zipf(ZipfS) over 1..Cities
  val ZipfS = 1.1

  def settings: Map[String, Double] = Map("poison_share" -> PoisonShare,
    "drift_share" -> DriftShare, "update_share" -> UpdateShare, "days" -> Days,
    "cities" -> Cities, "zipf_s" -> ZipfS)

  def apply(seed: Long, t: Traffic): CdcInput = {
    val rng = new java.util.SplittableRandom(seed)
    val weights = (1 to Cities).map(k => 1.0 / math.pow(k, ZipfS))
    val cdf = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum).toArray
    def city(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      (if (i >= 0) i else -i - 1).min(Cities - 1) + 1
    }
    // exact shares at seeded positions, so the injected counts repeat
    // from seed to seed while the records and their order do not
    val order = (0 until t.rows).toArray
    for (i <- order.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val x = order(i); order(i) = order(j); order(j) = x
    }
    val nPoison = math.round(t.rows * PoisonShare).toInt
    val nDrift = math.round(t.rows * DriftShare).toInt
    val nUpdate = math.round(t.rows * UpdateShare).toInt
    val role = new Array[Int](t.rows) // 0 insert, 1 poison, 2 drift, 3 update
    order.zipWithIndex.foreach { case (pos, k) =>
      role(pos) = if (k < nPoison) 1 else if (k < nPoison + nDrift) 2
        else if (k < nPoison + nDrift + nUpdate) 3 else 0
    }
    val kinds = Seq("malformed", "null_payload", "non_object_value", "missing_after")
    val poisonKinds = mutable.LinkedHashMap(kinds.map(_ -> 0): _*)
    var poison, drift, updates = 0
    var nextRef = 1L
    val out = role.toIndexedSeq.map { r =>
      if (r == 1) {
        val kind = kinds(poison % kinds.size)
        poison += 1
        poisonKinds(kind) += 1
        kind match {
          case "malformed" => raw"""{"value":"{\"after\":{\"ref\":${nextRef},\"city_"""
          case "null_payload" => null
          case "non_object_value" => raw"""{"value":"\"tombstone\""}"""
          case _ => raw"""{"value":"{\"before\":{\"ref\":${nextRef}}}"}"""
        }
      } else {
        // an update replays an earlier ref; before the first insert it is one
        val ref =
          if (r == 3 && nextRef > 1) { updates += 1; 1 + rng.nextLong(nextRef - 1) }
          else { nextRef += 1; nextRef - 1 }
        val c = city()
        val cTime = epoch + rng.nextLong(Days * 86400000L)
        val extra =
          if (r == 2) { drift += 1; raw""",\"region\":\"R${c % 7}\"""" }
          else ""
        raw"""{"value":"{\"after\":{\"ref\":$ref,\"city_id\":$c,\"city_name\":\"City_$c\",\"c_time\":$cTime$extra}}"}"""
      }
    }
    CdcInput(out, poison, drift, updates, poisonKinds.toMap)
  }
}

/** `cdc_ingest`: the reference's own job on a generated CDC stream, in two
  * phases over the same payload set. Backfill: one `parse(goodRecords)` →
  * `OrcTableSink.writeBatchTargetBytes` write, `registerTable`, catalog
  * read-back. Stream: `CdcToOrcJob.run` over a text file stream staged one
  * file per micro-batch, from an empty checkpoint, `Trigger.AvailableNow`.
  * One cycle = both phases on a fresh warehouse; every cycle is followed by
  * the untimed correctness gate. */
object CdcWorkload {
  final case class Stage(payloads: String, stream: String, input: CdcInput)
  private final case class Cycle(backfillS: Double, streamS: Double, backfillRows: Long,
                                 streamRows: Long, progress: Seq[StreamingQueryProgress],
                                 layers: Map[String, Double]) {
    def wall: Double = backfillS + streamS
  }

  def run(conf: Conf): Map[String, Any] = {
    val traffic = Traffic(conf.cdcRows, conf.cdcBatches)
    val failures = mutable.LinkedHashMap.empty[String, Int]
    var attempted = 0
    var gateChecks = 0
    def fail(name: String, why: String): Unit = {
      failures(name) = failures.getOrElse(name, 0) + 1
      System.err.println(s"[perfbench] $name failed: $why")
    }
    var stage: Stage = null
    var cycleNo = 0
    // one cycle and, when `check`, its correctness gate: the cycle's timed
    // wall (a failed cycle's up to its failure, so failures end the loop too)
    def runCycle(spark: SparkSession, st: Stage, tracer: Option[Tracer],
                 t: Traffic = traffic, check: Boolean = true): (Double, Option[Cycle]) = {
      cycleNo += 1
      attempted += 2 + t.batches
      val c0 = Clock.ms
      try {
        val c = cycle(spark, conf, st, cycleNo, tracer)
        val batches = c.progress.size
        if (batches != t.batches)
          fail("stream.batches", s"$batches micro-batches, expected ${t.batches}")
        if (check) {
          attempted += Checks.names.size
          gateChecks += Checks.names.size
          Checks.run(spark, conf, st, cycleNo, c.progress, c.streamRows, c.backfillRows)
            .foreach { case (name, why) => fail(s"cdc:$name", why) }
        }
        (c.wall, Some(c))
      } catch {
        case e: Throwable =>
          fail(s"cycle$cycleNo", String.valueOf(e.getMessage))
          ((Clock.ms - c0) / 1e3, None)
      }
    }

    val setUp = Main.setUp(conf) { spark =>
      // warm-up: a two-batch cycle on its own smaller payload set; every
      // timed cycle below runs the correctness gate
      val warm = traffic.copy(rows = traffic.rows * 2 / traffic.batches, batches = 2)
      runCycle(spark, stageInput(spark, conf, warm, "warm"), None, warm, check = false)
      stage = stageInput(spark, conf, traffic, "timed")
    }
    val spark = setUp.spark
    val tracer = if (conf.trace) Some(new Tracer(spark)) else None
    val cycles = mutable.ArrayBuffer.empty[(Double, Option[Cycle])]
    def elapsed = cycles.map(_._1).sum // the gate is untimed
    // at least two timed cycles, so every run has a median and a spread; a
    // traced run measures exactly an untraced, a traced and an untraced
    // cycle, so the tracing overhead is measured against both neighbours
    def more =
      if (conf.trace) cycles.size < 3
      else (cycles.size < 2 || elapsed < conf.seconds) && cycles.size < 20
    while (more) {
      val traced = conf.trace && cycles.size == 1
      if (traced) tracer.get.attach()
      cycles += runCycle(spark, stage, if (traced) tracer else None)
      if (traced) tracer.get.detach()
    }

    val retained = Main.retainedHeapMb()
    val plain = cycles.zipWithIndex.collect {
      case ((_, Some(c)), i) if !(conf.trace && i == 1) => c }.toSeq
    val commits = plain.flatMap(_.progress.map(trigger))
    val in = stage.input
    val base = Map[String, Any](
      "workload" -> conf.workload, "seed" -> conf.seed, "cpus" -> conf.cpus,
      "traffic" -> (CdcGen.settings ++ Map("rows" -> traffic.rows.toDouble,
        "batches" -> traffic.batches.toDouble)),
      "injected" -> Map("poison" -> in.poison, "drift" -> in.drift,
        "updates" -> in.updates, "good" -> in.good, "poison_kinds" -> in.poisonKinds),
      "suite_s" -> Main.median(plain.map(_.wall)), "cycle_walls_s" -> plain.map(_.wall),
      "n_passes" -> plain.size,
      "op_p50_s" -> Main.median(commits), "op_p90_s" -> Main.p90(commits),
      "n_ops" -> commits.size,
      "commit_p50_s" -> Main.median(commits), "commit_p90_s" -> Main.p90(commits),
      "backfill_rows_per_s" -> Main.median(plain.map(c => c.backfillRows / c.backfillS)),
      "stream_rows_per_s" -> Main.median(plain.map(c => c.streamRows / c.streamS)),
      "stream_layers" -> medianLayers(plain.map(c => streamLayers(c.progress))),
      "heap_retained_mb" -> retained,
      "attempted" -> attempted, "failed" -> failures.values.sum,
      "failures" -> failures, "gate_checks" -> gateChecks) ++ setUp.metrics
    tracer.fold(base) { tr =>
      tr.attach()
      val tables = QueryWorkload.tablesProbe(tr, spark, conf.data)
      tr.detach()
      base ++ Main.overhead(cycles.map(_._1).toSeq) ++ Map(
        "layers" -> (cycles(1)._2.fold(Map.empty[String, Double])(_.layers) ++ tables),
        "spans" -> QueryWorkload.spanRecords(tr))
    }
  }

  /** The CDC layers probed directly, for a workload that does not run them:
    * one traced cycle over a small payload set in two micro-batches, after
    * that workload's timed loop. Runs with the tracer attached. */
  def probe(spark: SparkSession, conf: Conf, tr: Tracer): Map[String, Double] = {
    val st = stageInput(spark, conf, Traffic(10000, 2), "probe")
    cycle(spark, conf, st, 0, Some(tr)).layers.filter { case (k, _) =>
      Seq("ingest.", "sink.", "stream.").exists(k.startsWith) }
  }

  private def trigger(p: StreamingQueryProgress): Double =
    p.durationMs.getOrDefault("triggerExecution", 0L) / 1e3

  private def medianLayers(ms: Seq[Map[String, Double]]): Map[String, Double] =
    if (ms.isEmpty) Map.empty
    else ms.head.keys.map(k => k -> Main.median(ms.map(_.getOrElse(k, 0.0)))).toMap

  private def streamLayers(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def d(k: String) = ps.map(_.durationMs.getOrDefault(k, 0L).toLong).sum / 1e3
    val trig = d("triggerExecution")
    Map("stream.batches" -> ps.size.toDouble,
      "stream.add_batch_s" -> d("addBatch"),
      "stream.planning_s" -> d("queryPlanning"),
      "stream.latest_offset_s" -> d("latestOffset"),
      "stream.wal_commit_s" -> d("walCommit"),
      "stream.commit_offsets_s" -> d("commitOffsets"),
      "stream.trigger_s" -> trig,
      "stream.overhead_frac" -> (if (trig > 0) 1 - d("addBatch") / trig else 0.0))
  }

  /** Generates the payload set and stages it: a parquet file (null payloads
    * kept) for the backfill and one text file per micro-batch (a null
    * payload becomes an empty line), with ascending modification times. */
  private def stageInput(spark: SparkSession, conf: Conf, t: Traffic, tag: String): Stage = {
    val input = CdcGen(conf.seed, t)
    val dir = Main.freshDir(s"${conf.work}/stage_$tag")
    val payloads = s"$dir/payloads.parquet"
    spark.createDataset(input.payloads)(Encoders.STRING).toDF("payload")
      .write.mode("overwrite").parquet(payloads)
    val stream = s"$dir/stream"
    Files.createDirectories(Paths.get(stream))
    val per = math.ceil(input.payloads.size.toDouble / t.batches).toInt
    val now = System.currentTimeMillis() - t.batches * 1000L
    input.payloads.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
      val f = Paths.get(stream, f"batch-$i%05d.txt")
      Files.write(f, chunk.map(p => if (p == null) "" else p).asJava, UTF_8)
      f.toFile.setLastModified(now + i * 1000L)
    }
    Stage(payloads, stream, input)
  }

  /** One timed cycle: the backfill phase, then the stream phase. */
  private def cycle(spark: SparkSession, conf: Conf, st: Stage, n: Int,
                    tracer: Option[Tracer]): Cycle = {
    val wh = Main.freshDir(s"${conf.work}/wh_c$n")
    val bt = s"backfill_c$n"
    val bKey = s"c$n:backfill"
    val sKey = s"c$n:stream"
    val phases = mutable.LinkedHashMap.empty[String, (Double, Double)]
    def phase[T](op: String, name: String)(f: => T): T = {
      tracer.foreach(_.tag(op, name))
      val s = Clock.ms
      try f finally phases(s"$op/$name") = (s, Clock.ms)
    }

    val b0 = Clock.ms
    val cities = phase(bKey, "construct") {
      val df = spark.read.parquet(st.payloads)
      CdcIngest.parse(CdcIngest.goodRecords(df, "payload"), "payload")
    }
    phase(bKey, "exec")(OrcTableSink.writeBatchTargetBytes(cities, wh, bt, "c_date"))
    phase(bKey, "register")(OrcTableSink.registerTable(spark, wh, bt, "c_date"))
    val backfillRows = phase(bKey, "readback")(spark.table(bt).count())
    val b1 = Clock.ms

    val q = phase(sKey, "construct") {
      val src = spark.readStream.option("maxFilesPerTrigger", "1").text(st.stream)
        .withColumnRenamed("value", "payload")
      tracer.foreach(_.tag(sKey, "exec"))
      val ckpt = s"${conf.work}/ckpt_c$n"
      require(!Files.exists(Paths.get(ckpt)), s"$ckpt already exists") // empty checkpoint
      CdcToOrcJob.run(src, wh, s"stream_c$n", ckpt, Trigger.AvailableNow())
    }
    phase(sKey, "exec")(q.awaitTermination())
    val s1 = Clock.ms
    tracer.foreach(_.untag())
    q.exception.foreach(e => throw e)
    // traced: the StreamingQueryListener's events; untraced: the query's own
    val progress = tracer.fold(q.recentProgress.toSeq) { tr =>
      tr.drain()
      tr.progress.asScala.toSeq.filter(_.runId == q.runId)
    }.filter(_.numInputRows > 0)
    val streamRows = spark.read.orc(s"$wh/stream_c$n").count()

    val layers = tracer.fold(Map.empty[String, Double]) { tr =>
      tracedLayers(tr, spark, conf, st, n, wh, bt, bKey, sKey, phases.toMap,
        (b0, b1), (b1, s1), progress)
    }
    Cycle((b1 - b0) / 1e3, (s1 - b1) / 1e3, backfillRows, streamRows, progress, layers)
  }

  /** Spans and per-layer numbers of one traced cycle. The decode probe and
    * the audit run after the cycle's timed phases. */
  private def tracedLayers(tr: Tracer, spark: SparkSession, conf: Conf, st: Stage,
                           n: Int, wh: String, bt: String, bKey: String, sKey: String,
                           phases: Map[String, (Double, Double)],
                           backfill: (Double, Double), stream: (Double, Double),
                           progress: Seq[StreamingQueryProgress]): Map[String, Double] = {
    tr.drain()
    def spansOf(op: String, iv: (Double, Double), names: Seq[String]): Map[String, Int] = {
      val root = tr.record(-1, op, op.split(":")(1), iv._1, iv._2)
      names.flatMap { p =>
        phases.get(s"$op/$p").map { case (s, e) => p -> tr.record(root, op, p, s, e) }
      }.toMap
    }
    val bSpans = spansOf(bKey, backfill, Seq("construct", "exec", "register", "readback"))
    val sSpans = spansOf(sKey, stream, Seq("construct", "exec"))
    progress.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      tr.record(sSpans("exec"), sKey, s"batch${p.batchId}", start, start + trigger(p) * 1e3)
    }
    tr.addJobSpans(bKey, bSpans)
    tr.addJobSpans(sKey, sSpans)
    val plans = tr.plans.asScala.filter { case (_, s, _, _) =>
      s >= backfill._1 && s <= stream._2 }.map(_._4).sum / 1e3

    // decode-only probe of the ingest layer, and the sink's audit
    val probeKey = s"c$n:probe"
    tr.tag(probeKey, "exec")
    val df = spark.read.parquet(st.payloads)
    val d0 = Clock.ms
    CdcIngest.parse(CdcIngest.goodRecords(df, "payload"), "payload")
      .write.mode("overwrite").format("noop").save()
    val decodeS = (Clock.ms - d0) / 1e3
    val quarantine = CdcIngest.corruptRecords(df, "payload").count()
    val driftRows = CdcIngest.schemaDriftRecords(df, "payload").count()
    val a0 = Clock.ms
    val orphans = OrcTableSink.uncommittedDataFiles(spark, wh, s"stream_c$n")
    val auditS = (Clock.ms - a0) / 1e3
    tr.untag()
    tr.drain()

    val js = tr.opJobs(bKey) ++ tr.opJobs(sKey)
    val cpuS = js.map(_.cpuNs).sum / 1e9
    val wall = (stream._2 - backfill._1) / 1e3
    def phaseS(op: String, p: String) = phases.get(s"$op/$p").map { case (s, e) => (e - s) / 1e3 }.getOrElse(0.0)
    val backfillFiles = dataFiles(s"$wh/$bt")
    val streamFiles = dataFiles(s"$wh/stream_c$n")
    val good = st.input.good.toDouble
    Map(
      "construct.s" -> (phaseS(bKey, "construct") + phaseS(sKey, "construct")),
      "construct.jobs" -> js.count(_.phase == "construct").toDouble,
      "plan.s" -> (plans + progress.map(_.durationMs.getOrDefault("queryPlanning", 0L).toLong).sum / 1e3),
      "exec.s" -> (phaseS(bKey, "exec") + phaseS(sKey, "exec")),
      "exec.jobs" -> js.size.toDouble,
      "exec.stages" -> js.map(_.stages).sum.toDouble,
      "exec.tasks" -> js.map(_.tasks).sum.toDouble,
      "exec.task_run_s" -> js.map(_.runMs).sum / 1e3,
      "exec.task_cpu_s" -> cpuS,
      "exec.cpu_util" -> cpuS / (wall * conf.cpus),
      "exec.shuffle_write_bytes" -> js.map(_.shuffleWriteBytes).sum.toDouble,
      "exec.spill_bytes" -> js.map(_.spillBytes).sum.toDouble,
      "exec.gc_s" -> js.map(_.gcMs).sum / 1e3,
      "exec.max_task_s" -> (if (js.isEmpty) 0.0 else js.map(_.maxTaskMs).max / 1e3),
      "graphs.jobs" -> 0.0,
      "export.jobs" -> 0.0,
      "ingest.decode_s" -> decodeS,
      "ingest.decode_rows_per_s" -> good / decodeS,
      "ingest.quarantine_rows" -> quarantine.toDouble,
      "ingest.drift_rows" -> driftRows.toDouble,
      "sink.write_s" -> phaseS(bKey, "exec"),
      "sink.files" -> backfillFiles.size.toDouble,
      "sink.bytes_per_row" -> backfillFiles.map(_._2).sum.toDouble / good,
      "sink.register_s" -> phaseS(bKey, "register"),
      "sink.audit_s" -> auditS,
      "sink.orphans" -> orphans.size.toDouble,
      "stream.files_per_batch" -> streamFiles.size.toDouble / math.max(1, progress.size),
      "cycle_s" -> wall) ++ streamLayers(progress)
  }

  /** Visible data files under a table dir: (path, bytes). */
  def dataFiles(root: String): Seq[(String, Long)] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Seq.empty
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(f => p.relativize(f).iterator().asScala.exists { s =>
        val n = s.toString; n.startsWith("_") || n.startsWith(".") })
      .map(f => (f.toAbsolutePath.toString, Files.size(f))).toSeq.sortBy(_._1)
  }

  /** The correctness gate run after every cycle. */
  object Checks {
    val names = Seq("stream_eq_backfill", "backfill_eq_batch", "quarantine_count",
      "stream_quarantine", "drift_count", "no_uncommitted", "stream_files_eq_disk",
      "backfill_files_eq_disk")

    def run(spark: SparkSession, conf: Conf, st: Stage, n: Int,
            progress: Seq[StreamingQueryProgress], streamRows: Long,
            backfillRows: Long): Seq[(String, String)] = {
      val wh = s"${conf.work}/wh_c$n"
      val streamPath = s"$wh/stream_c$n"
      def norm(d: DataFrame) = d.select(col("ref"), col("city_id"), col("city_name"),
        col("c_date").cast("string").as("c_date"))
      // multisets compared as sorted row lists: the tables hold tens of
      // ten thousand rows, so one collect each is the cheapest exact check
      def rows(d: DataFrame) = norm(d).collect().map(_.toString).sorted.toSeq
      val in = st.input
      val payloads = spark.read.parquet(st.payloads)
      val streamed = rows(spark.read.orc(streamPath))
      val backfill = rows(spark.table(s"backfill_c$n"))
      val batch = rows(CdcIngest.parse(CdcIngest.goodRecords(payloads, "payload"), "payload"))
      def files(paths: Seq[String]) = paths.map(f => new java.io.File(new java.net.URI(f)).getAbsolutePath).toSet
      val onDiskStream = dataFiles(streamPath).map(_._1).toSet
      val onDiskBackfill = dataFiles(s"$wh/backfill_c$n").map(_._1).toSet
      val inputRows = progress.map(_.numInputRows).sum
      Seq(
        "stream_eq_backfill" -> (streamed == backfill,
          s"streamed $streamRows rows vs backfill $backfillRows"),
        "backfill_eq_batch" -> (backfill == batch && backfillRows == in.good,
          s"backfill $backfillRows rows, ${in.good} good payloads"),
        "quarantine_count" -> {
          val q = CdcIngest.corruptRecords(payloads, "payload").count()
          (q == in.poison, s"corruptRecords $q, injected ${in.poison}")
        },
        "stream_quarantine" -> (inputRows - streamRows == in.poison,
          s"stream read $inputRows, committed $streamRows, injected poison ${in.poison}"),
        "drift_count" -> {
          val d = CdcIngest.schemaDriftRecords(payloads, "payload").count()
          (d == in.drift, s"schemaDriftRecords $d, injected ${in.drift}")
        },
        "no_uncommitted" -> {
          val u = OrcTableSink.uncommittedDataFiles(spark, wh, s"stream_c$n")
          (u.isEmpty, s"${u.size} uncommitted files")
        },
        "stream_files_eq_disk" -> {
          val committed = files(spark.read.orc(streamPath).inputFiles.toSeq)
          (committed == onDiskStream, s"${committed.size} committed, ${onDiskStream.size} on disk")
        },
        "backfill_files_eq_disk" -> {
          val committed = files(spark.table(s"backfill_c$n").inputFiles.toSeq)
          (committed == onDiskBackfill, s"${committed.size} committed, ${onDiskBackfill.size} on disk")
        }
      ).collect { case (name, (false, why)) => name -> why }
    }
  }
}
