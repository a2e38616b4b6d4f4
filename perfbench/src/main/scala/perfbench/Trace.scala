package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same scale as Spark's listener event times. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval. Spans of one operation share `op`; `parent` is the
  * id of the span that caused it (-1 for an operation's root). */
final case class Span(id: Int, parent: Int, op: String, name: String,
                      start: Double, end: Double) {
  def dur: Double = end - start
}

/** Executor-side totals of one Spark job, summed over its tasks. */
final class JobStats(val jobId: Int, val op: String, val phase: String,
                     val start: Long) {
  @volatile var end: Long = start
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var maxTaskMs = 0L
}

/** Tracing for the `--trace 1` run. Jobs are tagged with the operation and
  * phase current on the submitting thread (Spark local properties, which
  * broadcast and stream-execution threads inherit); planning intervals come
  * from the QueryExecutionListener's `qe.tracker` phases; micro-batch
  * progress from a StreamingQueryListener. Everything stays in memory until
  * the run writes its detail file. Untimed runs never construct a Tracer. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private var nextId = 0
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val jobs = new ConcurrentHashMap[Int, JobStats]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  /** (funcName, planning start ms, planning end ms, planning ms). */
  val plans = new ConcurrentLinkedQueue[(String, Long, Long, Long)]()
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
      val js = new JobStats(e.jobId, prop(Tracer.OpKey), prop(Tracer.PhaseKey), e.time)
      jobs.put(e.jobId, js)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      forStage(e.stageInfo.stageId)(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = forStage(e.stageId) { j =>
      j.tasks += 1
      j.maxTaskMs = math.max(j.maxTaskMs, e.taskInfo.duration)
      Option(e.taskMetrics).foreach { m =>
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
      }
    }
  }

  private def forStage(stageId: Int)(f: JobStats => Unit): Unit =
    Option(stageJob.get(stageId)).flatMap(j => Option(jobs.get(j)))
      .foreach(j => j.synchronized(f(j)))

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty)
        plans.add((funcName, ph.map(_.startTimeMs).min, ph.map(_.endTimeMs).max,
          ph.map(_.durationMs).sum))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    sc.addSparkListener(jobListener)
    ListenerBridge.drain(sc)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(jobListener)
  }

  def drain(): Unit = ListenerBridge.drain(sc)

  /** Tags the jobs the current thread submits with `op` and `phase`. */
  def tag(op: String, phase: String): Unit = {
    sc.setLocalProperty(Tracer.OpKey, op)
    sc.setLocalProperty(Tracer.PhaseKey, phase)
  }

  def untag(): Unit = tag(null, null)

  def record(parent: Int, op: String, name: String, start: Double, end: Double): Int =
    synchronized {
      val id = nextId
      nextId += 1
      spans += Span(id, parent, op, name, start, end)
      id
    }

  /** Opens a span now; the returned function closes it. */
  def open(parent: Int, op: String, name: String): (Int, () => Unit) = synchronized {
    val id = nextId
    nextId += 1
    val start = Clock.ms
    spans += Span(id, parent, op, name, start, start)
    (id, () => synchronized {
      val i = spans.lastIndexWhere(_.id == id)
      spans(i) = spans(i).copy(end = Clock.ms)
    })
  }

  /** Records the jobs of `op` as child spans of the phase spans they ran
    * under (`construct` or `exec`, matched by phase tag). */
  def addJobSpans(op: String, phaseSpans: Map[String, Int]): Unit = {
    drain()
    jobs.values.asScala.filter(_.op == op).toSeq.sortBy(_.jobId).foreach { j =>
      val parent = phaseSpans.getOrElse(j.phase, phaseSpans.getOrElse("exec", -1))
      record(parent, op, s"job${j.jobId}", j.start.toDouble, j.end.toDouble)
    }
  }

  /** The planning interval of the first query whose planning started inside
    * [from, to] (epoch ms), if any. */
  def planIn(from: Double, to: Double): Option[(Long, Long, Long)] =
    plans.asScala.collectFirst {
      case (_, s, e, d) if s >= from - 1 && s <= to => (s, e, d)
    }

  def opJobs(op: String): Seq[JobStats] = jobs.values.asScala.filter(_.op == op).toSeq
}

object Tracer {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  /** Self time per span: its duration minus the union of its children's
    * intervals, clipped to the span. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var curS = Double.NaN
      var curE = Double.NaN
      iv.foreach { case (a, b) =>
        if (curS.isNaN) { curS = a; curE = b }
        else if (a <= curE) curE = math.max(curE, b)
        else { covered += curE - curS; curS = a; curE = b }
      }
      if (!curS.isNaN) covered += curE - curS
      s.id -> math.max(0.0, s.dur - covered)
    }.toMap
  }
}
