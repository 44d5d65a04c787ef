package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Which engine layer issued a Spark action, read from a call site. */
object Layers {
  /** The `graft.*` packages that issue Spark actions. */
  val All: Seq[String] = Seq("sources", "operators", "functions", "sink", "state",
    "driver", "streaming", "catalog", "config")
  /** Packages whose frames are helpers around another layer's action. */
  val Skipped: Set[String] = Set("util", "plans", "model", "tools")
  val Unattributed = "unattributed"
  /** Local property naming the layer the benchmark issues a final action
    * for (the registry query's home layer); consulted only when neither
    * the call site nor the SQL execution's call site names a layer.
    */
  val DeclaredKey = "perfbench.layer"

  private val Frame = """^(?:at\s+)?graft\.([a-z]+)\.""".r

  /** Innermost `graft.<layer>` frame of a long-form call site. */
  def of(callSite: String): Option[String] =
    Option(callSite).iterator.flatMap(_.split("\n")).map(_.trim)
      .flatMap(l => Frame.findPrefixMatchOf(l).map(_.group(1)))
      .find(l => !Skipped.contains(l) && All.contains(l))
}

/** One finished task, as the trace keeps it. */
final case class TaskSpan(layer: String, launchMs: Long, finishMs: Long,
                          runMs: Long, shuffleBytes: Long, writtenBytes: Long)

/** One job, as the trace keeps it; `site` is the short call site of its
  * result stage ("head at SparkEntry.scala:2034").
  */
final case class JobSpan(id: Int, layer: String, label: String, site: String,
                         startMs: Long, var endMs: Long = -1L)

/** A measured step (round, pass) of a workload. */
final case class StepSpan(name: String, startMs: Long, endMs: Long, traced: Boolean)

/** Per-layer job attribution for the traced pass.
  *
  * A job counts to the layer that issued its action: the innermost
  * `graft.<layer>` frame of its result stage's call site; when that has
  * none (jobs submitted from broadcast threads), the layer of the root
  * SQL execution's call site; then the layer the benchmark declared for
  * the action it issued itself; otherwise `unattributed`.
  *
  * Events are recorded only while `recording` is set. It is an
  * AtomicBoolean because it is flipped on the driver thread and read on
  * the listener-bus thread; every flip happens after [[drain]], so no
  * event of a step crosses into the next one. Spans stay in memory and
  * are summarised (and written out) once, at the end.
  */
final class LayerTrace(sc: SparkContext) extends SparkListener {
  private val recording = new AtomicBoolean(false)
  private val execLayer = new ConcurrentHashMap[Long, String]()
  private val stageJob = new ConcurrentHashMap[Int, JobSpan]()
  private val jobs = new ConcurrentHashMap[Int, JobSpan]()
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskSpan]()
  private val steps = mutable.ArrayBuffer[StepSpan]()

  sc.addSparkListener(this)

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      Layers.of(e.details).foreach(l => execLayer.put(e.executionId, l))
    case _ => ()
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = if (recording.get) {
    val props = Option(js.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    def exec(k: String) = prop(k).flatMap(id => Option(execLayer.get(id.toLong)))
    val stage = if (js.stageInfos.isEmpty) None else Some(js.stageInfos.maxBy(_.stageId))
    val layer = stage.map(_.details).flatMap(Layers.of)
      .orElse(exec("spark.sql.execution.root.id"))
      .orElse(exec("spark.sql.execution.id"))
      .orElse(prop(Layers.DeclaredKey))
      .getOrElse(Layers.Unattributed)
    val span = JobSpan(js.jobId, layer, prop("spark.job.description").getOrElse(""),
      stage.map(_.name).getOrElse(""), js.time)
    jobs.put(js.jobId, span)
    js.stageIds.foreach(s => stageJob.putIfAbsent(s, span))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = if (recording.get) {
    Option(jobs.get(je.jobId)).foreach(_.endMs = je.time)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = if (recording.get) {
    Option(stageJob.get(te.stageId)).foreach { job =>
      val m = Option(te.taskMetrics)
      tasks.add(TaskSpan(job.layer, te.taskInfo.launchTime,
        te.taskInfo.finishTime,
        m.map(_.executorRunTime).getOrElse(0L),
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(_.outputMetrics.bytesWritten).getOrElse(0L)))
    }
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  /** Run one step, recording its events iff `traced`. */
  def step[T](name: String, traced: Boolean)(body: => T): T = {
    drain()
    recording.set(traced)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      drain()
      recording.set(false)
      steps += StepSpan(name, t0, t1, traced)
    }
  }

  def jobSpans: Seq[JobSpan] = jobs.values().toArray(Array.empty[JobSpan]).toSeq.sortBy(_.id)
  def taskSpans: Seq[TaskSpan] = tasks.toArray(Array.empty[TaskSpan]).toSeq
  def stepSpans: Seq[StepSpan] = steps.toSeq
}

/** The per-layer summary of a trace, normalised per traced step. */
object TraceSummary {
  /** Wall time (ms) per layer during which exactly one task ran. */
  def singleTaskMs(tasks: Seq[TaskSpan]): Map[String, Long] = {
    // sweep launch/finish edges; ends sort before starts at equal times
    val edges = tasks.flatMap(t => Seq((t.launchMs, 1, t.layer), (t.finishMs, -1, t.layer)))
      .sortBy(e => (e._1, e._2))
    val running = mutable.Map[String, Int]().withDefaultValue(0)
    var total = 0
    val out = mutable.Map[String, Long]().withDefaultValue(0L)
    var last = 0L
    edges.foreach { case (at, d, layer) =>
      if (total == 1) out(running.find(_._2 == 1).get._1) += at - last
      running(layer) += d
      total += d
      last = at
    }
    out.toMap
  }

  /** Step wall time (ms) with no job running, per step. */
  def gapMs(step: StepSpan, jobs: Seq[JobSpan]): Long = {
    val iv = jobs.filter(j => j.startMs >= step.startMs && j.startMs <= step.endMs)
      .map(j => (j.startMs, if (j.endMs < 0) step.endMs else math.min(j.endMs, step.endMs)))
      .sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(0L, (step.endMs - step.startMs) - covered)
  }

  /** Per-layer metrics (per traced step), driver gap and unattributed
    * jobs.
    */
  def apply(trace: LayerTrace): Map[String, Double] = {
    val steps = trace.stepSpans.filter(_.traced)
    val n = math.max(1, steps.size).toDouble
    val jobs = trace.jobSpans
    val tasks = trace.taskSpans
    val single = singleTaskMs(tasks)
    val perLayer = Layers.All.flatMap { l =>
      val lt = tasks.filter(_.layer == l)
      Seq(
        s"$l.jobs" -> jobs.count(_.layer == l) / n,
        s"$l.tasks" -> lt.size / n,
        s"$l.busy_s" -> lt.map(_.runMs).sum / 1000.0 / n,
        s"$l.single_task_s" -> single.getOrElse(l, 0L) / 1000.0 / n,
        s"$l.shuffle_bytes" -> lt.map(_.shuffleBytes).sum / n,
        s"$l.written_bytes" -> lt.map(_.writtenBytes).sum / n)
    }
    (perLayer ++ Seq(
      "jobs" -> jobs.size / n,
      "unattributed_jobs" -> jobs.count(_.layer == Layers.Unattributed) / n,
      "driver_gap_s" -> steps.map(s => gapMs(s, jobs)).sum / 1000.0 / n,
      "traced_steps" -> steps.size.toDouble)).toMap
  }
}
