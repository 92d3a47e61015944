package epabench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each layer, plus Spark's
  * public listeners for what happens below them.
  *
  * A span is (name, start, end, parent, run id), kept in memory and
  * written out at the end. A *phase* span also tags the Spark jobs it
  * starts (a local property), so task metrics are attributed exactly;
  * planning time is attributed by the instant each planning phase
  * started. Only a traced run installs the listeners; untraced runs
  * call the same methods on [[Tracer.Off]], which only runs the body.
  */
class Tracer(spark: SparkSession, val runId: String) {
  case class Span(name: String, startMs: Long, endMs: Long, durMs: Double, parent: String)

  final class TaskAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var spill = 0L
  }

  val spans = ArrayBuffer[Span]()
  private var openPhase: String = ""
  private val stagePhase = mutable.Map[Int, String]()
  val tasks = mutable.Map[String, TaskAgg]()
  val total = new TaskAgg
  /** (phase, start ms, end ms) per finished job. */
  val jobs = ArrayBuffer[(String, Long, Long)]()
  private val jobStart = mutable.Map[Int, (String, Long)]()
  /** (start ms, analysis + optimization + planning ms) per execution. */
  val planning = ArrayBuffer[(Long, Double)]()
  /** (start ms, rows the graftlake scans produced) per execution. */
  val lakeScanRows = ArrayBuffer[(Long, Long)]()

  private val sparkListener = new SparkListener {
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(Tracer.PhaseKey)))
      stagePhase(e.stageInfo.stageId) = p.getOrElse("")
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val phase = stagePhase.getOrElse(e.stageId, "")
        Seq(tasks.getOrElseUpdate(phase, new TaskAgg), total).foreach { a =>
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(Tracer.PhaseKey)))
      jobStart(e.jobId) = (p.getOrElse(""), e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (p, t) => jobs += ((p, t, e.time)) }
    }
  }

  private object PlanHelper extends AdaptiveSparkPlanHelper

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) {
        val start = ph.values.map(_.startTimeMs).min
        planning += ((start, ph.values.map(_.durationMs).sum.toDouble))
        val rows = PlanHelper.collectWithSubqueries(qe.executedPlan) {
          case s: BatchScanExec if s.table.getClass.getName.startsWith("graft.sources") =>
            s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        }
        if (rows.nonEmpty) lakeScanRows += ((start, rows.sum))
      }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait for the listener bus to deliver what is queued, then detach. */
  def uninstall(): Unit = {
    settle()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  private def settle(): Unit = {
    def count = synchronized(total.tasks + jobs.size + planning.size)
    var last = -1L
    var stable = 0
    while (stable < 4) {
      Thread.sleep(50)
      val c = count
      if (c == last) stable += 1 else { stable = 0; last = c }
    }
  }

  /** A span around `f`; a phase span also tags the jobs `f` starts. */
  def span[T](name: String, phase: Boolean = false)(f: => T): T = {
    val parent = openPhase
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Tracer.PhaseKey)
    if (phase) { sc.setLocalProperty(Tracer.PhaseKey, name); openPhase = name }
    val t0 = System.nanoTime()
    val w0 = System.currentTimeMillis()
    try f
    finally {
      val dur = (System.nanoTime() - t0) / 1e6
      if (phase) { sc.setLocalProperty(Tracer.PhaseKey, prev); openPhase = parent }
      synchronized { spans += Span(name, w0, System.currentTimeMillis(), dur, parent) }
    }
  }

  def spansNamed(name: String): Seq[Span] = synchronized(spans.filter(_.name == name).toSeq)

  /** Planning ms of the executions that started inside `s`. */
  def planningIn(s: Span): Double = synchronized(
    planning.filter { case (t, _) => t >= s.startMs && t <= s.endMs }.map(_._2).sum)

  /** Wall ms covered by jobs of `s`'s phase that started inside `s`. */
  def jobMsIn(s: Span): Double = synchronized {
    val iv = jobs.filter { case (p, a, _) => p == s.name && a >= s.startMs && a <= s.endMs }
      .map { case (_, a, b) => (a, b) }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    covered.toDouble
  }

  def lakeRowsIn(s: Span): Long = synchronized(
    lakeScanRows.filter { case (t, _) => t >= s.startMs && t <= s.endMs }.map(_._2).sum)

  /** The `spark.<phase>.*` family, per occurrence of the phase. */
  def phaseMetrics(phase: String, res: Result): Unit = {
    val occ = spansNamed(phase)
    val n = math.max(1, occ.size).toDouble
    val a = synchronized(tasks.getOrElse(phase, new TaskAgg))
    res.num(s"spark.$phase.planning_ms", if (occ.isEmpty) 0.0 else occ.map(planningIn).sum / n)
    res.num(s"spark.$phase.task_s", a.runMs / 1e3 / n)
    res.num(s"spark.$phase.shuffle_write_mb", a.shuffleWrite / 1e6 / n)
    res.num(s"spark.$phase.spill_mb", a.spill / 1e6 / n)
    res.num(s"spark.$phase.tasks", a.tasks / n)
  }

  /** `spark.cpu_s`, `spark.gc_s` per operation and the busy share. */
  def workloadMetrics(l: Loop, cores: Int, res: Result): Unit = {
    val ops = math.max(1, l.opLatenciesMs.size).toDouble
    res.num("spark.cpu_s", total.cpuNs / 1e9 / ops)
    res.num("spark.gc_s", total.gcMs / 1e3 / ops)
    res.num("spark.cpu_busy_share", total.runMs / 1e3 / (l.wallS * cores))
  }

  def writeSpans(p: Path): Unit = {
    Files.createDirectories(p.getParent)
    val lines = synchronized(spans.toSeq).map(s =>
      s"""{"name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""dur_ms":${s.durMs},"parent":"${s.parent}","run":"$runId"}""")
    Files.write(p, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val PhaseKey = "epabench.phase"
  val Phases = Seq("ingest", "daily", "monthly", "annual", "baselines", "queries",
    "export", "append", "merge", "query")

  /** Untraced: spans only run their body. */
  object Off extends Tracer(null, "off") {
    override def span[T](name: String, phase: Boolean = false)(f: => T): T = f
  }
}
