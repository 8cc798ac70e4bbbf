package hepbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Spans of one operation share `trace`; `parent` is
  * the span that caused this one (0 for a root). Times are epoch ms, so
  * they line up with the timestamps of Spark's listener events. */
final case class Span(trace: Long, id: Long, parent: Long, name: String,
    startMs: Double, endMs: Double) {
  def durS: Double = (endMs - startMs) / 1e3
}

/** Spans kept in memory and written as JSON lines when the run ends. */
final class Tracer {
  private var nextId = 0L
  val spans = ArrayBuffer.empty[Span]

  def newId(): Long = { nextId += 1; nextId }

  def nowMs: Double = System.currentTimeMillis().toDouble

  def span[A](trace: Long, parent: Long, name: String)(f: Long => A): A = {
    val id = newId()
    val t0 = nowMs
    try f(id) finally spans += Span(trace, id, parent, name, t0, nowMs)
  }

  def write(path: java.io.File): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.obj(Seq("trace" -> s.trace, "id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs)))
    } finally w.close()
  }
}

/** Largest task peak execution memory, the one listener that stays on in
  * untraced runs. */
final class PeakMemory extends SparkListener {
  @volatile var peakBytes = 0L
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null)
      peakBytes = math.max(peakBytes, e.taskMetrics.peakExecutionMemory)
}

/** Task counters summed over a set of tasks (one job group, or all). */
final class TaskSums {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakMemBytes = 0L
  def add(m: org.apache.spark.executor.TaskMetrics): Unit = synchronized {
    tasks += 1
    runMs += m.executorRunTime
    cpuNs += m.executorCpuTime
    gcMs += m.jvmGCTime
    shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    spillBytes += m.diskBytesSpilled
    peakMemBytes = math.max(peakMemBytes, m.peakExecutionMemory)
  }
}

final case class JobRec(id: Int, startMs: Double, endMs: Double,
    callSite: String, group: String)

/** The traced run's Spark listener plus query-execution listener: job
  * intervals with their call sites, stage counts, task counters per job
  * group, and planning time. Registered only while tracing. */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val jobStarts = new ConcurrentHashMap[Int, (Double, String, String)]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val execSite = new ConcurrentHashMap[Long, String]()
  val jobs = ArrayBuffer.empty[JobRec]
  val total = new TaskSums
  val byGroup = new ConcurrentHashMap[String, TaskSums]()
  @volatile var stages = 0L
  @volatile var planNs = 0L

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execSite.put(s.executionId, s.description)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execSite.get(id.toLong)))
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    e.stageIds.foreach(stageGroup.put(_, group))
    jobStarts.put(e.jobId, (e.time.toDouble, site, group))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (t0, site, group) =>
      jobs.synchronized { jobs += JobRec(e.jobId, t0, e.time.toDouble, site, group) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
    total.add(e.taskMetrics)
    val g = Option(stageGroup.get(e.stageId)).getOrElse("")
    byGroup.computeIfAbsent(g, _ => new TaskSums).add(e.taskMetrics)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    planNs += Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(p => (p.durationMs * 1000000L)).sum
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def group(name: String): TaskSums = byGroup.asScala.getOrElse(name, new TaskSums)
}

object Recorder {
  def attach(spark: SparkSession): Recorder = {
    val r = new Recorder
    spark.sparkContext.addSparkListener(r)
    spark.listenerManager.register(r)
    r
  }

  def detach(spark: SparkSession, r: Recorder): Unit = {
    org.apache.spark.hepbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(r)
    spark.listenerManager.unregister(r)
  }

  /** Length of the part of [t0, t1] that the intervals cover. */
  def covered(t0: Double, t1: Double, ivs: Seq[(Double, Double)]): Double = {
    var end = t0
    var sum = 0.0
    ivs.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { sum += b - math.max(a, end); end = b }
      }
    sum
  }
}

/** Minimal JSON rendering for the result and span files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').result()
  }

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ", ", "]")
    case null => "null"
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}
