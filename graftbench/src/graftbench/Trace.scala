package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same axis as the times Spark stamps on its listener events.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** A benchmark-side call into one Graft module, made inside op `op`. */
final case class Call(op: Int, module: String, name: String,
    start: Double, end: Double)

/** Spans around calls into Graft's modules. Plain runs install no
  * tracer and `call` is a direct invocation.
  */
object Spans {
  @volatile var tracer: Tracer = null

  def call[T](module: String, name: String)(body: => T): T = {
    val t = tracer
    if (t == null) body
    else {
      val s = Clock.ms()
      try body finally t.addCall(module, name, s, Clock.ms())
    }
  }
}

/** Listener side of the traced run: every Spark job, stage, task and SQL
  * execution is tagged with the op that was running when it was posted
  * (the bus is drained between ops), and every job with the Graft
  * module its call site's file belongs to.
  */
final class Tracer(moduleOfFile: Map[String, String])
    extends SparkListener with QueryExecutionListener {

  /** `nested`: the job ran inside a SQL execution nested in another,
    * e.g. an action inside a streaming `foreachBatch` function.
    */
  final class Job(val id: Int, val op: Int, val start: Long,
      val site: String, val module: String, val nested: Boolean) {
    var end: Long = start
  }
  final class Stage(val id: Int, val job: Int, val op: Int) {
    var submit = 0L; var complete = 0L; var tasks = 0
    var cpuNs = 0L; var waitMs = 0L; var shRead = 0L; var shWrite = 0L
    var spill = 0L; var failed = 0
  }

  @volatile var op: Int = -1
  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.LinkedHashMap[Int, Stage]()
  private val stageJob = mutable.Map[Int, Int]()
  private val rootOf = mutable.Map[Long, Long]()
  val calls = mutable.ArrayBuffer[Call]()
  val sqlExecs = mutable.Map[Int, Int]().withDefaultValue(0)
  val planMs = mutable.Map[Int, Double]().withDefaultValue(0.0)
  val filesRead = mutable.Map[Int, Long]().withDefaultValue(0L)
  val rowsRead = mutable.Map[Int, Long]().withDefaultValue(0L)

  def addCall(module: String, name: String, s: Double, e: Double): Unit =
    synchronized { calls += Call(op, module, name, s, e) }

  /** "count at GraftTable.scala:812" → the module owning GraftTable.scala */
  def moduleOfSite(site: String): String = {
    val file = site.split(" at ").lastOption.getOrElse("").takeWhile(_ != ':')
    moduleOfFile.getOrElse(file, "spark")
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    val nested = exec.exists(x => rootOf.get(x).exists(_ != x))
    jobs(e.jobId) = new Job(e.jobId, op, e.time, site, moduleOfSite(site), nested)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    val s = stages.getOrElseUpdate(i.stageId,
      new Stage(i.stageId, stageJob.getOrElse(i.stageId, -1), op))
    s.submit = i.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.complete = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      s.tasks += 1
      if (!e.taskInfo.successful) s.failed += 1
      s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submit)
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.shRead += m.shuffleReadMetrics.totalBytesRead
        s.shWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      sqlExecs(op) += 1
      rootOf(x.executionId) = x.rootExecutionId.getOrElse(x.executionId)
    }
    case _ =>
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => (other.children ++ other.subqueries).flatMap(scans)
  }
  private def record(qe: QueryExecution): Unit = synchronized {
    planMs(op) += qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    scans(qe.executedPlan).foreach { s =>
      filesRead(op) += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      rowsRead(op) += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  def jobsOf(ops: Set[Int]): Seq[Job] = synchronized { jobs.values.filter(j => ops(j.op)).toSeq }
  def stagesOf(ops: Set[Int]): Seq[Stage] = synchronized { stages.values.filter(s => ops(s.op)).toSeq }
  def callsOf(module: String): Seq[Call] = synchronized { calls.filter(_.module == module).toSeq }
}

object Trace {
  /** Length of [s, e] covered by the union of `parts` (clipped to it). */
  def covered(s: Double, e: Double, parts: Seq[(Double, Double)]): Double = {
    val clipped = parts.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Call time not covered by the Spark jobs that ran inside the call. */
  def driverMs(c: Call, t: Tracer): Double = {
    val js = t.jobsOf(Set(c.op)).map(j => (j.start.toDouble, j.end.toDouble))
    (c.end - c.start) - covered(c.start, c.end, js)
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  /** One JSON object per span: ops, the module calls inside them, the
    * Spark jobs under those, and the stages under the jobs. `self_ms`
    * is the span's duration minus the part its children cover.
    */
  def writeSpans(path: java.nio.file.Path, ops: Seq[OpRecord], t: Tracer): Int = {
    val out = new StringBuilder
    var nextId = 0
    def emit(parent: Int, kind: String, name: String, module: String,
        op: Int, s: Double, e: Double, children: Seq[(Double, Double)]): Int = {
      val id = nextId; nextId += 1
      out ++= s"""{"id":$id,"parent":$parent,"kind":${q(kind)},"name":${q(name)},""" +
        s""""module":${q(module)},"op":$op,"start_ms":${"%.3f".format(s)},""" +
        s""""end_ms":${"%.3f".format(e)},"self_ms":${"%.3f".format((e - s) - covered(s, e, children))}}""" + "\n"
      id
    }
    t.synchronized {
      ops.foreach { o =>
        val calls = t.calls.filter(_.op == o.index)
        val jobs = t.jobs.values.filter(_.op == o.index).toSeq
        val callIv = calls.map(c => (c.start, c.end)).toSeq
        val jobIv = jobs.map(j => (j.start.toDouble, j.end.toDouble))
        val opId = emit(-1, "op", o.name, o.kind, o.index, o.start, o.end,
          if (calls.nonEmpty) callIv else jobIv)
        val callIds = calls.map { c =>
          val inside = jobIv.filter { case (a, _) => a >= c.start && a <= c.end }
          (c, emit(opId, "call", c.name, c.module, o.index, c.start, c.end, inside))
        }
        jobs.foreach { j =>
          val parent = callIds.find { case (c, _) => j.start >= c.start && j.start <= c.end }
            .map(_._2).getOrElse(opId)
          val st = t.stages.values.filter(_.job == j.id).toSeq
          val jid = emit(parent, "job", j.site, j.module, o.index, j.start, j.end,
            st.map(s => (s.submit.toDouble, s.complete.toDouble)))
          st.foreach(s => emit(jid, "stage", s"stage ${s.id}", j.module, o.index,
            s.submit, s.complete, Nil))
        }
      }
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, out.toString.getBytes("UTF-8"))
    nextId
  }
}
