package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Measurement harness for the optimization rounds (guide §1):
  * runs named `SparkEntry.queries` under a SparkListener and prints,
  * per query, the top Spark jobs by wall time keyed by job
  * description / short call site — the local[] stand-in for the
  * Stages tab — and the generated classes the measured run compiled
  * (Spark's `CodegenMetrics` compile count, Janino time from
  * `CodeGenerator.compileTime`). Diagnostic only; never on a query
  * path.
  *
  * Usage: `sbt "runMain graft.Prof dedup_incremental mv_incremental"`
  * with the usual SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS env.
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.tune(
      SparkSession.builder().master(s"local[$cpus]"), cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }

    final class Rec(val desc: String, val start: Long, val eid: Long = -1L) {
      @volatile var end: Long = 0L
    }
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Rec]()
    @volatile var stageTasks = 0L
    @volatile var stageCount = 0L
    // per-callsite stage aggregation: stage names carry the action's
    // short call site ("count at Dedup.scala:123"), which attributes
    // the "?"-description jobs the per-job view can't
    final class Agg { var n = 0; var wallMs = 0L; var tasks = 0L; var runMs = 0L }
    val stages = new java.util.concurrent.ConcurrentHashMap[String, Agg]()
    // SQL-execution attribution: the execution's description is the
    // ACTION's call site, and broadcast/subquery future jobs carry the
    // parent's spark.sql.execution.id — so grouping job time by
    // execution id attributes the "?"-callsite future jobs correctly
    val execDesc = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val execWall = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long)]()
    final class EAgg { var jobs = 0; var jobMs = 0L }
    val execJobs = new java.util.concurrent.ConcurrentHashMap[Long, EAgg]()
    val listener = new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case s: SparkListenerSQLExecutionStart =>
          // inside foreachBatch the description is the stream-batch
          // header; the action call site lives in details' first line
          val d = if (s.description != null && s.description.contains("runId ="))
            s.details.linesIterator.toSeq.headOption.getOrElse(s.description)
          else s.description
          execDesc.put(s.executionId, d)
          execWall.put(s.executionId, (s.time, 0L))
        case e: SparkListenerSQLExecutionEnd =>
          val st = execWall.get(e.executionId)
          if (st != null) execWall.put(e.executionId, (st._1, e.time))
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val p = js.properties
        val desc = Option(p.getProperty("spark.job.description"))
          .orElse(Option(p.getProperty("callSite.short")))
          .getOrElse("?")
        val eid = Option(p.getProperty("spark.sql.execution.id"))
          .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(-1L)
        jobs.put(js.jobId, new Rec(desc, js.time, eid))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val r = jobs.get(je.jobId)
        if (r != null) {
          r.end = je.time
          if (r.eid >= 0) {
            val a = execJobs.computeIfAbsent(r.eid, _ => new EAgg)
            a.synchronized { a.jobs += 1; a.jobMs += math.max(0L, r.end - r.start) }
          }
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stageCount += 1
        stageTasks += sc.stageInfo.numTasks
        val si = sc.stageInfo
        val wall = (for (a <- si.completionTime; b <- si.submissionTime)
          yield math.max(0L, a - b)).getOrElse(0L)
        val a = stages.computeIfAbsent(si.name, _ => new Agg)
        a.synchronized {
          a.n += 1; a.wallMs += wall; a.tasks += si.numTasks
          a.runMs += si.taskMetrics.executorRunTime
        }
      }
    }

    val names = if (args.nonEmpty) args.toSeq
      else Seq("dedup_incremental", "mv_incremental")
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      // warm once (template/caches), measure second — mirrors the
      // bench's best-of-2
      try fn(spark, sfDir).count() catch { case e: Throwable =>
        println(s"warm $name failed: $e") }
      jobs.clear(); stages.clear(); execDesc.clear(); execWall.clear()
      execJobs.clear(); stageTasks = 0L; stageCount = 0L
      spark.sparkContext.addSparkListener(listener)
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val janino0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val janinoMs = (CodeGenerator.compileTime - janino0) / 1e6
      Thread.sleep(500) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      import scala.jdk.CollectionConverters._
      val recs = jobs.values.asScala.toSeq
      val byDesc = recs.groupBy(_.desc).map { case (d, rs) =>
        val tot = rs.map(r => math.max(0L,
          (if (r.end > 0) r.end else r.start) - r.start)).sum
        (d, rs.size, tot)
      }.toSeq.sortBy(-_._3)
      val jobTotal = byDesc.map(_._3).sum
      println(f"===== $name%s wall=$wall%.2fs jobs=${recs.size}%d " +
        f"jobTime=${jobTotal / 1e3}%.2fs stages=$stageCount%d tasks=$stageTasks%d " +
        f"compiles=$compiles%d janinoMs=$janinoMs%.0f =====")
      byDesc.take(30).foreach { case (d, n, tot) =>
        println(f"  ${tot / 1e3}%8.3fs  x$n%-4d $d%.140s")
      }
      val byStage = stages.asScala.toSeq.sortBy(-_._2.wallMs)
      println(f"  -- stages by call site (wall / executor-run / n / tasks) --")
      byStage.take(30).foreach { case (nm, a) =>
        println(f"  ${a.wallMs / 1e3}%8.3fs ${a.runMs / 1e3}%8.3fs x${a.n}%-4d t${a.tasks}%-6d ${nm.replace('\n', ' ')}%.120s")
      }
      // per-action (SQL execution) view: wall between execution
      // start/end, job count and summed job time under each action's
      // call-site description — aggregated across repeat call sites
      final case class ERow(desc: String, wallMs: Long, jobs: Int, jobMs: Long)
      val eRows = execDesc.asScala.toSeq.map { case (eid, d) =>
        val (s, e) = execWall.getOrDefault(eid, (0L, 0L))
        val ja = execJobs.get(eid)
        ERow(d, if (e > s) e - s else 0L,
          if (ja == null) 0 else ja.jobs, if (ja == null) 0L else ja.jobMs)
      }
      val byDescE = eRows.groupBy(_.desc).map { case (d, rs) =>
        (d, rs.size, rs.map(_.wallMs).sum, rs.map(_.jobs).sum, rs.map(_.jobMs).sum)
      }.toSeq.sortBy(-_._3)
      println(f"  -- SQL executions by action call site (wall / n / jobs / jobTime) --")
      byDescE.take(30).foreach { case (d, n, w, j, jm) =>
        println(f"  ${w / 1e3}%8.3fs x$n%-4d j$j%-4d jt${jm / 1e3}%7.3fs  ${d.replace('\n', ' ')}%.110s")
      }
    }
    spark.stop()
  }
}
