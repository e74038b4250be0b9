package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ExecutionException, Executors, TimeUnit, TimeoutException}

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One op of a workload's closed loop; `kind` is "write" or "read". */
final case class Op(kind: String, name: String, run: () => Unit)

final case class OpRecord(index: Int, kind: String, name: String,
    start: Double, end: Double, ok: Boolean, error: String) {
  def ms: Double = end - start
}

/** A workload owns its work dir, its seeded inputs and its checks. */
abstract class Workload {
  /** Generate every input, create tables and indexes. */
  def setup(): Unit
  /** Run each op kind once, outside the window, without changing what
    * the window's ops and the checks see.
    */
  def warmUp(): Unit
  /** The i-th op of the seeded op sequence. */
  def op(i: Int): Op
  /** Roots of the workload's tables and indexes (space_amp numerator). */
  def storageRoots: Seq[Path]
  /** Bytes of the live snapshot data files (space_amp denominator). */
  def liveBytes(): Long
  /** The window runs at least this many ops, and space_amp is measured
    * after them, so it compares the same op sequence on every run.
    */
  def spaceAfterOps: Int
  /** Untimed checks after the window; returns the failures. */
  def check(ops: Seq[OpRecord]): Seq[String]
  /** Input properties, printed before the result. */
  def inputs(): Seq[(String, Any)]
  /** Layer metrics only this workload can observe (traced run). */
  def layers(ops: Seq[OpRecord], t: Tracer): Map[String, Double]
  /** Release cached frames before the work dir is deleted. */
  def close(): Unit = ()
}

object Main {
  /** An op slower than this counts as failed and ends the window. */
  val OpTimeoutS = 60L

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "write_p50_ms" -> "ms", "read_p50_ms" -> "ms",
    "ops_per_s" -> "1/s", "space_amp" -> "ratio")

  val PerLayer: Seq[(String, String)] = Seq(
    "tables.call_ms" -> "ms", "tables.driver_ms" -> "ms",
    "tables.commits_per_op" -> "count/op", "tables.log_versions" -> "count",
    "tables.log_bytes" -> "bytes", "tables.files_written_per_commit" -> "count",
    "tables.bytes_written_per_commit" -> "bytes", "tables.files_live" -> "count",
    "tables.files_on_disk" -> "count", "tables.files_read_ratio" -> "ratio",
    "tables.rows_read_per_row_returned" -> "ratio", "tables.mv_refresh_ms" -> "ms",
    "operators.probe_ms" -> "ms", "operators.jobs_per_batch" -> "count",
    "operators.job_ms_per_batch" -> "ms", "operators.shuffle_bytes_per_batch" -> "bytes",
    "operators.index_files" -> "count", "operators.index_bytes" -> "bytes",
    "operators.drop_ratio" -> "ratio",
    "streaming.cycle_ms" -> "ms", "streaming.empty_cycle_ms" -> "ms",
    "streaming.jobs_per_cycle" -> "count", "streaming.checkpoint_files" -> "count",
    "spark.sql_execs_per_op" -> "count/op", "spark.plan_ms_per_op" -> "ms/op",
    "spark.jobs_per_op" -> "count/op", "spark.stages_per_op" -> "count/op",
    "spark.tasks_per_op" -> "count/op", "spark.job_ms_per_op" -> "ms/op",
    "spark.task_cpu_ms_per_op" -> "ms/op", "spark.task_wait_ms_per_op" -> "ms/op",
    "spark.shuffle_read_bytes_per_op" -> "bytes/op",
    "spark.shuffle_write_bytes_per_op" -> "bytes/op",
    "spark.spill_bytes_per_op" -> "bytes/op", "spark.failed_tasks" -> "count",
    "spark.storage_mem_mb" -> "MB", "jvm.gc_ms_per_op" -> "ms/op",
    "jvm.heap_retained_mb" -> "MB",
    "storage.bytes_written_per_user_byte" -> "ratio", "trace.ops_per_s" -> "1/s")

  /** Set when an op timed out: its thread may still hold Spark. */
  @volatile private var hung = false

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code =
      try run(opts)
      catch { case e: Throwable => e.printStackTrace(); 2 }
    System.out.flush()
    System.err.flush()
    // after a hang, skip the shutdown hooks that would wait on Spark
    if (hung) Runtime.getRuntime.halt(code) else System.exit(code)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The tail a window's few samples support: their maximum (p100). */
  def tail(xs: Seq[Double]): Double = percentile(xs, 1.0)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Source file name → the Graft package under `src` that holds it. */
  private def moduleMap(src: Path): Map[String, String] =
    Fs.files(src).filter(_.toString.endsWith(".scala")).map { p =>
      val rel = src.relativize(p)
      p.getFileName.toString -> (if (rel.getNameCount > 1) rel.getName(0).toString else "graft")
    }.toMap

  private def run(opts: Map[String, String]): Int = {
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    require(Workloads.names.contains(workload),
      s"unknown workload $workload (have ${Workloads.names.mkString(", ")})")

    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.Sessions.tune(
      SparkSession.builder().master(s"local[$cores]").appName("graftbench")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .config("spark.sql.extensions", "graft.GraftExtensions"),
      math.max(cores, 4)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val setup0 = System.nanoTime()
    val w = Workloads(workload, spark, seed, work.resolve("data"))
    w.setup()
    val dataS = (System.nanoTime() - setup0) / 1e9
    val warm0 = System.nanoTime()
    w.warmUp()
    val warmS = (System.nanoTime() - warm0) / 1e9

    val tracer =
      if (!traced) null
      else {
        val t = new Tracer(moduleMap(Paths.get(opts("src"))))
        spark.sparkContext.addSparkListener(t)
        spark.listenerManager.register(t)
        Spans.tracer = t
        t
      }

    val client = Executors.newSingleThreadExecutor { (r: Runnable) =>
      val th = new Thread(r, "bench-client"); th.setDaemon(true); th
    }
    val recs = mutable.ArrayBuffer[OpRecord]()
    var spaceAmp = 0.0
    var pausedMs = 0.0
    val gc0 = gcMs()
    val begin = Clock.ms()
    // process start to the first timed op
    val setupS = (begin - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    var endAt = begin + seconds * 1000.0
    // the window also runs until each op kind has run twice and the
    // space-measured prefix has run: every latency metric has samples,
    // and a window of slow ops (8 s curation cycles) ends after the same
    // ops on every run
    def short = recs.size < w.spaceAfterOps ||
      Seq("write", "read").exists(k => recs.count(_.kind == k) < 2)
    while (!hung && (Clock.ms() < endAt || short)) {
      val i = recs.size
      val op = w.op(i)
      if (tracer != null) tracer.op = i
      val s = Clock.ms()
      val f = client.submit(new Runnable { def run(): Unit = op.run() })
      val err =
        try { f.get(OpTimeoutS, TimeUnit.SECONDS); null }
        catch {
          case _: TimeoutException =>
            hung = true
            spark.streams.active.foreach(q => scala.util.Try(q.stop()))
            spark.sparkContext.cancelAllJobs()
            f.cancel(true)
            s"timed out after ${OpTimeoutS}s"
          case e: ExecutionException => String.valueOf(e.getCause)
        }
      val e = Clock.ms()
      if (tracer != null) org.apache.spark.BenchBus.drain(spark.sparkContext)
      recs += OpRecord(i, op.kind, op.name, s, e, err == null, err)
      if (recs.size == w.spaceAfterOps && !hung) {
        // outside the window's time: the clock pauses while disk is walked
        if (tracer != null) tracer.op = -1
        val m0 = Clock.ms()
        spaceAmp = w.storageRoots.map(Fs.bytes).sum.toDouble / math.max(1L, w.liveBytes())
        if (tracer != null) org.apache.spark.BenchBus.drain(spark.sparkContext)
        val paused = Clock.ms() - m0
        pausedMs += paused
        endAt += paused
      }
    }
    val windowS = (Clock.ms() - begin - pausedMs) / 1000.0
    val gcPerOp = (gcMs() - gc0).toDouble / math.max(1, recs.size)
    if (tracer != null) {
      tracer.op = -1
      Spans.tracer = null
    }

    // listeners hold per-task metrics until they process the end events,
    // unpersisted blocks are removed asynchronously, and objects freed
    // only after their finalizers or cleaners ran need another collection
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    Thread.sleep(500)
    for (_ <- 0 until 3) { System.gc(); System.runFinalization(); Thread.sleep(100) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val storageMb = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (mx, rem) => mx - rem }.sum / 1048576.0

    val ok = recs.filter(_.ok)
    val writes = ok.filter(_.kind == "write").map(_.ms).toSeq
    val reads = ok.filter(_.kind == "read").map(_.ms).toSeq
    val opsPerS = ok.size / windowS

    println(s"[graftbench] workload=$workload seed=$seed seconds=$seconds trace=${if (traced) 1 else 0} cores=$cores")
    w.inputs().foreach { case (k, v) => println(s"[input] $k = $v") }
    println(s"[input] heap_max_mb = ${Runtime.getRuntime.maxMemory / 1048576}")
    println(f"[setup] session_s=$sessionS%.3f data_setup_s=$dataS%.3f warm_up_s=$warmS%.3f")
    println(f"[window] ops=${recs.size} ok=${ok.size} writes=${writes.size} reads=${reads.size} seconds=$windowS%.3f")
    recs.foreach(r => println(f"[op] ${r.index}%3d ${r.kind}%-5s ${r.name}%-16s ${r.ms}%10.1f ms${if (r.ok) "" else " FAILED"}"))
    println(f"[latency] write_tail_ms=${tail(writes)}%.1f read_tail_ms=${tail(reads)}%.1f " +
      s"(the maximum, p100, of ${writes.size} writes and of ${reads.size} reads)")
    println(f"[memory] heap_retained_mb=$heapMb%.2f")
    println(f"[errors] error_rate=${(recs.size - ok.size).toDouble / math.max(1, recs.size)}%.4f")
    recs.filterNot(_.ok).take(5).foreach(r => println(s"[error] op ${r.index} ${r.name}: ${r.error}"))

    val check0 = System.nanoTime()
    val failures =
      if (hung) Seq("an op timed out; the table state is unknown, checks skipped")
      else w.check(recs.toSeq)
    println(f"[time] check_s=${(System.nanoTime() - check0) / 1e9}%.3f " +
      f"since_jvm_start_s=${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.3f")
    failures.foreach(f => println(s"[check] FAILED $f"))
    if (failures.isEmpty) println("[check] all correctness checks passed")

    val metrics: Seq[(String, String, Double)] =
      if (!traced) {
        val v = Map(
          "setup_s" -> setupS,
          "write_p50_ms" -> median(writes), "read_p50_ms" -> median(reads),
          "ops_per_s" -> opsPerS, "space_amp" -> spaceAmp)
        EndToEnd.map { case (n, u) => (n, u, v(n)) }
      } else {
        val all = recs.map(_.index).toSet
        val n = math.max(1, recs.size).toDouble
        val st = tracer.stagesOf(all)
        val js = tracer.jobsOf(all)
        val common = Map(
          "spark.sql_execs_per_op" -> all.toSeq.map(tracer.sqlExecs).sum / n,
          "spark.plan_ms_per_op" -> all.toSeq.map(tracer.planMs).sum / n,
          "spark.jobs_per_op" -> js.size / n,
          "spark.stages_per_op" -> st.size / n,
          "spark.tasks_per_op" -> st.map(_.tasks).sum / n,
          "spark.job_ms_per_op" -> js.map(j => (j.end - j.start).toDouble).sum / n,
          "spark.task_cpu_ms_per_op" -> st.map(_.cpuNs).sum / 1e6 / n,
          "spark.task_wait_ms_per_op" -> st.map(_.waitMs).sum / n,
          "spark.shuffle_read_bytes_per_op" -> st.map(_.shRead).sum / n,
          "spark.shuffle_write_bytes_per_op" -> st.map(_.shWrite).sum / n,
          "spark.spill_bytes_per_op" -> st.map(_.spill).sum / n,
          "spark.failed_tasks" -> st.map(_.failed).sum.toDouble,
          "spark.storage_mem_mb" -> storageMb,
          "jvm.gc_ms_per_op" -> gcPerOp,
          "jvm.heap_retained_mb" -> heapMb,
          "trace.ops_per_s" -> opsPerS)
        val tablesCalls = tracer.callsOf("tables")
        val tables = Map(
          "tables.call_ms" -> median(tablesCalls.map(c => c.end - c.start)),
          "tables.driver_ms" -> median(tablesCalls.map(Trace.driverMs(_, tracer))))
        val v = common ++ tables ++ w.layers(recs.toSeq, tracer)
        opts.get("spans").foreach { p =>
          val n = Trace.writeSpans(Paths.get(p), recs.toSeq, tracer)
          println(s"[trace] wrote $n spans to $p")
        }
        PerLayer.map { case (n, u) => (n, u, v.getOrElse(n, 0.0)) }
      }
    metrics.foreach { case (n, u, x) => println(f"[metric] $n%-38s $x%.4f $u") }

    val body = metrics.map { case (n, u, x) =>
      s""""$n": {"value": ${if (x.isNaN || x.isInfinite) "0" else x.toString}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failures.isEmpty}, "attempted": ${math.max(1, recs.size)}, """ +
      s""""failed": ${recs.count(!_.ok)}, "metrics": {$body}}""")
    w.close()
    if (!hung) spark.stop()
    if (failures.isEmpty) 0 else 1
  }
}

object Fs {
  def files(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  def bytes(root: Path): Long = files(root).map(Files.size).sum
  /** Bytes of the data files a table's latest snapshot reads. */
  def liveBytes(t: graft.tables.GraftTable): Long = t.snapshot().inputFiles
    .map(f => Files.size(Paths.get(new java.net.URI(f)))).sum
  def delete(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists) finally s.close()
    }
}
