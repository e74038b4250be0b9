package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

import graft.operators.Dedup
import graft.streaming.Streams
import graft.tables.GraftTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Streaming dedup admission: fixed-size batches of a seeded corpus with
  * planted exact copies and near-duplicates land in a raw directory,
  * and each write op runs one AvailableNow curation cycle (arrival →
  * admission against the growing shingle/signature index → append to
  * the curated table). Read ops probe near-duplicates against the
  * index. Dedup's shingling, band joins and clustering, the bloom
  * sidecars and the streaming source do the work; the table layer
  * only appends.
  */
final class CurationStream(spark: SparkSession, seed: Long, dir: Path) extends Workload {
  import CurationStream._

  private val rng = new SplittableRandom(seed * 1000003L + 43L)
  private val pending = dir.resolve("pending")
  private val raw = dir.resolve("raw")
  private val cp = dir.resolve("checkpoint")
  private val idx = dir.resolve("index")
  private val clusters = dir.resolve("clusters")
  private val curatedPath = dir.resolve("curated")
  private var curated: GraftTable = _
  private var probes: Seq[(DocRow, Long)] = Nil
  /** planted exact copy → its base */
  private val exactOf = mutable.Map[Long, Long]()
  /** planted near-duplicate → its base */
  private val nearOf = mutable.Map[Long, Long]()
  private val freshIds = mutable.Set[Long]()
  private val batchOf = mutable.Map[Long, Int]()
  private var staged = 0
  private var v0 = 0L
  private var filesBefore = Set.empty[Path]
  private val probeHits = mutable.Map[Int, Set[(Long, Long)]]()
  private val stagedBytes = mutable.Map[Int, Long]()
  private var emptyCycleMs = 0.0

  def setup(): Unit = {
    // only freshly written docs serve as bases, so every planted copy
    // and near-duplicate has an original the index has seen
    val fresh = mutable.ArrayBuffer[DocRow]()
    var next = 1L
    // every batch after the seed batch plants exactly the stated shares,
    // at seeded positions, so every batch carries the same work
    val nExact = math.round(BatchDocs * ExactShare).toInt
    val nNear = math.round(BatchDocs * NearShare).toInt
    val docs = (0 to Batches).flatMap { b =>
      val size = if (b == 0) SeedDocs else BatchDocs
      val kinds = Array.tabulate(size)(k => if (b == 0) 2 else if (k < nExact) 0 else if (k < nExact + nNear) 1 else 2)
      for (k <- kinds.indices.reverse) {
        val j = rng.nextInt(k + 1); val t = kinds(k); kinds(k) = kinds(j); kinds(j) = t
      }
      val batch = kinds.toSeq.map { kind =>
        val id = next; next += 1
        if (kind == 0) {
          val base = fresh(rng.nextInt(fresh.size))
          exactOf(id) = base.doc_id
          (base.copy(doc_id = id), false)
        } else if (kind == 1) {
          val base = fresh(rng.nextInt(fresh.size))
          nearOf(id) = base.doc_id
          (Gen.doc(rng, id, Gen.nearDup(rng, base.text)), false)
        } else { freshIds += id; (Gen.doc(rng, id, Gen.text(rng)), true) }
      }
      fresh ++= batch.collect { case (d, true) => d }
      batch.map { case (d, _) => batchOf(d.doc_id) = b; (d, b) }
    }
    probes = (0 until ProbeDocs).map { j =>
      val base = fresh(j * (SeedDocs / ProbeDocs))
      (Gen.doc(rng, ProbeId0 + j, Gen.nearDup(rng, base.text)), base.doc_id)
    }
    spark.createDataFrame(docs).select(col("_1.*"), col("_2").as("batch"))
      .repartition(8, col("batch"))
      .write.partitionBy("batch").parquet(pending.toString)
    Files.createDirectories(raw)
    curated = GraftTable.create(spark, curatedPath.toString,
      spark.createDataFrame(docs.take(1).map(_._1)).limit(0))
  }

  /** Admits the seed batch, which builds the index, then `WarmBatches`
    * batches with a probe after each; the window starts at the next
    * batch.
    */
  def warmUp(): Unit = {
    stage(0)
    cycle()
    for (b <- 1 to WarmBatches) {
      stage(b)
      staged = b
      cycle()
      probe()
    }
    v0 = curated.latestVersion
    filesBefore = storageFiles().toSet
  }

  /** Lands batch `b` whole: the parquet file is renamed into the raw
    * directory, so the stream never sees a partial file.
    */
  private def stage(b: Int): Long = {
    val src = Fs.files(pending.resolve(s"batch=$b")).filter(_.toString.endsWith(".parquet"))
    src.zipWithIndex.map { case (f, k) =>
      val size = Files.size(f)
      Files.move(f, raw.resolve(f"b$b%05d_$k.parquet"), StandardCopyOption.ATOMIC_MOVE)
      size
    }.sum
  }

  private def cycle(): Long =
    Streams.curationStream(spark, raw.toString, cp.toString, idx.toString,
      clusters.toString, curated)

  private def probe(): Set[(Long, Long)] =
    Dedup.incrementalProbe(spark, idx.toString, spark.createDataFrame(probes.map(_._1)))
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  def op(i: Int): Op =
    if (i % 2 == 0) {
      val b = i / 2 + WarmBatches + 1
      require(b <= Batches, s"all $Batches batches staged")
      Op("write", "curation_cycle", () => {
        stagedBytes(i) = Spans.call("bench", "stage")(stage(b))
        staged = b
        Spans.call("streaming", "curation_stream")(cycle())
      })
    } else Op("read", "probe", () => probeHits(i) = Spans.call("operators", "incremental_probe")(probe()))

  private def storageFiles(): Seq[Path] = (storageRoots :+ cp).flatMap(Fs.files)

  def storageRoots: Seq[Path] = Seq(curatedPath, idx, clusters)
  /** cycle, probe, cycle, probe: what every 12 s window runs */
  def spaceAfterOps: Int = 4
  def liveBytes(): Long = Fs.liveBytes(curated)

  def inputs(): Seq[(String, Any)] = Seq(
    "seed_docs" -> SeedDocs, "batch_docs" -> BatchDocs, "batches_available" -> Batches,
    "exact_copy_share" -> ExactShare, "near_dup_share" -> NearShare,
    "planted_exact_copies" -> exactOf.size, "planted_near_dups" -> nearOf.size,
    "probe_docs" -> ProbeDocs, "batches_staged" -> staged,
    "versions_at_end" -> (curated.latestVersion + 1),
    "index_bytes_at_end" -> Fs.bytes(idx),
    "curated_bytes_at_end" -> Fs.bytes(curatedPath))

  def layers(ops: Seq[OpRecord], t: Tracer): Map[String, Double] = {
    val writes = ops.filter(o => o.ok && o.kind == "write")
    val nw = math.max(1, writes.size).toDouble
    val wIdx = writes.map(_.index).toSet
    // the stream pins every job's call site to its start site; jobs of
    // executions nested in the micro-batch execution ran in the batch
    // function: Dedup admission and the curated append
    val opJobs = t.jobsOf(wIdx).filter(_.nested)
    val opJobIds = opJobs.map(_.id).toSet
    val opStages = t.stagesOf(wIdx).filter(s => opJobIds(s.job))
    val log = curatedPath.resolve("_graft_log")
    val commits = (curated.latestVersion - v0).toDouble
    val newFiles = storageFiles().filterNot(filesBefore)
    val newData = newFiles.filter(_.startsWith(curatedPath)).filterNot(_.startsWith(log))
    val docsIn = SeedDocs + staged * BatchDocs
    Map(
      "tables.commits_per_op" -> commits / math.max(1, ops.size),
      "tables.log_versions" -> (curated.latestVersion + 1).toDouble,
      "tables.log_bytes" -> Fs.bytes(log).toDouble,
      "tables.files_written_per_commit" -> newData.size / math.max(1.0, commits),
      "tables.bytes_written_per_commit" -> newData.map(Files.size).sum / math.max(1.0, commits),
      "tables.files_live" -> curated.snapshot().inputFiles.length.toDouble,
      "tables.files_on_disk" -> Fs.files(curatedPath).count(!_.startsWith(log)).toDouble,
      "operators.probe_ms" -> Main.median(ops.filter(o => o.ok && o.kind == "read").map(_.ms)),
      "operators.jobs_per_batch" -> opJobs.size / nw,
      "operators.job_ms_per_batch" -> opJobs.map(j => (j.end - j.start).toDouble).sum / nw,
      "operators.shuffle_bytes_per_batch" -> opStages.map(s => s.shRead + s.shWrite).sum / nw,
      "operators.index_files" -> Fs.files(idx).size.toDouble,
      "operators.index_bytes" -> Fs.bytes(idx).toDouble,
      "operators.drop_ratio" -> (1.0 - curated.snapshot().count().toDouble / docsIn),
      "streaming.cycle_ms" -> Main.median(t.callsOf("streaming").map(c => c.end - c.start)),
      "streaming.empty_cycle_ms" -> emptyCycleMs,
      "streaming.jobs_per_cycle" -> t.jobsOf(wIdx).size / nw,
      "streaming.checkpoint_files" -> Fs.files(cp).size.toDouble,
      "storage.bytes_written_per_user_byte" ->
        newFiles.map(Files.size).sum.toDouble / math.max(1L, writes.map(o => stagedBytes(o.index)).sum))
  }

  /** No doc_id repeats in the curated table; every fresh doc of a
    * staged batch was admitted; every planted exact copy and
    * near-duplicate of an admitted doc was dropped; nothing un-staged
    * was admitted; an extra cycle with no new files commits nothing;
    * every probe found each near-duplicate's base.
    */
  def check(ops: Seq[OpRecord]): Seq[String] = {
    val bad = mutable.ArrayBuffer[String]()
    val ids = curated.snapshot().select(col("doc_id")).collect().map(_.getLong(0))
    if (ids.distinct.length != ids.length)
      bad += s"curated table repeats ${ids.length - ids.distinct.length} doc_id(s)"
    val kept = ids.toSet
    val missed = freshIds.filter(id => batchOf(id) <= staged && !kept(id))
    if (missed.nonEmpty) bad += s"${missed.size} fresh docs of staged batches were not admitted, e.g. ${missed.min}"
    for ((what, planted) <- Seq("exact copies" -> exactOf, "near-duplicates" -> nearOf)) {
      val leaked = planted.filter { case (c, b) => batchOf(c) <= staged && kept(b) && kept(c) }
      if (leaked.nonEmpty) bad += s"${leaked.size} $what of admitted docs were admitted, e.g. ${leaked.head}"
    }
    val wrong = ids.filter(id => batchOf.get(id).forall(_ > staged))
    if (wrong.nonEmpty) bad += s"curated table holds ${wrong.length} docs never staged"
    val v = curated.latestVersion
    val s = Clock.ms()
    cycle()
    emptyCycleMs = Clock.ms() - s
    if (curated.latestVersion != v)
      bad += s"an empty replay cycle committed version ${curated.latestVersion} after $v"
    probeHits.foreach { case (i, hits) =>
      val missing = probes.filterNot { case (p, b) => hits((b, p.doc_id)) }
      if (missing.nonEmpty)
        bad += s"op $i probe missed ${missing.size} near-duplicate(s), e.g. ${missing.head._1.doc_id} of ${missing.head._2}"
    }
    bad.toSeq
  }

  override def close(): Unit = spark.catalog.clearCache()
}

object CurationStream {
  val SeedDocs = 400
  val BatchDocs = 50
  val Batches = 40
  val ExactShare = 0.1
  val NearShare = 0.1
  val ProbeDocs = 8
  val WarmBatches = 2
  val ProbeId0 = 1000000000L
}

object Workloads {
  val names: Seq[String] = Seq("dml_storm", "dashboard_reads", "curation_stream")
  def apply(name: String, spark: SparkSession, seed: Long, dir: Path): Workload = name match {
    case "dml_storm" => new DmlStorm(spark, seed, dir)
    case "dashboard_reads" => new DashboardReads(spark, seed, dir)
    case "curation_stream" => new CurationStream(spark, seed, dir)
  }
}
