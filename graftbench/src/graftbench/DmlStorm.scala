package graftbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import graft.tables.{GraftTable, IncrementalMatView}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Small DML against one long-lived table: MERGE upserts with hot keys,
  * narrow UPDATE/DELETE, deletion-vector DML, appends, periodic compact
  * and a maintained view refresh; about one op in four is a read. Data scans
  * are tiny, so per-op fixed cost (the commit protocol, Spark actions)
  * and the growing log decide the latency.
  */
final class DmlStorm(spark: SparkSession, seed: Long, dir: Path) extends Workload {
  import DmlStorm._

  private val rng = new SplittableRandom(seed * 1000003L + 17L)
  private val tablePath = dir.resolve("orders")
  private val mvPath = dir.resolve("orders_by_status")
  private var table: GraftTable = _
  private var mv: IncrementalMatView = _
  private var deck: IndexedSeq[Spec] = _
  private var v0 = 0L
  private var filesBefore = Set.empty[Path]
  // results of the window's ops, checked after it
  private val versionAfter = mutable.Map[Int, Long]()
  private val lookups = mutable.Map[Int, Seq[OrderRow]]()
  private val asOfCounts = mutable.Map[Int, (Long, Long)]()
  private val histories = mutable.Map[Int, (Int, Long, Long)]()
  private val feedTypes = mutable.Map[Int, Set[String]]()
  private val returned = mutable.Map[Int, Long]()

  def setup(): Unit = {
    deck = (0 until DeckCycles).flatMap(c => cycle(c))
    table = GraftTable.create(spark, tablePath.toString, seedRows())
    // the log of a long-lived table: metadata-only commits, so every op
    // lists and resolves hundreds of versions
    (1 to LogFill).foreach(i => table.setProperties(Map("graftbench.fill" -> i.toString)))
    mv = IncrementalMatView.create(spark, table, mvPath.toString,
      Seq("o_orderstatus"), Seq("o_totalprice"), extremes = false)
    v0 = table.latestVersion
    filesBefore = (Fs.files(tablePath) ++ Fs.files(mvPath)).toSet
  }

  private def seedRows() = Gen.orders(spark, seed, Rows, SeedFiles)

  /** Every op kind against a small throwaway table and view. */
  def warmUp(): Unit = {
    val r = new SplittableRandom(seed)
    val path = dir.resolve("warm")
    val warm = GraftTable.create(spark, path.resolve("orders").toString,
      Gen.orders(spark, seed, 2000, 2))
    val warmMv = IncrementalMatView.create(spark, warm, path.resolve("mv").toString,
      Seq("o_orderstatus"), Seq("o_totalprice"), extremes = false)
    def src(keys: Seq[Long]) = spark.createDataFrame(keys.map(Gen.order(r, _)))
    warm.update(col("o_orderkey").between(10, 40),
      Map("o_totalprice" -> (col("o_totalprice") + lit(1.0)), "o_orderstatus" -> lit("U")))
    warm.merge(src(Seq(2L, 4L, 5L)), "o_orderkey")
    spark.read.format("graft-table").load(warm.root.toString)
      .where(col("o_orderkey") === 2L).collect()
    warm.delete(col("o_orderkey").between(50, 80))
    warm.deleteMor(col("o_orderkey").between(90, 120))
    warm.mergeMor(src(Seq(6L, 7L)), Seq("o_orderkey"))
    warm.compact(2)
    warm.append(src(Seq(100001L)))
    warm.snapshotAt(1).count()
    warm.history(10).collect()
    warmMv.refresh()
    warm.changeFeed(0).groupBy("_change_type").count().collect()
    Fs.delete(path)
  }

  /** One cycle of 26 ops, 20 writes and 6 reads, in a fixed order of
    * kinds so that a window's prefix has the same mix whatever the seed;
    * the seed draws keys, ranges and values. Every kind runs within the
    * first 16 ops, which every window runs. MERGE, the slowest kind, is
    * two of the first ten writes and the last three ops, so the write
    * median falls among UPDATE and DELETE, and the op that runs at the
    * deadline is a short one. The six reads come first: three point
    * lookups, history (faster than a lookup), a version read and a
    * change feed (both slower), so the read median is the mean of two
    * lookups and moves less than any single op. The DV ops are
    * followed at once by compact, so no point lookup sees a deletion
    * vector on the file-granular `graft-table` scan, which refuses them.
    */
  private def cycle(c: Int): Seq[Spec] = {
    def merge() = Merge(mergeRows(), mor = false)
    def update() = { val lo = rangeLo(); Update(lo, lo + RangeWidth, (1 + rng.nextInt(999)) / 100.0) }
    def delete(mor: Boolean = false) = { val lo = rangeLo(); Delete(lo, lo + RangeWidth, mor) }
    def append(k: Int) = Append((0 until AppendRows).map(i => Gen.order(rng, AppendKey0 + (2 * c + k) * AppendRows + i)))
    def lookup() = Lookup(if (rng.nextInt(2) == 0) hotKey() else anyKey())
    Seq(update(), merge(), lookup(), delete(), delete(mor = true), Merge(mergeRows(), mor = true),
      Compact, History(10), append(0), Refresh, lookup(), update(), delete(),
      AsOf(1 + rng.nextInt(20)), lookup(), Feed(FeedVersions), update(), delete(), append(1),
      update(), delete(), update(), delete(), merge(), merge(), merge())
  }

  private def hotKey(): Long = 2L * (1 + rng.nextInt(HotKeys))
  private def anyKey(): Long = 2L * (1 + rng.nextLong(Rows))
  private def rangeLo(): Long = 2L * (1 + rng.nextLong(Rows - RangeWidth / 2))

  /** Distinct keys: 60% existing, a third of them from the hot keys and
    * the rest from one window of `MergeWindow` keys, and 40% odd keys in
    * that window that no seed row has. Seed files hold contiguous key
    * ranges, so a MERGE touches the hot file and one or two others.
    */
  private def mergeRows(): Seq[OrderRow] = {
    val lo = 2L * rng.nextLong(Rows - MergeWindow / 2)
    val keys = mutable.LinkedHashSet[Long]()
    while (keys.size < MergeRows * 2 / 10) keys += hotKey()
    while (keys.size < MergeRows * 6 / 10) keys += lo + 2L * (1 + rng.nextLong(MergeWindow / 2))
    while (keys.size < MergeRows) keys += lo + 2L * rng.nextLong(MergeWindow / 2) + 1
    keys.toSeq.map(Gen.order(rng, _))
  }

  def op(i: Int): Op = {
    require(i < deck.size, s"op deck of ${deck.size} exhausted")
    def write(name: String)(body: => Long): Op =
      Op("write", name, () => versionAfter(i) = Spans.call("tables", name)(body))
    def read(name: String)(body: => Unit): Op =
      Op("read", name, () => Spans.call("tables", name)(body))
    deck(i) match {
      case Merge(rows, false) => write("merge")(table.merge(spark.createDataFrame(rows), "o_orderkey"))
      case Merge(rows, true) => write("merge_mor")(table.mergeMor(spark.createDataFrame(rows), Seq("o_orderkey")))
      case Update(lo, hi, d) => write("update")(table.update(col("o_orderkey").between(lo, hi),
        Map("o_totalprice" -> (col("o_totalprice") + lit(d)), "o_orderstatus" -> lit("U"))))
      case Delete(lo, hi, false) => write("delete")(table.delete(col("o_orderkey").between(lo, hi)))
      case Delete(lo, hi, true) => write("delete_mor")(table.deleteMor(col("o_orderkey").between(lo, hi)))
      case Append(rows) => write("append")(table.append(spark.createDataFrame(rows)))
      case Compact => write("compact")(table.compact(SeedFiles))
      case Refresh => write("mv_refresh") { mv.refresh(); table.latestVersion }
      case Lookup(k) => read("point_lookup") {
        val rows = spark.read.format("graft-table").load(tablePath.toString)
          .where(col("o_orderkey") === k).select(OrderRow.columns.map(col): _*)
          .collect().map(OrderRow.of).toSeq
        lookups(i) = rows; returned(i) = rows.size
      }
      case AsOf(back) => read("version_as_of") {
        val v = math.max(v0, table.latestVersion - back)
        asOfCounts(i) = (v, table.snapshotAt(v).count()); returned(i) = 1
      }
      case History(limit) => read("history") {
        val latest = table.latestVersion
        val h = table.history(limit).collect()
        histories(i) = (h.length, h.head.getLong(0), latest); returned(i) = h.length
      }
      case Feed(back) => read("change_feed") {
        val from = math.max(v0, table.latestVersion - back)
        val types = table.changeFeed(from).groupBy("_change_type").count().collect()
        feedTypes(i) = types.map(_.getString(0)).toSet; returned(i) = types.length
      }
    }
  }

  def storageRoots: Seq[Path] = Seq(tablePath, mvPath)
  def spaceAfterOps: Int = SpaceAfterOps
  def liveBytes(): Long =
    Fs.liveBytes(table) + Fs.liveBytes(GraftTable.load(spark, mvPath.toString))

  def inputs(): Seq[(String, Any)] = Seq(
    "orders_rows" -> Rows, "seed_files" -> SeedFiles,
    "merge_rows" -> (s"$MergeRows (20% from $HotKeys hot keys, 40% existing and 40% new " +
      s"keys in a window of $MergeWindow)"),
    "update_delete_width" -> s"${RangeWidth / 2} keys", "append_rows" -> AppendRows,
    "op_cycle" -> ("5 update, 5 delete, 4 merge, 2 append, mv refresh, delete_mor, " +
      "merge_mor, compact; 3 point lookups, version as of, history, change feed"),
    "log_fill_commits" -> LogFill, "versions_at_end" -> (table.latestVersion + 1),
    "table_bytes_at_end" -> Fs.bytes(tablePath))

  def layers(ops: Seq[OpRecord], t: Tracer): Map[String, Double] = {
    val latest = table.latestVersion
    val commits = (latest - v0).toDouble
    val log = tablePath.resolve("_graft_log")
    val dataFiles = Fs.files(tablePath).filterNot(_.startsWith(log))
    val live = table.snapshot().inputFiles.length.toDouble
    val newFiles = (Fs.files(tablePath) ++ Fs.files(mvPath)).filterNot(filesBefore)
    val readOps = ops.filter(o => o.ok && o.kind == "read")
    val userBytes = ops.filter(_.ok).map(o => deck(o.index) match {
      case Merge(rows, _) => rows.map(_.bytes).sum
      case Append(rows) => rows.map(_.bytes).sum
      case _ => 0L
    }).sum
    Map(
      "tables.commits_per_op" -> commits / math.max(1, ops.size),
      "tables.log_versions" -> (latest + 1).toDouble,
      "tables.log_bytes" -> Fs.bytes(log).toDouble,
      "tables.files_written_per_commit" -> newFiles.count(!_.startsWith(log)) / math.max(1.0, commits),
      "tables.bytes_written_per_commit" ->
        newFiles.filterNot(_.startsWith(log)).map(Files.size).sum / math.max(1.0, commits),
      "tables.files_live" -> live,
      "tables.files_on_disk" -> dataFiles.size.toDouble,
      "tables.files_read_ratio" ->
        readOps.map(o => t.filesRead(o.index)).sum / math.max(1.0, readOps.size * live),
      "tables.rows_read_per_row_returned" ->
        readOps.map(o => t.rowsRead(o.index)).sum.toDouble /
          math.max(1L, readOps.map(o => returned.getOrElse(o.index, 0L)).sum),
      "tables.mv_refresh_ms" -> Main.median(ops.filter(o => o.ok && o.name == "mv_refresh").map(_.ms)),
      "storage.bytes_written_per_user_byte" ->
        newFiles.map(Files.size).sum.toDouble / math.max(1L, userBytes))
  }

  /** Replays the window's ops over the seed rows on the driver and
    * compares the final snapshot row for row; checks every read's
    * result against the replayed state at the time it ran, and a
    * mid-window version read in full.
    */
  def check(ops: Seq[OpRecord]): Seq[String] = {
    val bad = mutable.ArrayBuffer[String]()
    val state = mutable.HashMap[Long, OrderRow]()
    seedRows().collect().foreach { r => val o = OrderRow.of(r); state(o.o_orderkey) = o }
    val countAt = mutable.Map[Long, Long](v0 -> state.size.toLong)
    var latest = v0
    val writes = ops.filter(o => o.ok && o.kind == "write")
    val mid = if (writes.isEmpty) -1 else writes(writes.size / 2).index
    var midState: Map[Long, OrderRow] = Map.empty
    ops.filter(_.ok).foreach { o =>
      deck(o.index) match {
        case Merge(rows, _) => rows.foreach(r => state(r.o_orderkey) = r)
        case Append(rows) => rows.foreach(r => state(r.o_orderkey) = r)
        case Update(lo, hi, d) => state.keys.filter(k => k >= lo && k <= hi).toList.foreach { k =>
          val r = state(k); state(k) = r.copy(o_totalprice = r.o_totalprice + d, o_orderstatus = "U")
        }
        case Delete(lo, hi, _) => state.keys.filter(k => k >= lo && k <= hi).toList.foreach(state.remove)
        case Compact | Refresh =>
        case Lookup(k) =>
          if (lookups(o.index) != state.get(k).toSeq)
            bad += s"op ${o.index} point lookup of $k returned ${lookups(o.index)}, expected ${state.get(k)}"
        case AsOf(_) =>
          val (v, n) = asOfCounts(o.index)
          if (!countAt.get(v).contains(n))
            bad += s"op ${o.index} read $n rows at version $v, expected ${countAt.get(v)}"
        case History(limit) =>
          val (n, top, at) = histories(o.index)
          if (top != at || at != latest || n != math.min(limit.toLong, latest + 1))
            bad += s"op ${o.index} history($limit) gave $n rows topped by $top at version $latest"
        case Feed(_) =>
          val unknown = feedTypes(o.index) -- ChangeTypes
          if (unknown.nonEmpty) bad += s"op ${o.index} change feed has change types $unknown"
      }
      versionAfter.get(o.index).foreach { v => latest = v; countAt(v) = state.size.toLong }
      if (o.index == mid) midState = state.toMap
    }
    def compare(what: String, got: Seq[OrderRow], want: Map[Long, OrderRow]): Unit = {
      val g = got.sortBy(_.o_orderkey)
      val w = want.values.toSeq.sortBy(_.o_orderkey)
      if (g.size != w.size) bad += s"$what has ${g.size} rows, replay has ${w.size}"
      else g.zip(w).find { case (a, b) => a != b }
        .foreach { case (a, b) => bad += s"$what row $a differs from replay $b" }
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(OrderRow.columns.map(col): _*).collect().map(OrderRow.of).toSeq
    if (table.latestVersion != latest)
      bad += s"table is at version ${table.latestVersion}, the ops returned $latest"
    compare("final snapshot", rows(table.snapshot()), state.toMap)
    if (mid >= 0) compare(s"version ${versionAfter(mid)} (versionAsOf)",
      rows(table.snapshotAt(versionAfter(mid))), midState)
    bad.toSeq
  }

  override def close(): Unit = spark.catalog.clearCache()
}

object DmlStorm {
  val Rows = 150000L
  val SeedFiles = 8
  val HotKeys = 2000
  val MergeRows = 200
  val MergeWindow = 4000L
  val RangeWidth = 800L
  val AppendRows = 300
  val AppendKey0 = 10000000L
  val DeckCycles = 40
  val LogFill = 300
  val FeedVersions = 3
  val SpaceAfterOps = 16
  val ChangeTypes = Set("insert", "delete", "update_preimage", "update_postimage")

  sealed trait Spec
  final case class Merge(rows: Seq[OrderRow], mor: Boolean) extends Spec
  final case class Update(lo: Long, hi: Long, delta: Double) extends Spec
  final case class Delete(lo: Long, hi: Long, mor: Boolean) extends Spec
  final case class Append(rows: Seq[OrderRow]) extends Spec
  case object Compact extends Spec
  case object Refresh extends Spec
  final case class Lookup(key: Long) extends Spec
  final case class AsOf(back: Int) extends Spec
  final case class History(limit: Int) extends Spec
  final case class Feed(back: Int) extends Spec
}
