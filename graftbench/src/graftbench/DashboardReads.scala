package graftbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import graft.tables.GraftTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.collection.mutable

/** Dashboard SQL over a Z-ordered `lineitem` and `orders`, both read as
  * `graft-table` catalog tables: point lookups, key- and date-range aggregates, a
  * full group-by, a join and VERSION AS OF. One op in 25 appends a few
  * rows and refreshes the table, invalidating cached
  * snapshot and file-index state the way a live table does. The
  * file index's stats pruning, Spark planning and the scan do the work;
  * the log stays short.
  */
final class DashboardReads(spark: SparkSession, seed: Long, dir: Path) extends Workload {
  import DashboardReads._

  private val rng = new SplittableRandom(seed * 1000003L + 29L)
  private val linePath = dir.resolve("lineitem")
  private val ordersPath = dir.resolve("orders")
  private var line: GraftTable = _
  private var orders: GraftTable = _
  private var deck: IndexedSeq[Spec] = _
  private var vz = 0L
  private var filesBefore = Set.empty[Path]
  private val results = mutable.Map[Int, (String, Int, Seq[Row])]()

  def setup(): Unit = {
    deck = (0 until DeckCycles).flatMap(_ => cycle())
    line = GraftTable.create(spark, linePath.toString, seedLine())
    line.clusterByZOrder(ZFiles, "l_orderkey", "l_shipdate")
    orders = GraftTable.create(spark, ordersPath.toString, seedOrders())
    vz = line.latestVersion
    register()
    filesBefore = (Fs.files(linePath) ++ Fs.files(ordersPath)).toSet
  }

  private def seedLine() = Gen.lineitem(spark, seed, LineRows, Orders, SeedFiles)
  private def seedOrders() = Gen.orders(spark, seed, Orders, SeedFiles)

  /** Each query shape once, at the latest version. */
  def warmUp(): Unit =
    cycle().collect { case q: Query => q }.distinctBy(_.getClass)
      .foreach(q => spark.sql(q.sql(vz)).collect())

  /** Catalog tables over the graft tables, under the names the queries
    * use; each query resolves the latest version, and VERSION AS OF
    * goes through Graft's SQL surface.
    */
  private def register(): Unit =
    Seq("lineitem" -> linePath, "orders" -> ordersPath).foreach { case (name, path) =>
      spark.sql(s"DROP TABLE IF EXISTS $name")
      spark.sql(s"CREATE TABLE $name USING `graft-table` OPTIONS (path '$path')")
    }

  /** One cycle of 25 ops in a fixed order of kinds; the seed draws the
    * keys, dates and appended rows.
    */
  private def cycle(): Seq[Spec] = {
    def point() = Point(2L * (1 + rng.nextLong(Orders)))
    def keyRange() = { val lo = 2L * (1 + rng.nextLong(Orders - 1000)); KeyRange(lo, lo + 1000 + rng.nextInt(1000)) }
    def dateRange() = DateRange(1 + rng.nextInt(2400), 7 + rng.nextInt(30))
    def join() = Join(1 + rng.nextInt(2400), 10 + rng.nextInt(20))
    def asOf() = { val lo = 2L * (1 + rng.nextLong(Orders - 1000)); AsOf(1 + rng.nextInt(4), lo, lo + 2000) }
    Seq(point(), keyRange(), dateRange(), point(), FullGroupBy, point(), keyRange(), join(),
      point(), asOf(), dateRange(), point(), keyRange(),
      Append((0 until AppendRows).map(_ => Gen.line(rng, Orders))),
      point(), dateRange(), asOf(), point(), keyRange(), FullGroupBy, point(), join(),
      dateRange(), keyRange(), asOf())
  }

  def op(i: Int): Op = {
    require(i < deck.size, s"op deck of ${deck.size} exhausted")
    deck(i) match {
      case Append(rows) => Op("write", "append", () => {
        Spans.call("tables", "append")(line.append(spark.createDataFrame(rows)))
        spark.catalog.refreshTable("lineitem")
      })
      case q: Query => Op("read", q.name, () => {
        val v = q match {
          case AsOf(back, _, _) => math.max(vz, line.latestVersion - back)
          case _ => line.latestVersion
        }
        val rows = Spans.call("spark", q.name)(spark.sql(q.sql(v)).collect()).toSeq
        results(i) = (q.plainSql, (v - vz).toInt, rows)
      })
    }
  }

  def storageRoots: Seq[Path] = Seq(linePath, ordersPath)
  /** one cycle of the op sequence */
  def spaceAfterOps: Int = 25
  def liveBytes(): Long = Fs.liveBytes(line) + Fs.liveBytes(orders)

  def inputs(): Seq[(String, Any)] = Seq(
    "lineitem_rows" -> LineRows, "orders_rows" -> Orders,
    "lineitem_files_after_zorder" -> ZFiles,
    "op_cycle" -> ("8 point, 5 key range, 4 date range, 2 full group-by, 2 join, " +
      s"3 version as of, 1 append of $AppendRows rows"),
    "versions_at_end" -> (line.latestVersion + 1),
    "table_bytes_at_end" -> (Fs.bytes(linePath) + Fs.bytes(ordersPath)))

  def layers(ops: Seq[OpRecord], t: Tracer): Map[String, Double] = {
    val log = linePath.resolve("_graft_log")
    val commits = (line.latestVersion - vz).toDouble
    val liveLine = line.snapshot().inputFiles.length
    val liveOrders = orders.snapshot().inputFiles.length
    val newFiles = (Fs.files(linePath) ++ Fs.files(ordersPath)).filterNot(filesBefore)
      .filterNot(_.startsWith(log))
    val readOps = ops.filter(o => o.ok && o.kind == "read")
    val liveRead = readOps.map(o => liveLine + (if (o.name == "join") liveOrders else 0)).sum
    val userBytes = ops.filter(o => o.ok && o.kind == "write")
      .map(_ => AppendRows * LineBytes).sum
    Map(
      "tables.commits_per_op" -> commits / math.max(1, ops.size),
      "tables.log_versions" -> (line.latestVersion + 1).toDouble,
      "tables.log_bytes" -> Fs.bytes(log).toDouble,
      "tables.files_written_per_commit" -> newFiles.size / math.max(1.0, commits),
      "tables.bytes_written_per_commit" -> newFiles.map(Files.size).sum / math.max(1.0, commits),
      "tables.files_live" -> (liveLine + liveOrders).toDouble,
      "tables.files_on_disk" -> Fs.files(linePath).count(!_.startsWith(log)).toDouble,
      "tables.files_read_ratio" -> readOps.map(o => t.filesRead(o.index)).sum / math.max(1.0, liveRead),
      "tables.rows_read_per_row_returned" -> readOps.map(o => t.rowsRead(o.index)).sum.toDouble /
        math.max(1, readOps.map(o => results.get(o.index).map(_._3.size).getOrElse(0)).sum),
      "storage.bytes_written_per_user_byte" -> newFiles.map(Files.size).sum.toDouble / math.max(1L, userBytes))
  }

  /** Re-runs a sample of the window's queries with plain Spark over the
    * generated seed rows plus the rows appended before the version the
    * query read, and compares the results. Temp views of the same names
    * shadow the catalog tables while it runs.
    */
  def check(ops: Seq[OpRecord]): Seq[String] = {
    val bad = mutable.ArrayBuffer[String]()
    val appended = ops.filter(o => o.ok && o.kind == "write").map(o => deck(o.index))
      .collect { case Append(rows) => rows }
    if (line.latestVersion - vz != appended.size)
      bad += s"lineitem is at version ${line.latestVersion}, expected ${vz + appended.size}"
    val reads = ops.filter(o => o.ok && o.kind == "read")
    val sample = reads.indices.filter(_ % math.max(1, reads.size / CheckedQueries) == 0).map(reads)
    seedOrders().createOrReplaceTempView("orders")
    sample.groupBy(o => results(o.index)._2).toSeq.sortBy(_._1).foreach { case (k, os) =>
      val extra = appended.take(k).flatten
      val plain = seedLine()
      (if (extra.isEmpty) plain else plain.unionByName(spark.createDataFrame(extra)))
        .createOrReplaceTempView("lineitem")
      os.foreach { o =>
        val (sql, _, got) = results(o.index)
        val want = spark.sql(sql).collect().toSeq
        if (!sameRows(got, want)) bad += s"op ${o.index} [$sql] returned ${got.take(3)}, plain Spark gives ${want.take(3)}"
      }
    }
    Seq("lineitem", "orders").foreach(spark.catalog.dropTempView)
    bad.toSeq
  }

  override def close(): Unit = spark.catalog.clearCache()
}

object DashboardReads {
  val LineRows = 600000L
  val Orders = 150000L
  val SeedFiles = 8
  val ZFiles = 64
  val AppendRows = 200
  /** Logical bytes of one LineRow: eight numbers, an int, two flags. */
  val LineBytes = 70L
  val DeckCycles = 40
  val CheckedQueries = 12

  private def day(d: Int): String =
    java.time.LocalDate.ofEpochDay(Gen.Day0 / 86400 + d).toString

  private def key(r: Row): String = r.toSeq.map {
    case d: Double => f"$d%.4f"
    case x => String.valueOf(x)
  }.mkString("|")

  /** Same rows in any order; doubles agree to a relative 1e-9, since
    * sums over a different file layout add in a different order.
    */
  def sameRows(a: Seq[Row], b: Seq[Row]): Boolean =
    a.size == b.size && a.sortBy(key).zip(b.sortBy(key)).forall { case (x, y) =>
      x.size == y.size && x.toSeq.zip(y.toSeq).forall {
        case (p: Double, q: Double) => math.abs(p - q) <= 1e-9 * math.max(1.0, math.abs(q))
        case (p, q) => p == q
      }
    }

  sealed trait Spec
  final case class Append(rows: Seq[LineRow]) extends Spec
  sealed trait Query extends Spec {
    def name: String
    /** The query against the graft-table views at version `v`. */
    def sql(v: Long): String = plainSql
    /** The same query for views without time travel. */
    def plainSql: String
  }
  final case class Point(k: Long) extends Query {
    def name = "point"
    def plainSql = "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate " +
      s"FROM lineitem WHERE l_orderkey = $k"
  }
  final case class KeyRange(lo: Long, hi: Long) extends Query {
    def name = "key_range"
    def plainSql = "SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS qty, " +
      s"sum(l_extendedprice) AS price FROM lineitem WHERE l_orderkey BETWEEN $lo AND $hi " +
      "GROUP BY l_returnflag"
  }
  final case class DateRange(from: Int, days: Int) extends Query {
    def name = "date_range"
    def plainSql = "SELECT l_linestatus, count(*) AS n, " +
      "sum(l_extendedprice * (1 - l_discount)) AS revenue FROM lineitem " +
      s"WHERE l_shipdate >= TIMESTAMP '${day(from)} 00:00:00' " +
      s"AND l_shipdate < TIMESTAMP '${day(from + days)} 00:00:00' GROUP BY l_linestatus"
  }
  case object FullGroupBy extends Query {
    def name = "full_group_by"
    def plainSql = "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty, " +
      "avg(l_discount) AS disc FROM lineitem GROUP BY l_returnflag, l_linestatus"
  }
  final case class Join(from: Int, days: Int) extends Query {
    def name = "join"
    def plainSql = "SELECT o_orderpriority, count(*) AS n, sum(l_extendedprice) AS price " +
      "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
      s"WHERE o_orderdate >= TIMESTAMP '${day(from)} 00:00:00' " +
      s"AND o_orderdate < TIMESTAMP '${day(from + days)} 00:00:00' GROUP BY o_orderpriority"
  }
  final case class AsOf(back: Int, lo: Long, hi: Long) extends Query {
    def name = "version_as_of"
    override def sql(v: Long) = "SELECT count(*) AS n, sum(l_quantity) AS qty " +
      s"FROM lineitem VERSION AS OF $v WHERE l_orderkey BETWEEN $lo AND $hi"
    def plainSql = "SELECT count(*) AS n, sum(l_quantity) AS qty " +
      s"FROM lineitem WHERE l_orderkey BETWEEN $lo AND $hi"
  }
}
