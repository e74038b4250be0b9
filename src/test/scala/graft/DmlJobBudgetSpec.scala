package graft

import java.nio.file.{Files, Paths}

import graft.tables.{GraftTable, IncrementalMatView}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Counter budget for DML writes: the parquet write commands and the
  * Spark jobs of each DML op, on the four table layouts (plain,
  * partitioned, bucketed, column-mapped). Every op runs in a fixed
  * sequence on a small table, so the counts are deterministic. A
  * budget may only go down. The CDC files a commit records are
  * budgeted too: their count follows the write tasks that hold change
  * rows, so a partitioned table, whose DML touches one file per
  * partition, writes more of them than a plain one. The jobs of one
  * maintained-view refresh are budgeted the same way.
  */
class DmlJobBudgetSpec extends SparkSpec {
  import spark.implicits._

  /** (layout, op) -> (write commands, jobs, CDC files). Every layout writes a
    * DML op's data and change rows in one tagged job; the second
    * write command of replaceWhere is its incoming slice, and of the
    * merge-on-read ops their deletion vectors.
    */
  private val budgets: Map[(String, String), (Int, Int, Int)] = Map(
    ("plain", "delete") -> (1, 3, 1),
    ("plain", "update") -> (1, 3, 1),
    ("plain", "merge") -> (1, 17, 3),
    ("plain", "replaceWhere") -> (2, 5, 3),
    ("plain", "deleteMor") -> (2, 5, 1),
    ("plain", "updateMor") -> (2, 8, 2),
    ("plain", "mergeMor") -> (2, 26, 3),
    ("partitioned", "delete") -> (1, 3, 4),
    ("partitioned", "update") -> (1, 3, 1),
    ("partitioned", "merge") -> (1, 17, 5),
    ("partitioned", "replaceWhere") -> (2, 5, 6),
    ("partitioned", "deleteMor") -> (2, 5, 2),
    ("partitioned", "updateMor") -> (2, 8, 2),
    ("partitioned", "mergeMor") -> (2, 26, 3),
    ("partitioned", "overwritePartitions") -> (2, 8, 5),
    ("bucketed", "delete") -> (1, 4, 3),
    ("bucketed", "update") -> (1, 4, 1),
    ("bucketed", "merge") -> (1, 18, 2),
    ("bucketed", "replaceWhere") -> (2, 7, 6),
    ("bucketed", "deleteMor") -> (2, 5, 2),
    ("bucketed", "updateMor") -> (2, 9, 1),
    ("bucketed", "mergeMor") -> (2, 27, 2),
    ("mapped", "delete") -> (1, 3, 1),
    ("mapped", "update") -> (1, 3, 1),
    ("mapped", "merge") -> (1, 17, 3),
    ("mapped", "replaceWhere") -> (2, 5, 3),
    ("mapped", "deleteMor") -> (2, 5, 1),
    ("mapped", "updateMor") -> (2, 8, 2),
    ("mapped", "mergeMor") -> (2, 26, 3))

  /** view kind -> jobs of one refresh after an UPDATE of its source. */
  private val refreshBudgets: Map[String, Int] = Map(
    "sum" -> 3,
    "extremes" -> 10)

  private final class Counter extends SparkListener with QueryExecutionListener {
    @volatile var jobs = 0
    @volatile var writes = 0
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      if (qe.logical.exists(_.isInstanceOf[InsertIntoHadoopFsRelationCommand]))
        writes += 1
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def seed(v: String): DataFrame =
    spark.range(0, 200, 1, 2)
      .select($"id", ($"id" % 4).cast("string").as("k"), ($"id" * 1.0).as(v))

  private def rows(v: String, ids: Long*): DataFrame =
    ids.map(i => (i, (i % 4).toString, i * 2.0)).toDF("id", "k", v)

  private def cdcFiles(path: String, t: GraftTable): Int = {
    val c = Paths.get(path, "_graft_log", f"v${t.latestVersion}%08d.json")
    JsonMethods.parse(Files.readString(c)) \ "cdc" match {
      case JArray(fs) => fs.size
      case _ => 0
    }
  }

  /** (write commands, jobs) of `body`. */
  private def measure(body: => Any): (Int, Int) = {
    val counter = new Counter
    val sc = spark.sparkContext
    sc.addSparkListener(counter)
    spark.listenerManager.register(counter)
    try {
      ListenerBusDrain(sc)
      counter.jobs = 0; counter.writes = 0
      body
      ListenerBusDrain(sc)
      (counter.writes, counter.jobs)
    } finally {
      spark.listenerManager.unregister(counter)
      sc.removeSparkListener(counter)
    }
  }

  private def run(layout: String): Unit = {
    val path = Files.createTempDirectory(s"graft_budget_$layout")
      .resolve("t").toString
    val t = layout match {
      case "plain" | "mapped" => GraftTable.create(spark, path, seed("x"))
      case "partitioned" =>
        GraftTable.create(spark, path, seed("x"), partitionBy = Seq("k"))
      case "bucketed" => GraftTable.create(spark, path, seed("x"),
        bucketBy = Seq("id"), numBuckets = 4)
    }
    if (layout == "mapped") t.renameColumn("x", "y")
    val v = if (layout == "mapped") "y" else "x"
    val ops: Seq[(String, () => Any)] = Seq(
      "delete" -> (() => t.delete($"id" < 10)),
      "update" -> (() => t.update($"id" === 50, Map(v -> lit(-1.0)))),
      "merge" -> (() => t.merge(rows(v, 190L, 191L, 300L), "id")),
      "replaceWhere" -> (() => t.replaceWhere($"id" >= 100 && $"id" < 110,
        rows(v, 100L, 101L))),
      "deleteMor" -> (() => t.deleteMor($"id" === 120)),
      "updateMor" -> (() => t.updateMor($"id" === 121, Map(v -> lit(-2.0)))),
      "mergeMor" -> (() => t.mergeMor(rows(v, 122L, 400L), Seq("id")))) ++
      (if (layout == "partitioned")
        Seq("overwritePartitions" -> (() =>
          t.overwritePartitions(rows(v, 500L, 504L))))
      else Nil)
    ops.foreach { case (op, body) =>
      val (w, j) = measure(body())
      val c = cdcFiles(path, t)
      println(f"budget $layout%-12s $op%-20s writes=$w%d jobs=$j%d " +
        f"cdcFiles=$c%d")
      val (bw, bj, bc) = budgets((layout, op))
      assert(w <= bw, s"$layout $op: $w write commands, budget $bw")
      assert(j <= bj, s"$layout $op: $j jobs, budget $bj")
      assert(c <= bc, s"$layout $op: $c CDC files, budget $bc")
    }
  }

  Seq("plain", "partitioned", "bucketed", "mapped").foreach { layout =>
    test(s"DML write-job budget: $layout table") { run(layout) }
  }

  test("view refresh job budget: a sum-only and an extremes view") {
    val dir = Files.createTempDirectory("graft_budget_mv")
    val src = GraftTable.create(spark, dir.resolve("src").toString, seed("x"))
    val views = Seq(
      "sum" -> IncrementalMatView.create(spark, src,
        dir.resolve("sum").toString, Seq("k"), Seq("x"), extremes = false),
      "extremes" -> IncrementalMatView.create(spark, src,
        dir.resolve("ext").toString, Seq("k"), Seq("x"), extremes = true))
    src.update($"id" === 50, Map("x" -> lit(-1.0)))
    views.foreach { case (kind, view) =>
      val (_, j) = measure(view.refresh())
      println(f"budget view $kind%-10s refresh jobs=$j%d")
      assert(view.reflectedVersion === src.latestVersion)
      assert(j <= refreshBudgets(kind),
        s"$kind view refresh: $j jobs, budget ${refreshBudgets(kind)}")
    }
  }
}
