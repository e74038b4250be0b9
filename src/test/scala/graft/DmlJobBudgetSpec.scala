package graft

import java.nio.file.{Files, Paths}

import graft.tables.GraftTable
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
  * budget may only go down.
  */
class DmlJobBudgetSpec extends SparkSpec {
  import spark.implicits._

  /** (layout, op) -> (write commands, jobs). Every layout writes a
    * DML op's data and change rows in one tagged job; the second
    * write command of replaceWhere is its incoming slice, and of the
    * merge-on-read ops their deletion vectors.
    */
  private val budgets: Map[(String, String), (Int, Int)] = Map(
    ("plain", "delete") -> (1, 3),
    ("plain", "update") -> (1, 3),
    ("plain", "merge") -> (1, 17),
    ("plain", "replaceWhere") -> (2, 5),
    ("plain", "deleteMor") -> (2, 5),
    ("plain", "updateMor") -> (2, 8),
    ("plain", "mergeMor") -> (2, 26),
    ("partitioned", "delete") -> (1, 3),
    ("partitioned", "update") -> (1, 3),
    ("partitioned", "merge") -> (1, 17),
    ("partitioned", "replaceWhere") -> (2, 5),
    ("partitioned", "deleteMor") -> (2, 5),
    ("partitioned", "updateMor") -> (2, 8),
    ("partitioned", "mergeMor") -> (2, 26),
    ("partitioned", "overwritePartitions") -> (2, 8),
    ("bucketed", "delete") -> (1, 4),
    ("bucketed", "update") -> (1, 4),
    ("bucketed", "merge") -> (1, 18),
    ("bucketed", "replaceWhere") -> (2, 7),
    ("bucketed", "deleteMor") -> (2, 5),
    ("bucketed", "updateMor") -> (2, 9),
    ("bucketed", "mergeMor") -> (2, 27),
    ("mapped", "delete") -> (1, 3),
    ("mapped", "update") -> (1, 3),
    ("mapped", "merge") -> (1, 17),
    ("mapped", "replaceWhere") -> (2, 5),
    ("mapped", "deleteMor") -> (2, 5),
    ("mapped", "updateMor") -> (2, 8),
    ("mapped", "mergeMor") -> (2, 26))

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
    val counter = new Counter
    val sc = spark.sparkContext
    sc.addSparkListener(counter)
    spark.listenerManager.register(counter)
    try ops.foreach { case (op, body) =>
      ListenerBusDrain(sc)
      counter.jobs = 0; counter.writes = 0
      body()
      ListenerBusDrain(sc)
      val (w, j) = (counter.writes, counter.jobs)
      println(f"budget $layout%-12s $op%-20s writes=$w%d jobs=$j%d " +
        f"cdcFiles=${cdcFiles(path, t)}%d")
      val (bw, bj) = budgets((layout, op))
      assert(w <= bw, s"$layout $op: $w write commands, budget $bw")
      assert(j <= bj, s"$layout $op: $j jobs, budget $bj")
    } finally {
      spark.listenerManager.unregister(counter)
      sc.removeSparkListener(counter)
    }
  }

  Seq("plain", "partitioned", "bucketed", "mapped").foreach { layout =>
    test(s"DML write-job budget: $layout table") { run(layout) }
  }
}
