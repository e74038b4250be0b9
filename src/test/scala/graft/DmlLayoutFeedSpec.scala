package graft

import java.nio.file.{Files, Paths}

import graft.tables.GraftTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.functions._

/** Write-time change feed of every DML shape on each table layout the
  * tagged one-pass write serves: bucketed, column-mapped, and
  * partitioned with partition values that need path escaping. Also
  * the names no table may hold, because the DML paths add them.
  */
class DmlLayoutFeedSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_layout_feed_").resolve("t").toString

  private def seed(v: String): DataFrame =
    spark.range(0, 40, 1, 2).select($"id", ($"id" * 1.0).as(v))

  /** The change rows commit `ver` wrote, as (id, value, change type). */
  private def feedOf(t: GraftTable, ver: Long, v: String): Set[(Long, Double, String)] =
    t.changeFeed(ver - 1, ver).select($"id", col(v), $"_change_type")
      .as[(Long, Double, String)].collect().toSet

  /** Runs every DML shape once on `t` (ids 0..39, value = id) and
    * checks each commit's feed and the final snapshot.
    */
  private def checkEveryDml(t: GraftTable, v: String): Unit = {
    def step(op: String)(body: => Any)(expected: (Long, Double, String)*): Unit = {
      body
      assert(feedOf(t, t.latestVersion, v) === expected.toSet, s"feed of $op")
    }
    def src(rows: (Long, Double)*): DataFrame = rows.toDF("id", v)
    step("delete")(t.delete($"id" < 2))(
      (0L, 0.0, "delete"), (1L, 1.0, "delete"))
    step("update")(t.update($"id" === 10, Map(v -> lit(-1.0))))(
      (10L, 10.0, "update_preimage"), (10L, -1.0, "update_postimage"))
    step("merge")(t.merge(src((11L, 22.0), (100L, 200.0)), "id"))(
      (11L, 11.0, "update_preimage"), (11L, 22.0, "update_postimage"),
      (100L, 200.0, "insert"))
    step("replaceWhere")(
      t.replaceWhere($"id" >= 20 && $"id" < 23, src((20L, 40.0))))(
      (20L, 20.0, "delete"), (21L, 21.0, "delete"), (22L, 22.0, "delete"),
      (20L, 40.0, "insert"))
    step("deleteMor")(t.deleteMor($"id" === 30))((30L, 30.0, "delete"))
    step("updateMor")(t.updateMor($"id" === 31, Map(v -> lit(-2.0))))(
      (31L, 31.0, "update_preimage"), (31L, -2.0, "update_postimage"))
    step("mergeMor")(t.mergeMor(src((32L, 64.0), (101L, 202.0)), Seq("id")))(
      (32L, 32.0, "update_preimage"), (32L, 64.0, "update_postimage"),
      (101L, 202.0, "insert"))
    val expected = ((0L until 40L).map(i => i -> i.toDouble).toMap --
      Seq(0L, 1L, 21L, 22L, 30L) ++ Map(10L -> -1.0, 11L -> 22.0,
        100L -> 200.0, 20L -> 40.0, 31L -> -2.0, 32L -> 64.0, 101L -> 202.0))
    assert(t.snapshot().select($"id", col(v)).as[(Long, Double)].collect()
      .toMap === expected)
  }

  test("bucketed table: change feed of every DML shape") {
    checkEveryDml(GraftTable.create(spark, tmp(), seed("x"),
      bucketBy = Seq("id"), numBuckets = 4), "x")
  }

  test("bucketed table: rewritten files keep the bucket id of their rows " +
      "and same-bucketed tables still join without an exchange") {
    val pa = tmp()
    val a = GraftTable.create(spark, pa, seed("x"),
      bucketBy = Seq("id"), numBuckets = 4)
    a.delete($"id" === 3)
    a.update($"id" === 4, Map("x" -> lit(-1.0)))
    a.merge(Seq((5L, 9.0), (77L, 7.0)).toDF("id", "x"), "id")
    a.replaceWhere($"id" === 6, Seq((6L, 6.5)).toDF("id", "x"))
    // Spark's bucket id is pmod(murmur3(cols), n) — the SQL hash()
    val rows = a.snapshot()
      .select($"id", pmod(hash($"id"), lit(4)).as("b"),
        col("_metadata.file_path").as("f"))
      .as[(Long, Int, String)].collect()
    rows.foreach { case (id, b, f) =>
      assert(BucketingUtils.getBucketId(f.split('/').last) === Some(b),
        s"id $id in $f")
    }
    val pb = tmp()
    GraftTable.create(spark, pb,
      spark.range(0, 100).select($"id", ($"id" * 3).as("y")),
      bucketBy = Seq("id"), numBuckets = 4)
    val conf = spark.conf
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val j = spark.read.format("graft-table").load(pa)
        .join(spark.read.format("graft-table").load(pb), "id")
      assert(j.count() === 40) // ids 0..39 less 3, plus 77
      val exchanges = j.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty, s"${exchanges.size} exchange(s) planned")
    } finally {
      conf.unset("spark.sql.autoBroadcastJoinThreshold")
      conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    }
  }

  test("column-mapped table: change feed of every DML shape, CDC files " +
      "under physical names") {
    val path = tmp()
    val t = GraftTable.create(spark, path, seed("x"))
    t.renameColumn("x", "y")
    checkEveryDml(t, "y")
    val cdc = Files.list(Paths.get(path, "cdc")).iterator()
    while (cdc.hasNext) {
      val cols = spark.read.parquet(cdc.next().toString).columns.toSeq
      assert(cols.contains("x") && !cols.contains("y"), cols)
    }
  }

  test("a rename inside the feed window carries values through CDC " +
      "files written on both sides of it") {
    val t = GraftTable.create(spark, tmp(), seed("x"))
    t.delete($"id" === 0)                       // v1, before any rename
    t.renameColumn("x", "y")                    // v2
    t.update($"id" === 5, Map("y" -> lit(-1.0))) // v3
    t.renameColumn("y", "z")                    // v4
    t.merge(Seq((6L, 12.0)).toDF("id", "z"), "id") // v5
    t.deleteMor($"id" === 7)                    // v6
    val feed = t.changeFeed(0).select($"id", $"z", $"_change_type")
      .as[(Long, Double, String)].collect().toSet
    assert(feed === Set((0L, 0.0, "delete"),
      (5L, 5.0, "update_preimage"), (5L, -1.0, "update_postimage"),
      (6L, 6.0, "update_preimage"), (6L, 12.0, "update_postimage"),
      (7L, 7.0, "delete")))
  }

  test("partitioned table: change feed of DELETE, UPDATE, MERGE and " +
      "replaceWhere over partition values holding '=', ' ' and '/'") {
    val ks = Seq("a=b", "c d", "e/f", "g")
    val path = tmp()
    val t = GraftTable.create(spark, path,
      (0L until 40L).map(i => (i, ks((i % 4).toInt), i * 1.0))
        .toDF("id", "k", "x"), partitionBy = Seq("k"))
    def feed(): Set[(Long, String, Double, String)] =
      t.changeFeed(t.latestVersion - 1).select("id", "k", "x", "_change_type")
        .as[(Long, String, Double, String)].collect().toSet
    t.delete($"id" === 0)
    assert(feed() === Set((0L, "a=b", 0.0, "delete")))
    t.update($"k" === "c d" && $"id" < 10, Map("x" -> lit(-1.0)))
    assert(feed() === Seq(1L, 5L, 9L).flatMap(i => Seq(
      (i, "c d", i * 1.0, "update_preimage"),
      (i, "c d", -1.0, "update_postimage"))).toSet)
    t.merge(Seq((2L, "e/f", 99.0), (50L, "a=b", 5.0)).toDF("id", "k", "x"), "id")
    assert(feed() === Set((2L, "e/f", 2.0, "update_preimage"),
      (2L, "e/f", 99.0, "update_postimage"), (50L, "a=b", 5.0, "insert")))
    t.replaceWhere($"k" === "e/f", Seq((60L, "e/f", 1.0)).toDF("id", "k", "x"))
    assert(feed() === ((2L until 40L by 4).map(i =>
      (i, "e/f", if (i == 2L) 99.0 else i * 1.0, "delete")) :+
      (60L, "e/f", 1.0, "insert")).toSet)
    // every rewritten file's recorded partition tuple is the exact
    // value: the pruned registered scan finds each partition's rows
    val reg = spark.read.format("graft-table").load(path)
    assert(ks.map(k => k -> reg.where($"k" === k).count()).toMap ===
      Map("a=b" -> 10L, "c d" -> 10L, "e/f" -> 1L, "g" -> 10L))
  }

  private def refused(body: => Any): Unit = {
    val e = intercept[IllegalArgumentException](body)
    assert(e.getMessage.contains("reserved"), e.getMessage)
  }

  test("a user column named like a partition copy is refused at CREATE " +
      "(the staging write replaced it with the partition value, and " +
      "partitionBy then dropped it from the files: it read back null)") {
    refused(GraftTable.create(spark, tmp(),
      Seq((1L, "p", "mine")).toDF("id", "v", "__gp_v"), partitionBy = Seq("v")))
  }

  test("a user column named like UPDATE's hit marker is refused at CREATE " +
      "(UPDATE replaced it with its boolean marker in every rewritten file)") {
    refused(GraftTable.create(spark, tmp(),
      Seq((1L, true)).toDF("id", "__hit")))
    refused(GraftTable.create(spark, tmp(),
      Seq((1L, "c")).toDF("id", "_Change_Type")))
  }

  test("reserved names are refused by RENAME COLUMN, evolve-append, " +
      "evolve-merge, OVERWRITE and CONVERT") {
    val t = GraftTable.create(spark, tmp(), Seq((1L, 1.0)).toDF("id", "x"))
    refused(t.renameColumn("x", "__TAG"))
    refused(t.append(Seq((2L, 2.0, 0L)).toDF("id", "x", "__action"),
      evolve = true))
    refused(t.merge(Seq((1L, 3.0, "a")).toDF("id", "x", "__pre_x"), Seq("id"),
      Seq(GraftTable.MatchedUpdate()), Some(GraftTable.NotMatchedInsert()),
      Nil, evolveSchema = true))
    refused(t.overwrite(Seq((1L, 1.0, 1L)).toDF("id", "x", "__z")))
    assert(t.latestVersion === 0L)
    assert(t.snapshot().columns.toSeq === Seq("id", "x"))
    val dir = Files.createTempDirectory("graft_reserved_convert_")
    Seq((1L, 7L)).toDF("id", "_commit_version")
      .write.parquet(dir.resolve("p").toString)
    refused(GraftTable.convert(spark, dir.resolve("p").toString))
  }
}
