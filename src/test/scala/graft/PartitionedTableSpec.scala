package graft

import java.nio.file.Files

import graft.tables.GraftTable
import org.apache.spark.sql.functions._

/** Partition-column support on GraftTable: partition-aligned layout,
  * per-file tuple metadata, dynamic partition overwrite, replaceWhere,
  * and exact partition pruning through the registered scan path.
  */
class PartitionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_part_").resolve("t").toString

  private def orders = Tables.load(spark, sf, "orders")

  test("partitioned create: no data file spans two partition values") {
    val t = GraftTable.create(spark, tmp(),
      orders.repartition(4), partitionBy = Seq("o_orderstatus"))
    assert(t.partitionColumns === Seq("o_orderstatus"))
    // every file is value-homogeneous: per-file distinct count is 1
    val perFile = t.snapshot()
      .select(col("o_orderstatus"), col("_metadata.file_path").as("f"))
      .groupBy("f").agg(countDistinct("o_orderstatus").as("n"))
    assert(perFile.where(col("n") =!= 1).count() === 0)
    // and the round-trip loses nothing (partition cols stay in data)
    assert(t.snapshot().count() === orders.count())
    assert(t.snapshot().columns.toSeq === orders.columns.toSeq)
  }

  test("append to a partitioned table stays aligned and recorded") {
    val df = Seq((1L, "A", 1.0), (2L, "B", 2.0)).toDF("id", "k", "x")
    val t = GraftTable.create(spark, tmp(), df, partitionBy = Seq("k"))
    t.append(Seq((3L, "A", 3.0), (4L, "C", 4.0)).toDF("id", "k", "x"))
    assert(t.snapshot().count() === 4)
    // dynamic overwrite of A must see BOTH A files (create + append)
    t.overwritePartitions(Seq((9L, "A", 9.0)).toDF("id", "k", "x"))
    val rows = t.snapshot().orderBy("id").as[(Long, String, Double)].collect()
    assert(rows === Array((2L, "B", 2.0), (4L, "C", 4.0), (9L, "A", 9.0)))
  }

  test("overwritePartitions touches only incoming partitions") {
    val t = GraftTable.create(spark, tmp(),
      orders, partitionBy = Seq("o_orderstatus"))
    val before = t.snapshot()
    val total = before.count()
    val pCount = before.where($"o_orderstatus" === "P").count()
    // replace partition P with a single synthetic row
    val one = before.where($"o_orderstatus" === "P").limit(1)
      .withColumn("o_totalprice", lit(java.math.BigDecimal.ZERO)
        .cast(before.schema("o_totalprice").dataType))
    t.overwritePartitions(one)
    val after = t.snapshot()
    assert(after.where($"o_orderstatus" === "P").count() === 1)
    assert(after.where($"o_orderstatus" =!= "P").count() === total - pCount)
    // untouched partitions kept their FILES (no rewrite): commit diff
    val hist = t.history().orderBy(desc("version")).limit(1).collect()(0)
    assert(hist.getAs[String]("operation") === "OVERWRITE_PARTITIONS")
  }

  test("overwritePartitions change feed: deletes out, inserts in") {
    val df = Seq((1L, "A", 1.0), (2L, "A", 2.0), (3L, "B", 3.0))
      .toDF("id", "k", "x")
    val t = GraftTable.create(spark, tmp(), df, partitionBy = Seq("k"))
    t.overwritePartitions(Seq((7L, "A", 7.0)).toDF("id", "k", "x"))
    val feed = t.changeFeed(0).select("id", "_change_type")
      .as[(Long, String)].collect().toSet
    assert(feed === Set((1L, "delete"), (2L, "delete"), (7L, "insert")))
  }

  test("replaceWhere validates and atomically swaps the slice") {
    val df = Seq((1L, "A", 1.0), (2L, "A", 2.0), (3L, "B", 3.0))
      .toDF("id", "k", "x")
    val t = GraftTable.create(spark, tmp(), df)
    // a row violating the predicate is rejected, nothing committed
    intercept[IllegalArgumentException] {
      t.replaceWhere($"k" === "A", Seq((9L, "B", 9.0)).toDF("id", "k", "x"))
    }
    assert(t.latestVersion === 0)
    t.replaceWhere($"k" === "A", Seq((9L, "A", 9.0)).toDF("id", "k", "x"))
    val rows = t.snapshot().orderBy("id").as[(Long, String, Double)].collect()
    assert(rows === Array((3L, "B", 3.0), (9L, "A", 9.0)))
    val feed = t.changeFeed(0).select("id", "_change_type")
      .as[(Long, String)].collect().toSet
    assert(feed === Set((1L, "delete"), (2L, "delete"), (9L, "insert")))
  }

  test("DML and compaction preserve partition metadata") {
    val df = (1L to 100L).map(i => (i, if (i % 2 == 0) "E" else "O", i * 1.0))
      .toDF("id", "k", "x")
    val t = GraftTable.create(spark, tmp(), df, partitionBy = Seq("k"))
    t.delete($"id" <= 10)
    t.update($"id" === 50, Map("x" -> lit(-1.0)))
    t.compact(1)
    // after rewrites, dynamic overwrite still classifies every file
    t.overwritePartitions(Seq((1000L, "E", 0.0)).toDF("id", "k", "x"))
    val snap = t.snapshot()
    assert(snap.where($"k" === "E").count() === 1)
    assert(snap.where($"k" === "O").count() === 45) // 50 odd - 5 deleted
    assert(snap.where($"x" === -1.0).count() === 0) // id 50 was even
  }

  test("restore keeps partition metadata usable") {
    val df = Seq((1L, "A"), (2L, "B")).toDF("id", "k")
    val t = GraftTable.create(spark, tmp(), df, partitionBy = Seq("k"))
    t.overwritePartitions(Seq((9L, "A")).toDF("id", "k")) // v1
    t.restore(0) // v2: back to {1,2}
    // overwrite on the RESTORED state must still classify v0's files
    t.overwritePartitions(Seq((8L, "B")).toDF("id", "k"))
    assert(t.snapshot().orderBy("id").as[(Long, String)].collect()
      === Array((1L, "A"), (8L, "B")))
  }

  test("registered scan prunes files by partition value exactly") {
    // keys longer than 64 chars: the footer-stats path drops them
    // (truncation risk), so only the partition-tuple path can prune
    val df = (1L to 90L).map(i =>
      (i, ("seller_" + ("x" * 70) + (i % 3)), i * 1.0))
      .toDF("id", "k", "x").repartition(3)
    val path = tmp()
    GraftTable.create(spark, path, df, partitionBy = Seq("k"))
    val all = spark.read.format("graft-table").load(path)
    assert(all.count() === 90)
    val q = all.where($"k" === ("seller_" + ("x" * 70) + "1"))
    assert(q.count() === 30)
    // plan-level: the scan lists exactly the one partition's files
    val scanned = q.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(Nil,
          f.dataFilters).map(_.files.length).sum
    }.sum
    val total = spark.read.format("graft-table").load(path)
      .queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(Nil, Nil).map(_.files.length).sum
    }.sum
    assert(scanned < total, s"expected pruning: $scanned < $total")
  }

  test("partition values survive hive escaping round-trip") {
    val df = Seq((1L, "a/b c=d%e"), (2L, "plain")).toDF("id", "k")
    val t = GraftTable.create(spark, tmp(), df, partitionBy = Seq("k"))
    assert(t.snapshot().orderBy("id").as[(Long, String)].collect()
      === Array((1L, "a/b c=d%e"), (2L, "plain")))
    t.overwritePartitions(Seq((9L, "a/b c=d%e")).toDF("id", "k"))
    assert(t.snapshot().orderBy("id").as[(Long, String)].collect()
      === Array((2L, "plain"), (9L, "a/b c=d%e")))
  }

  test("DML blast radius is stats-pruned before any scan") {
    val df = (1L to 1000L).map(i => (i, i * 2.0)).toDF("id", "x")
    val t = GraftTable.create(spark, tmp(), df)
    t.clusterBy(10, "id")
    // a selective predicate rules out most files from METADATA alone
    val cand = t.candidateFiles($"id".between(1, 50))
    val all = t.candidateFiles(lit(true))
    assert(all.size === 10)
    assert(cand.size <= 2, s"expected <=2 candidate files, got ${cand.size}")
    // and the DML stays exact on the pruned set
    t.delete($"id".between(1, 50))
    assert(t.snapshot().count() === 950)
    assert(t.snapshot().where($"id" <= 50).count() === 0)
  }

  test("partition predicates prune DML candidates exactly") {
    val df = (1L to 90L).map(i => (i, s"p${i % 3}")).toDF("id", "k")
    val t = GraftTable.create(spark, tmp(),
      df.repartition(3), partitionBy = Seq("k"))
    val cand = t.candidateFiles($"k" === "p1")
    val all = t.candidateFiles(lit(true))
    assert(cand.size < all.size, s"${cand.size} vs ${all.size}")
    t.update($"k" === "p1", Map("id" -> (col("id") + 1000L)))
    assert(t.snapshot().where($"id" > 1000).count() === 30)
  }

  test("SHOW PARTITIONS and FSCK TABLE reconcile from metadata") {
    import graft.tables.GraftSql
    val dir = tmp()
    val t = GraftTable.create(spark, dir,
      Seq((1L, "A"), (2L, "A"), (3L, "B")).toDF("id", "k"),
      partitionBy = Seq("k"))
    spark.sql("DROP TABLE IF EXISTS gs_parts")
    spark.sql(s"CREATE TABLE gs_parts USING `graft-table` OPTIONS (path '$dir')")
    try {
      val parts = GraftSql.sql(spark, "SHOW PARTITIONS gs_parts")
        .as[(String, Long, java.lang.Long)].collect()
        .map { case (p, f, r) => p -> ((f, r)) }.toMap
      assert(parts.keySet === Set("k=A", "k=B"))
      assert(parts("k=A")._2 === 2L)
      assert(parts("k=B")._2 === 1L)
      // clean table: fsck quiet
      assert(GraftSql.sql(spark, "FSCK TABLE gs_parts").count() === 0)
      // delete a data file behind the log's back: fsck reports it
      val f = java.nio.file.Files.list(
        java.nio.file.Paths.get(dir).resolve("files")).iterator().next()
      java.nio.file.Files.delete(f)
      val issues = GraftSql.sql(spark, "FSCK TABLE gs_parts")
        .as[(String, String)].collect()
      assert(issues.exists(_._1 === "missing"), issues.toSeq)
    } finally spark.sql("DROP TABLE IF EXISTS gs_parts")
  }

  test("fsck reports a lost HISTORICAL file the retention window needs") {
    val dir = tmp()
    val t = GraftTable.create(spark, dir, Seq((1L, "a")).toDF("id", "k"))
    t.overwrite(Seq((2L, "b")).toDF("id", "k")) // v1: v0's file now historical
    // v0's file is retained (retainVersions=2) — losing it breaks
    // VERSION AS OF 0, so fsck must say so even though HEAD is fine
    import scala.jdk.CollectionConverters._
    val v0File = java.nio.file.Files.list(
      java.nio.file.Paths.get(dir).resolve("files")).iterator().asScala
      .toSeq.sortBy(_.toFile.lastModified).head
    java.nio.file.Files.delete(v0File)
    val issues = t.fsck(2).as[(String, String)].collect()
    assert(issues.exists(_._1 === "missing"), issues.toSeq)
    // with retention 1 the historical file is out of scope → orphanable
    assert(t.fsck(1).as[(String, String)].collect()
      .forall(_._1 !== "missing"))
  }

  test("versioned shallow clone fails fast on vacuumed versions") {
    val src = tmp()
    val t = GraftTable.create(spark, src, Seq((1L, "a")).toDF("id", "k"))
    t.overwrite(Seq((2L, "b")).toDF("id", "k")) // v1
    t.overwrite(Seq((3L, "c")).toDF("id", "k")) // v2
    t.vacuum(1) // reclaim v0/v1 files
    val e = intercept[IllegalArgumentException] {
      GraftTable.shallowClone(spark, src,
        Files.createTempDirectory("graft_clv2_").resolve("c").toString, 0L)
    }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("SHOW PARTITIONS on an unpartitioned table errors cleanly") {
    import graft.tables.GraftSql
    val dir = tmp()
    GraftTable.create(spark, dir, Seq((1L, "a")).toDF("id", "k"))
    spark.sql("DROP TABLE IF EXISTS gs_unpart")
    spark.sql(s"CREATE TABLE gs_unpart USING `graft-table` OPTIONS (path '$dir')")
    try {
      val e = intercept[IllegalArgumentException] {
        GraftSql.sql(spark, "SHOW PARTITIONS gs_unpart")
      }
      assert(e.getMessage.contains("not a partitioned table"))
    } finally spark.sql("DROP TABLE IF EXISTS gs_unpart")
  }

  test("partition row counts decline under active deletion vectors") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "A"), (2L, "A"), (3L, "B")).toDF("id", "k"),
      partitionBy = Seq("k"))
    assert(t.partitionsInfo().where($"partition" === "k=A")
      .collect()(0).getAs[java.lang.Long]("num_rows") === 2L)
    t.deleteMor($"id" === 1)
    // stats would claim 2 rows in k=A; honesty over phantom counts
    assert(t.partitionsInfo().collect().forall(_.get(2) == null))
    t.purgeDvs()
    assert(t.partitionsInfo().where($"partition" === "k=A")
      .collect()(0).getAs[java.lang.Long]("num_rows") === 1L)
  }

  test("null partition values round-trip and classify") {
    val df = Seq((1L, Some("A")), (2L, None), (3L, None))
      .toDF("id", "k")
    val t = GraftTable.create(spark, tmp(), df, partitionBy = Seq("k"))
    assert(t.snapshot().where($"k".isNull).count() === 2)
    t.overwritePartitions(Seq((9L, Option.empty[String])).toDF("id", "k"))
    val rows = t.snapshot().orderBy("id").as[(Long, Option[String])].collect()
    assert(rows === Array((1L, Some("A")), (9L, None)))
  }

  test("distributed vacuum enumeration: one job, identical reclaim set") {
    val parts = ('A' to 'H').map(_.toString)
    val seed = parts.flatMap(p => (1L to 20L).map(i => (p, i)))
      .toDF("p", "id").repartition(8)
    val t = GraftTable.create(spark, tmp(), seed, partitionBy = Seq("p"))
    // retire files across many partitions: deletes + a compaction
    t.delete($"id" <= 5)
    t.compact(1)
    t.deleteMor($"id" === 20L)
    t.purgeDvs() // retires dv files too
    // serial enumeration (forced) = the reference reclaim set
    t.setProperties(Map("graft.vacuum.distributed" -> "false"))
    val serial = t.vacuumDryRun(1).select("path").as[String].collect().toSet
    assert(serial.nonEmpty, "the scenario must leave reclaimable files")
    // distributed enumeration (forced): identical set, ONE Spark job
    t.setProperties(Map("graft.vacuum.distributed" -> "true",
      "graft.vacuum.shards" -> "4"))
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val dist = t.vacuumDryRun(1).select("path").as[String].collect().toSet
      // listener events are async — drain the bus before counting
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      assert(dist === serial,
        s"distributed lost ${(serial -- dist).size}, invented ${(dist -- serial).size}")
      // the dry-run frame itself is a local Seq — the only job is the
      // sharded enumeration (collect of the dry-run adds none)
      assert(jobs === 1, s"expected ONE enumeration job, saw $jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
    // and the real vacuum through the distributed path reclaims them
    val n = t.vacuum(1)
    assert(n === serial.size.toLong)
    assert(t.snapshot().count() === seed.count() - 8 * 5 - 8)
  }
}
