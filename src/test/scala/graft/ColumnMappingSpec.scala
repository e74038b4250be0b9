package graft

import java.nio.file.Files

import graft.tables.{GraftSql, GraftTable}
import org.apache.spark.sql.functions._

/** Column mapping (Delta RENAME/DROP COLUMN analog): pure metadata
  * commits — no data file rewritten — with the logical→physical
  * translation applied at every read/write choke point, and the
  * reader-feature gate on raw-name surfaces.
  */
class ColumnMappingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_cmap_").resolve("t").toString

  private def fileCount(t: GraftTable): Long =
    t.history().orderBy(desc("version")).limit(1)
      .collect()(0).getAs[Long]("num_files")

  test("rename is metadata-only and reads translate") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "v", "x"))
    val filesBefore = fileCount(t)
    t.renameColumn("v", "label")
    assert(fileCount(t) === filesBefore) // nothing rewritten
    assert(t.snapshot().columns.toSeq === Seq("id", "label", "x"))
    assert(t.snapshot().where($"label" === "a").count() === 1)
    // time travel still shows the OLD logical name
    assert(t.snapshotAt(0).columns.toSeq === Seq("id", "v", "x"))
  }

  test("writes after a rename land under the physical name") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "a")).toDF("id", "v"))
    t.renameColumn("v", "w")
    t.append(Seq((2L, "b")).toDF("id", "w"))
    assert(t.snapshot().orderBy("id").as[(Long, String)].collect()
      === Array((1L, "a"), (2L, "b")))
    // DML through the logical name
    t.update($"w" === "a", Map("w" -> lit("z")))
    assert(t.snapshot().where($"w" === "z").count() === 1)
    t.delete($"id" === 2L)
    assert(t.snapshot().count() === 1)
    // compaction keeps the mapping working
    t.compact(1)
    assert(t.snapshot().as[(Long, String)].collect() === Array((1L, "z")))
  }

  test("drop column hides data without rewriting; re-add gets fresh bytes") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "secret", 1.0), (2L, "hidden", 2.0)).toDF("id", "v", "x"))
    val filesBefore = fileCount(t)
    t.dropColumn("v")
    assert(fileCount(t) === filesBefore)
    assert(t.snapshot().columns.toSeq === Seq("id", "x"))
    // re-adding the name via evolve must NOT resurrect the old bytes
    t.append(Seq((3L, 3.0, "new")).toDF("id", "x", "v"), evolve = true)
    val rows = t.snapshot().orderBy("id")
      .select("id", "v").as[(Long, Option[String])].collect()
    assert(rows === Array((1L, None), (2L, None), (3L, Some("new"))))
  }

  test("the fresh-name collision set survives log retention: a " +
      "dropped physical name whose commits were pruned still forces " +
      "a fresh name on re-add — no crash, no byte resurrection") {
    val dir = tmp()
    val t = GraftTable.create(spark, dir,
      Seq((1L, "secret", 1.0)).toDF("id", "payload", "x"))
    t.dropColumn("payload")
    // churn enough commits that retention has something to prune
    (1 to 30).foreach(i => t.setProperties(Map("touch" -> i.toString)))
    // age the early versions ON DISK, then retention-prune them
    // (the CheckpointSpec recipe) — the drop commit and the original
    // schema leave the log entirely
    val aged = System.currentTimeMillis() - 10L * 24 * 3600 * 1000
    (0L to 24L).foreach { v =>
      val p = java.nio.file.Paths.get(dir, "_graft_log", f"v$v%08d.json")
      Files.writeString(p, Files.readString(p)
        .replaceAll("\"timestampMs\":\\d+", s""""timestampMs":$aged"""))
    }
    val t2 = GraftTable.load(spark, dir)
    t2.setProperties(Map("graft.logRetention.hours" -> "168"))
    t2.vacuum()
    // the collision set rides the carried state's retired names: the
    // evolving append must neither crash on a missing commit file nor
    // map the re-added logical name onto the dropped physical bytes
    val t3 = GraftTable.load(spark, dir)
    t3.append(Seq((2L, 2.0, "new")).toDF("id", "x", "payload"),
      evolve = true)
    val rows = t3.snapshot().orderBy("id")
      .select("id", "payload").as[(Long, Option[String])].collect()
    assert(rows === Array((1L, None), (2L, Some("new"))),
      "the pruned drop's physical bytes must never resurface")
  }

  test("rename carries values through the change feed") {
    val t = GraftTable.create(spark, tmp(), Seq((1L, "a")).toDF("id", "v"))
    t.renameColumn("v", "w")
    t.append(Seq((2L, "b")).toDF("id", "w"))
    val feed = t.changeFeed(-1).select("id", "w", "_change_type")
      .as[(Long, String, String)].collect().toSet
    // v0's insert was logged under logical 'v' — same physical column,
    // so its value surfaces under the current name, not as null
    assert(feed === Set((1L, "a", "insert"), (2L, "b", "insert")))
  }

  test("raw-name surfaces refuse mapped tables (reader-feature gate)") {
    val path = tmp()
    val t = GraftTable.create(spark, path, Seq((1L, "a")).toDF("id", "v"))
    t.renameColumn("v", "w")
    val e = intercept[UnsupportedOperationException] {
      spark.read.format("graft-table").load(path).count()
    }
    assert(e.getMessage.contains("column mapping"))
  }

  test("partition and constraint columns are rename/drop-immutable") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "A", 1.0)).toDF("id", "k", "x"), partitionBy = Seq("k"))
    intercept[IllegalArgumentException] { t.renameColumn("k", "kk") }
    intercept[IllegalArgumentException] { t.dropColumn("k") }
    t.addConstraint("pos_x", "x >= 0")
    intercept[IllegalArgumentException] { t.renameColumn("x", "y") }
    intercept[IllegalArgumentException] { t.dropColumn("x") }
    // unconstrained, unpartitioned columns still rename fine
    t.renameColumn("id", "row_id")
    assert(t.snapshot().columns.toSeq === Seq("row_id", "k", "x"))
  }

  test("SQL ALTER TABLE RENAME/DROP COLUMN dispatch") {
    val dir = tmp()
    val t = GraftTable.create(spark, dir,
      Seq((1L, "a", 9.0)).toDF("id", "v", "x"))
    spark.sql("DROP TABLE IF EXISTS gs_cmap")
    spark.sql(s"CREATE TABLE gs_cmap USING `graft-table` OPTIONS (path '$dir')")
    try {
      GraftSql.sql(spark, "ALTER TABLE gs_cmap RENAME COLUMN v TO label")
      assert(t.snapshot().columns.toSeq === Seq("id", "label", "x"))
      GraftSql.sql(spark, "ALTER TABLE gs_cmap DROP COLUMN x")
      assert(t.snapshot().columns.toSeq === Seq("id", "label"))
      assert(t.history().where($"operation" === "RENAME COLUMN").count() === 1)
      assert(t.history().where($"operation" === "DROP COLUMN").count() === 1)
    } finally spark.sql("DROP TABLE IF EXISTS gs_cmap")
  }

  test("overwrite clears the mapping and the gate lifts") {
    val path = tmp()
    val t = GraftTable.create(spark, path, Seq((1L, "a")).toDF("id", "v"))
    t.renameColumn("v", "w")
    t.overwrite(Seq((9L, "z")).toDF("id", "w"))
    // all files rewritten under logical names — raw-name scan works
    assert(spark.read.format("graft-table").load(path)
      .as[(Long, String)].collect() === Array((9L, "z")))
  }

  test("overwritePartitions writes under physical names after a rename") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "A", 1.0), (2L, "B", 2.0)).toDF("id", "k", "v"),
      partitionBy = Seq("k"))
    t.renameColumn("v", "w")
    t.overwritePartitions(Seq((9L, "A", 9.0)).toDF("id", "k", "w"))
    // without the map, the new files would store logical 'w' and the
    // mapped read (w -> v) would surface null
    val rows = t.snapshot().orderBy("id")
      .as[(Long, String, Double)].collect()
    assert(rows === Array((2L, "B", 2.0), (9L, "A", 9.0)))
  }

  test("append retry refuses a concurrent column-map change") {
    // the scenario the retry guard must catch: a concurrent OVERWRITE
    // with the SAME logical schema resets the column map to empty
    // while an append (whose files were staged under the OLD physical
    // names) is in flight — blind re-resolution would commit files
    // whose renamed column then silently reads null
    val dir = tmp()
    val t = GraftTable.create(spark, dir, Seq((1L, 1.0)).toDF("a", "w0"))
    t.renameColumn("w0", "w") // map: w -> w0
    val t2 = GraftTable.load(spark, dir)
    ColumnMappingSpec.started = new java.util.concurrent.CountDownLatch(1)
    ColumnMappingSpec.done = new java.util.concurrent.CountDownLatch(1)
    val racer = new Thread(() => {
      ColumnMappingSpec.started.await()
      // same logical schema (a, w), map reset by overwrite
      t2.overwrite(Seq((9L, 9.0)).toDF("a", "w"))
      ColumnMappingSpec.done.countDown()
    })
    racer.start()
    // the latches live on the companion OBJECT (static access — the
    // udf closure must not capture non-serializable state)
    val trigger = udf { (x: Long) =>
      ColumnMappingSpec.started.countDown()
      ColumnMappingSpec.done.await(60, java.util.concurrent.TimeUnit.SECONDS)
      x
    }
    // single partition: one blocked task leaves slots for the racer
    val appendDf = spark.range(2).repartition(1)
      .select(trigger($"id").as("a"), lit(5.0).as("w"))
    intercept[graft.tables.CommitConflictException] {
      t.append(appendDf)
    }
    racer.join(60000)
    // the surviving state is the racer's — and no append files whose
    // physical column no longer translates (no silent nulls)
    val rows = t2.snapshot().collect()
    assert(rows.forall(r => !r.isNullAt(r.fieldIndex("w"))))
    assert(t2.snapshot().count() === 1)
  }

  test("stats pruning keys translate through the mapping") {
    val t = GraftTable.create(spark, tmp(),
      (1L to 100L).map(i => (i, i * 1.0)).toDF("id", "x"))
    t.clusterBy(4, "id")
    t.renameColumn("id", "row_id")
    // snapshotPruned on the NEW logical name must still hit the
    // physical stats (pruned scan returns the right rows)
    val pruned = t.snapshotPruned("row_id", 10, 20)
    assert(pruned.where($"row_id".between(10, 20)).count() === 11)
  }
}

/** Latches for the append/overwrite race test — static so the udf
  * closure serializes without capturing them.
  */
object ColumnMappingSpec {
  @volatile var started: java.util.concurrent.CountDownLatch = _
  @volatile var done: java.util.concurrent.CountDownLatch = _
}
