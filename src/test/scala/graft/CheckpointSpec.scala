package graft

import java.nio.file.Files

import graft.tables.GraftTable
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Commit-log checkpointing: commits between checkpoints carry only
  * their adds/removes (O(delta) bytes), every Nth commit is written
  * full and doubles as the checkpoint readers resolve against — so
  * log size stops growing O(versions × files) and a streaming sink
  * committing per micro-batch no longer bloats the log linearly in
  * table size.
  */
class CheckpointSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_ckpt_").resolve("t").toString

  private def rawJson(dir: String, v: Long): JValue =
    JsonMethods.parse(Files.readString(
      java.nio.file.Paths.get(dir, "_graft_log", f"v$v%08d.json")))

  private def rawBytes(dir: String, v: Long): Long =
    Files.size(java.nio.file.Paths.get(dir, "_graft_log", f"v$v%08d.json"))

  private def filesListed(j: JValue): Int = {
    implicit val fmt: Formats = DefaultFormats
    (j \ "files").extract[List[String]].size
  }

  private def isDelta(j: JValue): Boolean = {
    implicit val fmt: Formats = DefaultFormats
    (j \ "delta").extractOpt[Boolean].contains(true)
  }

  test("commits between checkpoints carry O(delta) bytes, not O(files)") {
    val dir = tmp()
    val t = GraftTable.create(spark, dir,
      Seq((0L, "seed")).toDF("id", "v"))
    (1 to 59).foreach(i =>
      t.append(Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1)))
    assert(t.latestVersion === 59)
    // a mid-interval commit is delta-encoded: its files list holds
    // only that append's adds, however many files the table has
    val v55 = rawJson(dir, 55)
    assert(isDelta(v55))
    assert(filesListed(v55) <= 2)
    // checkpoint commits (every 10th by default) are full
    val v50 = rawJson(dir, 50)
    assert(!isDelta(v50))
    assert(filesListed(v50) >= 50)
    // per-commit bytes stay FLAT across the log's growth: a late
    // delta commit is no bigger than an early one (vs O(files)
    // growth, where v55 would list ~4× v15's files)
    assert(rawBytes(dir, 55) <= rawBytes(dir, 15) * 2,
      s"v55=${rawBytes(dir, 55)}B vs v15=${rawBytes(dir, 15)}B")
    // resolution: snapshot, time travel to delta-encoded versions,
    // and history all read the same state a full log would hold
    assert(t.snapshot().count() === 60)
    assert(t.snapshotAt(55).count() === 56)
    assert(t.snapshotAt(50).count() === 51)
    assert(t.snapshotAt(49).count() === 50)
    assert(t.history().count() === 60)
    // a FRESH handle (empty memo cache) resolves identically
    val t2 = GraftTable.load(spark, dir)
    assert(t2.snapshotAt(55).count() === 56)
    assert(t2.snapshot().where($"id" === 42L).count() === 1)
  }

  test("DML, restore and change feed work across delta commits") {
    val dir = tmp()
    val t = GraftTable.create(spark, dir,
      (1L to 20L).map(i => (i, i * 1.0)).toDF("id", "x").repartition(4))
    (1 to 3).foreach(i =>
      t.append(Seq((100L + i, 0.5)).toDF("id", "x").coalesce(1)))
    // v4: copy-on-write DELETE — a delta commit with removes
    t.delete($"id" === 101L)
    assert(isDelta(rawJson(dir, 4)))
    assert(t.snapshot().count() === 22)
    assert(t.snapshotAt(3).count() === 23)
    // stats carry through resolution: the pruned read still prunes
    assert(t.snapshotPruned("id", 102, 103).count() >= 2)
    // update + restore to a delta-encoded version
    t.update($"id" === 102L, Map("x" -> lit(9.9)))
    t.restore(4)
    assert(t.snapshot().where($"id" === 102L).select("x").as[Double].head()
      === 0.5)
    assert(t.snapshot().count() === 22)
    // the change feed classifies commits resolved through deltas
    val feed = t.changeFeed(3, 4).select("_change_type", "id")
      .as[(String, Long)].collect().toSet
    assert(feed === Set(("delete", 101L)))
  }

  test("delta log is much smaller than a full-per-commit log") {
    def logBytes(dir: String): Long = {
      import scala.jdk.CollectionConverters._
      Files.list(java.nio.file.Paths.get(dir, "_graft_log"))
        .iterator().asScala.map(Files.size).sum
    }
    def build(interval: String): String = {
      val dir = tmp()
      val t = GraftTable.create(spark, dir, Seq((0L, "s")).toDF("id", "v"))
      t.setProperties(Map("graft.checkpoint.interval" -> interval))
      (1 to 40).foreach(i =>
        t.append(Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1)))
      dir
    }
    val deltaDir = build("10")
    val fullDir = build("0") // disabled: every commit full (legacy shape)
    // same operations, same state — the checkpointed log is a
    // multiple smaller (O(V + V/N·F) vs O(V·F) entries)
    val (d, f) = (logBytes(deltaDir), logBytes(fullDir))
    assert(d * 2 < f, s"delta log $d B vs full log $f B")
    assert(GraftTable.load(spark, deltaDir).snapshot().count() ===
      GraftTable.load(spark, fullDir).snapshot().count())
  }

  test("partitioned tables resolve partition values through deltas") {
    val dir = tmp()
    val t = GraftTable.create(spark, dir,
      Seq((1L, "A"), (2L, "B")).toDF("id", "k"), partitionBy = Seq("k"))
    (1 to 12).foreach(i =>
      t.append(Seq((10L + i, if (i % 2 == 0) "A" else "B")).toDF("id", "k")))
    // partition values carried through delta resolution drive exact
    // pruning and partition listing
    val parts = t.partitionsInfo().as[(String, Long, Long)].collect()
    assert(parts.map(_._1).toSet === Set("k=A", "k=B"))
    assert(parts.map(_._3).sum === 14)
    // dynamic partition overwrite classifies every file from resolved
    // metadata (an unclassifiable file would throw)
    t.overwritePartitions(Seq((99L, "A")).toDF("id", "k"))
    assert(t.snapshot().where($"k" === "A").count() === 1)
    assert(t.snapshot().where($"k" === "B").count() === 7)
  }

  test("graft.logRetention.hours prunes the log by wall clock") {
    val dir = tmp()
    val t = GraftTable.create(spark, dir, Seq((1L, "a")).toDF("id", "v"))
    (1 to 30).foreach(i => t.setProperties(Map("touch" -> i.toString)))
    // age versions 0..24 to ten days old ON DISK
    val aged = System.currentTimeMillis() - 10L * 24 * 3600 * 1000
    (0L to 24L).foreach { v =>
      val p = java.nio.file.Paths.get(dir, "_graft_log", f"v$v%08d.json")
      Files.writeString(p, Files.readString(p)
        .replaceAll("\"timestampMs\":\\d+", s""""timestampMs":$aged"""))
    }
    val t2 = GraftTable.load(spark, dir)
    t2.setProperties(Map("graft.logRetention.hours" -> "168"))
    t2.vacuum()
    val t3 = GraftTable.load(spark, dir)
    def logFiles() = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(java.nio.file.Paths.get(dir, "_graft_log"))
      try s.iterator().asScala.count(
        _.getFileName.toString.matches("v\\d+\\.json")).toLong
      finally s.close()
    }
    // in-window commits (25..31) plus the anchoring checkpoint chain
    assert(logFiles() <= 7L + 10L + 1L, s"left ${logFiles()} log files")
    assert(t3.snapshot().count() === 1)
    intercept[IllegalArgumentException] { t3.snapshotAt(3) }
  }

  test("log retention: vacuum prunes aged commits to O(interval) files") {
    val dir = tmp()
    val t = GraftTable.create(spark, dir, Seq((1L, "a")).toDF("id", "v"))
    t.append(Seq((2L, "b")).toDF("id", "v"))
    // an exactly-once sink watermark committed EARLY — its carrying
    // commit will age out; the carried state must preserve it
    t.appendIfNew(Seq((3L, "c")).toDF("id", "v"), batchId = 7L,
      appId = "sinkApp")
    // inflate the version count with metadata-only commits (fast) up
    // to ~120 versions, then bound the log to the trailing 20
    (1 to 117).foreach(i => t.setProperties(Map("touch" -> i.toString)))
    t.setProperties(Map("graft.logRetention.versions" -> "20"))
    val latest = t.latestVersion
    assert(latest === 120L)
    def logFiles() = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(java.nio.file.Paths.get(dir, "_graft_log"))
      try s.iterator().asScala.count(
        _.getFileName.toString.matches("v\\d+\\.json")).toLong
      finally s.close()
    }
    assert(logFiles() === 121L)
    t.vacuum()
    // kept: the trailing 20 plus the delta chain back to the
    // anchoring checkpoint — O(window + interval), not O(versions)
    val remaining = logFiles()
    assert(remaining <= 20L + 10L + 1L,
      s"log retention left $remaining commit files")
    // reads inside the window still green (through the anchor chain);
    // a FRESH handle, so resolution runs from disk, not the writer's
    // in-process commit cache
    val t2 = GraftTable.load(spark, dir)
    assert(t2.snapshotAt(latest - 10).count() === 3)
    assert(t2.snapshot().count() === 3)
    // below the anchor: the version-unavailable error names retention
    val e = intercept[IllegalArgumentException] { t2.snapshotAt(2) }
    assert(e.getMessage.contains("log retention"))
    // the aged-out txn watermark survived in the carried state: the same
    // batch replayed is STILL a no-op, not a duplicate append
    assert(t2.lastStreamBatchId("sinkApp") === 7L)
    t2.appendIfNew(Seq((99L, "dup")).toDF("id", "v"), batchId = 7L,
      appId = "sinkApp")
    assert(t2.snapshot().count() === 3)
  }
}
