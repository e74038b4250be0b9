package graft

import java.nio.file.Files

import graft.tables.GraftTable
import org.apache.spark.sql.functions._

class GraftTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_spec_").resolve("t").toString

  test("a failed CREATE seed job leaves no commitless log dir — the " +
      "path stays creatable instead of bricked behind 'already exists'") {
    val dir = tmp()
    val bad = Seq((1L, "a")).toDF("id", "v")
      .withColumn("boom", expr("raise_error('seed job failure')"))
    intercept[Exception] { GraftTable.create(spark, dir, bad) }
    assert(!Files.exists(java.nio.file.Paths.get(dir, "_graft_log")),
      "a failed seed write must not claim the log directory")
    // the retry simply works — no manual cleanup required
    val t = GraftTable.create(spark, dir, Seq((1L, "a")).toDF("id", "v"))
    assert(t.snapshot().count() === 1)
  }

  test("create + snapshot round-trips data") {
    val orders = Tables.load(spark, sf, "orders")
    val t = GraftTable.create(spark, tmp(), orders)
    assert(t.snapshot().count() === orders.count())
    assert(t.latestVersion === 0)
  }

  test("append accumulates versions and rows") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val t = GraftTable.create(spark, tmp(), df)
    t.append(Seq((3L, "c")).toDF("id", "v"))
    assert(t.snapshot().count() === 3)
    assert(t.latestVersion === 1)
  }

  test("commit timestamps stay monotonic through backward clock steps") {
    // a clock stepping backward between commits (NTP correction, VM
    // migration) must not produce a decreasing timestamp — TIMESTAMP
    // AS OF, startingTimestamp and RETAIN HOURS all binary/backward-
    // scan on monotonicity. Simulate by dating v0 into the future on
    // disk: the next commit's wall clock is then "behind" its parent.
    val dir = tmp()
    GraftTable.create(spark, dir, Seq((1L, "a")).toDF("id", "v"))
    val future = System.currentTimeMillis() + 3600L * 1000
    val p = java.nio.file.Paths.get(dir, "_graft_log", "v00000000.json")
    Files.writeString(p, Files.readString(p)
      .replaceAll("\"timestampMs\":\\d+", s""""timestampMs":$future"""))
    val t = GraftTable.load(spark, dir) // fresh instance: no memoized v0
    t.append(Seq((2L, "b")).toDF("id", "v"))
    val ts = (0L to 1L).map(v =>
      t.history().where($"version" === v).select("timestamp")
        .head.getTimestamp(0).getTime)
    assert(ts(1) > ts(0), s"clock step produced non-monotonic commits: $ts")
    // and the timestamp surfaces resolve consistently across the step
    assert(t.versionAtTimestamp(ts(0)) === 0L)
    assert(t.versionAtTimestamp(ts(1)) === 1L)
  }

  test("schema enforcement rejects type mismatch and new columns") {
    val t = GraftTable.create(spark, tmp(), Seq((1L, "a")).toDF("id", "v"))
    // a NARROWER batch (int into a long column) upcasts at write —
    // Delta's store-assignment semantics; a genuinely incompatible
    // type is still refused
    t.append(Seq((2, "b")).toDF("id", "v"))
    assert(t.snapshot().where($"id" === 2L).count() === 1)
    intercept[IllegalArgumentException] {
      t.append(Seq((true, "a")).toDF("id", "v")) // boolean vs long
    }
    intercept[IllegalArgumentException] {
      t.append(Seq((1L, "a", 0.5)).toDF("id", "v", "extra"))
    }
  }

  test("schema evolution adds columns; old rows read as null") {
    val t = GraftTable.create(spark, tmp(), Seq((1L, "a")).toDF("id", "v"))
    t.append(Seq((2L, "b", 9.5)).toDF("id", "v", "score"), evolve = true)
    val snap = t.snapshot()
    assert(snap.columns.toSeq === Seq("id", "v", "score"))
    assert(snap.where($"id" === 1 && $"score".isNull).count() === 1)
    assert(snap.where($"id" === 2 && $"score" === 9.5).count() === 1)
  }

  test("delete is file-granular copy-on-write") {
    val orders = Tables.load(spark, sf, "orders").repartition(8, $"o_orderkey")
    val t = GraftTable.create(spark, tmp(), orders)
    val before = orders.count()
    val toDelete = orders.where($"o_orderstatus" === "P").count()
    t.delete($"o_orderstatus" === "P")
    assert(t.snapshot().count() === before - toDelete)
    assert(t.snapshot().where($"o_orderstatus" === "P").count() === 0)
  }

  test("update rewrites only matching rows") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x"))
    t.update($"id" === 1, Map("x" -> lit(99.0)))
    val out = t.snapshot().orderBy("id").as[(Long, Double)].collect()
    assert(out === Array((1L, 99.0), (2L, 20.0)))
  }

  test("merge: matched update + unmatched insert") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "old"), (2L, "keep")).toDF("id", "v"))
    t.merge(Seq((1L, "new"), (3L, "ins")).toDF("id", "v"), "id")
    val out = t.snapshot().orderBy("id").as[(Long, String)].collect()
    assert(out === Array((1L, "new"), (2L, "keep"), (3L, "ins")))
  }

  test("merge: several null-key source rows are inserts, not duplicates") {
    val t = GraftTable.create(spark, tmp(),
      Seq((Option(1L), "old")).toDF("id", "v"))
    // null keys never equi-match a target row — Delta treats each as
    // NOT MATCHED; only real key collisions are a merge error
    t.merge(Seq((Option.empty[Long], "x"), (Option.empty[Long], "y"),
      (Option(1L), "new")).toDF("id", "v"), "id")
    val out = t.snapshot().as[(Option[Long], String)].collect().sortBy(_._2)
    assert(out === Array((Option(1L), "new"), (None, "x"), (None, "y")))
    val err = intercept[IllegalArgumentException] {
      t.merge(Seq((Option(2L), "a"), (Option(2L), "b")).toDF("id", "v"), "id")
    }
    assert(err.getMessage.contains("duplicate join keys"))
  }

  test("merge WITH SCHEMA EVOLUTION adds source-only columns; " +
      "pre-merge rows surface null") {
    import graft.tables.GraftTable.{MatchedUpdate, NotMatchedInsert}
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "old"), (2L, "keep")).toDF("id", "v"))
    // without the flag the extra source column is IGNORED (schema
    // enforcement holds — the pre-evolution behavior)
    t.merge(Seq((1L, "new0", 1.0)).toDF("id", "v", "score"), "id")
    assert(t.snapshot().columns.toSeq === Seq("id", "v"))
    t.merge(Seq((1L, "new", 7.5), (3L, "ins", 9.0)).toDF("id", "v", "score"),
      Seq("id"), Seq(MatchedUpdate()), Some(NotMatchedInsert()), Nil,
      evolveSchema = true)
    val snap = t.snapshot()
    assert(snap.columns.toSeq === Seq("id", "v", "score"))
    val out = snap.orderBy("id").as[(Long, String, Option[Double])].collect()
    assert(out === Array((1L, "new", Some(7.5)), (2L, "keep", None),
      (3L, "ins", Some(9.0))))
  }

  test("merge evolution: SET * / INSERT * over a source MISSING a " +
      "target column keeps it on updates, nulls it on inserts") {
    import graft.tables.GraftTable.{MatchedUpdate, NotMatchedInsert}
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "old", 5.0), (2L, "keep", 6.0)).toDF("id", "v", "score"))
    t.merge(Seq((1L, "new"), (3L, "ins")).toDF("id", "v"),
      Seq("id"), Seq(MatchedUpdate()), Some(NotMatchedInsert()), Nil,
      evolveSchema = true)
    val out = t.snapshot().orderBy("id")
      .as[(Long, String, Option[Double])].collect()
    assert(out === Array((1L, "new", Some(5.0)), (2L, "keep", Some(6.0)),
      (3L, "ins", None)))
  }

  test("merge evolution re-adding a DROPPED column does not resurrect " +
      "old bytes") {
    import graft.tables.GraftTable.{MatchedUpdate, NotMatchedInsert}
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "a", 111.0), (2L, "b", 222.0)).toDF("id", "v", "score"))
    t.dropColumn("score")
    t.merge(Seq((1L, "a2", 9.0)).toDF("id", "v", "score"),
      Seq("id"), Seq(MatchedUpdate()), Some(NotMatchedInsert()), Nil,
      evolveSchema = true)
    val out = t.snapshot().orderBy("id")
      .as[(Long, String, Option[Double])].collect()
    // the re-added column takes a FRESH physical name: any file
    // surviving from before the drop must read null, never 222.0
    assert(out === Array((1L, "a2", Some(9.0)), (2L, "b", None)))
  }

  test("merge evolution widens a matched column's type") {
    import graft.tables.GraftTable.{MatchedUpdate, NotMatchedInsert}
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, 5), (2L, 6)).toDF("id", "x")) // x: int
    t.merge(Seq((1L, 10L), (3L, 7L)).toDF("id", "x"), Seq("id"),
      Seq(MatchedUpdate()), Some(NotMatchedInsert()), Nil,
      evolveSchema = true)
    assert(t.snapshot().schema("x").dataType ===
      org.apache.spark.sql.types.LongType)
    val out = t.snapshot().orderBy("id").as[(Long, Long)].collect()
    assert(out === Array((1L, 10L), (2L, 6L), (3L, 7L)))
  }

  test("MERGE on a table with a `src` column: a bare src names the " +
      "target column, src.<col> the source row") {
    import graft.tables.GraftTable.{MatchedDelete, MatchedUpdate, NotMatchedInsert}
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "src"))
    val source = Seq((2L, "B"), (3L, "C"), (4L, "D")).toDF("id", "src")
    t.merge(source, Seq("id"),
      Seq(MatchedDelete(Some(col("src") === "c")),
        MatchedUpdate(Some(col("src.src") === "B"),
          Some(Map("src" -> concat(col("src"), col("src.src")))))),
      Some(NotMatchedInsert()))
    assert(t.snapshot().as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "bB"), (4L, "D")))
    // SET * and INSERT * take the source's `src` column
    t.merge(Seq((1L, "z"), (5L, "e")).toDF("id", "src"), "id")
    assert(t.snapshot().as[(Long, String)].collect().toSet ===
      Set((1L, "z"), (2L, "bB"), (4L, "D"), (5L, "e")))
    // the change feed of the first merge tags every row exactly
    assert(t.changeFeed(0L, 1L).select($"id", $"src", $"_change_type")
      .as[(Long, String, String)].collect().toSet === Set(
        (2L, "b", "update_preimage"), (2L, "bB", "update_postimage"),
        (3L, "c", "delete"), (4L, "D", "insert")))
  }

  test("time travel reads pre-delete state; history records ops") {
    val t = GraftTable.create(spark, tmp(), Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.delete($"id" === 1)
    assert(t.snapshot().count() === 1)
    assert(t.snapshotAt(0).count() === 2)
    val hist = t.history().select("version", "operation").as[(Long, String)].collect().toSeq
    assert(hist === Seq((1L, "DELETE"), (0L, "CREATE"))) // newest first
  }

  test("optimistic concurrency: racing appenders conflict instead of clobbering") {
    val path = tmp()
    GraftTable.create(spark, path, Seq((0L, "seed")).toDF("id", "v"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(Future.sequence((1 to 6).map { i =>
      Future {
        val handle = GraftTable.load(spark, path)
        try { handle.append(Seq((i.toLong, s"w$i")).toDF("id", "v")); 1 }
        catch { case _: graft.tables.CommitConflictException => 0 }
      }
    }), 120.seconds).toList
    val succeeded = results.sum
    // blind appends re-resolve the base and retry on conflict (the
    // Delta protocol), so every racer lands — and none clobbers
    // another: count = seed + all six, one commit per winner
    assert(succeeded === 6)
    val t = GraftTable.load(spark, path)
    assert(t.snapshot().count() === 1 + succeeded)
    assert(t.latestVersion === succeeded.toLong)
  }

  test("rowCount answers COUNT(*) from metadata alone") {
    val t = GraftTable.create(spark, tmp(),
      (1L to 100L).map(i => (i, i * 1.0)).toDF("id", "x").repartition(4))
    assert(t.rowCount === Some(100L))
    t.append(Seq((101L, 1.0)).toDF("id", "x"))
    assert(t.rowCount === Some(101L))
    t.delete($"id" <= 10)
    assert(t.rowCount === Some(91L))
    assert(t.rowCount === Some(t.snapshot().count()))
    // active deletion vectors disable the metadata fast path
    t.deleteMor($"id" === 50)
    assert(t.rowCount === None)
    t.purgeDvs()
    assert(t.rowCount === Some(90L))
    assert(t.detail().collect()(0).getAs[java.lang.Long]("num_rows") === 90L)
  }

  test("CHECK constraints validate existing data and reject bad writes") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x"))
    t.addConstraint("x_positive", "x > 0")
    assert(t.constraints === Map("x_positive" -> "x > 0"))
    // good append passes
    t.append(Seq((3L, 5.0)).toDF("id", "x"))
    // violating append rejected, table unchanged
    intercept[graft.tables.ConstraintViolationException] {
      t.append(Seq((4L, -1.0)).toDF("id", "x"))
    }
    assert(t.snapshot().count() === 3)
    // constraint that existing data violates is refused
    intercept[graft.tables.ConstraintViolationException] {
      t.addConstraint("x_small", "x < 15")
    }
    // constraints survive load() from the log
    assert(GraftTable.load(spark, t.root.toString).constraints.contains("x_positive"))
  }

  test("CHECK constraints are enforced on update and overwrite too") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x"))
    t.addConstraint("x_positive", "x > 0")
    // UPDATE that would push a row into a violating state is rejected
    intercept[graft.tables.ConstraintViolationException] {
      t.update($"id" === 1, Map("x" -> lit(-5.0)))
    }
    // ... and the table is unchanged (no partial commit)
    assert(t.snapshot().where($"x" <= 0).count() === 0)
    // OVERWRITE with violating data is rejected
    intercept[graft.tables.ConstraintViolationException] {
      t.overwrite(Seq((9L, -1.0)).toDF("id", "x"))
    }
    assert(t.snapshot().count() === 2)
    // compliant update/overwrite still work
    t.update($"id" === 1, Map("x" -> lit(99.0)))
    t.overwrite(Seq((9L, 1.0)).toDF("id", "x"))
    assert(t.snapshot().count() === 1)
  }

  test("stats pruning stays conservative for longs beyond 2^53") {
    // (2^53 + 3).toDouble rounds UP to 2^53 + 4 — an unwidened min
    // would exceed the true min and could prune a file that matches.
    val v = (1L << 53) + 3L
    val t = GraftTable.create(spark, tmp(), Seq((v, "a")).toDF("id", "s"))
    val kept = t.snapshotPruned("id", v.toDouble, v.toDouble)
    assert(kept.count() === 1)
    // far-away ranges still prune to empty
    assert(t.snapshotPruned("id", 0.0, 1000.0).count() === 0)
  }

  test("change feed classifies inserts/updates/deletes per commit") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)).toDF("id", "s", "x"))
    t.append(Seq((4L, "d", 4.0)).toDF("id", "s", "x"))             // v1
    t.update($"id" === 2, Map("x" -> lit(20.0)))                   // v2
    t.delete($"id" === 1)                                          // v3
    t.compact(1)                                                   // v4: no change
    t.merge(Seq((3L, "c2", 30.0), (5L, "e", 5.0)).toDF("id", "s", "x"), "id") // v5
    val feed = t.changeFeed(0)
      .select($"id", $"s", $"x", $"_change_type", $"_commit_version")
      .as[(Long, String, Double, String, Long)].collect().toSet
    assert(feed === Set(
      (4L, "d", 4.0, "insert", 1L),
      (2L, "b", 2.0, "update_preimage", 2L),
      (2L, "b", 20.0, "update_postimage", 2L),
      (1L, "a", 1.0, "delete", 3L),
      // write-time CDC splits merge rows exactly (the file-diff
      // fallback could only say "upsert")
      (3L, "c", 3.0, "update_preimage", 5L),
      (3L, "c2", 30.0, "update_postimage", 5L),
      (5L, "e", 5.0, "insert", 5L)))
    // bounded range reads a sub-window of the feed
    assert(t.changeFeed(1, 3).select($"_change_type").distinct()
      .as[String].collect().toSet === Set("update_preimage", "update_postimage", "delete"))
    // fromVersion = -1 reads from CREATE: initial rows appear as inserts
    assert(t.changeFeed(-1, 0)
      .where($"_change_type" === "insert").count() === 3)
  }

  test("convert adopts a plain parquet directory in place") {
    val dir = Files.createTempDirectory("graft_conv_").resolve("t").toString
    val src = spark.range(0, 1000).select($"id", ($"id" % 7).as("g"))
    src.repartition(4).write.parquet(dir)
    val t = GraftTable.convert(spark, dir)
    assert(t.snapshot().count() === 1000)
    assert(t.history().select("operation").as[String].collect().last === "CONVERT")
    // DML on the converted table is transactional copy-on-write
    t.delete($"g" === 0)
    assert(t.snapshot().count() === src.where($"g" =!= 0).count())
    // time travel back to the adopted state
    assert(t.snapshotAt(0).count() === 1000)
    // and the registered source reads it with stats pruning available
    assert(spark.read.format("graft-table").load(dir).count() ===
      t.snapshot().count())
    intercept[IllegalArgumentException] { GraftTable.convert(spark, dir) }
  }

  test("compactToSize targets output file count from current bytes") {
    val t = GraftTable.create(spark, tmp(),
      spark.range(0, 20000).select($"id", ($"id" * 2).as("v"))
        .repartition(16))
    val bytes = t.snapshotInfo(t.latestVersion).files
      .map(f => java.nio.file.Files.size(java.nio.file.Paths.get(f))).sum
    // pick a target that should produce ~4 files
    t.compactToSize(targetBytes = math.max(1L, bytes / 4))
    val n = t.snapshotInfo(t.latestVersion).files.size
    assert(n >= 2 && n <= 6, s"got $n files for a 4-file target")
    assert(t.snapshot().count() === 20000)
  }

  test("the change feed reads DML change sets as persisted and diffs " +
      "file contents only for OVERWRITE and RESTORE") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)).toDF("id", "s", "x"))
    t.update($"id" >= 2, Map("x" -> ($"x" * 10)))                   // v1
    t.delete($"id" === 1)                                             // v2
    t.overwrite(Seq((2L, "b", 20.0), (4L, "d", 4.0)).toDF("id", "s", "x")) // v3
    t.restore(1L)                                                     // v4
    val feed = t.changeFeed(0)
      .select($"id", $"s", $"x", $"_change_type", $"_commit_version")
      .as[(Long, String, Double, String, Long)].collect().toSet
    assert(feed === Set(
      (2L, "b", 2.0, "update_preimage", 1L), (2L, "b", 20.0, "update_postimage", 1L),
      (3L, "c", 3.0, "update_preimage", 1L), (3L, "c", 30.0, "update_postimage", 1L),
      (1L, "a", 1.0, "delete", 2L),
      // unchanged rows inside rewritten files cancel out of the diff
      (3L, "c", 30.0, "delete", 3L), (4L, "d", 4.0, "insert", 3L),
      (4L, "d", 4.0, "delete", 4L), (1L, "a", 1.0, "insert", 4L),
      (3L, "c", 30.0, "insert", 4L)))
  }

  test("change feed spans additive schema evolution (old commits pad nulls)") {
    val t = GraftTable.create(spark, tmp(), Seq((1L, "a")).toDF("id", "v"))
    t.append(Seq((2L, "b")).toDF("id", "v"))                          // v1: pre-evolve
    t.append(Seq((3L, "c", 9.5)).toDF("id", "v", "score"), evolve = true) // v2
    t.update($"id" === 1, Map("v" -> lit("a2")))                      // v3
    val feed = t.changeFeed(0)
      .select($"id", $"v", $"score", $"_change_type", $"_commit_version")
      .as[(Long, String, Option[Double], String, Long)].collect().toSet
    assert(feed === Set(
      (2L, "b", None, "insert", 1L),           // pre-evolve commit: score padded null
      (3L, "c", Some(9.5), "insert", 2L),
      (1L, "a", None, "update_preimage", 3L),
      (1L, "a2", None, "update_postimage", 3L)))
  }

  test("appendIfNew is idempotent per batch id (exactly-once sink)") {
    val t = GraftTable.create(spark, tmp(), Seq((1L, "a")).toDF("id", "v"))
    t.appendIfNew(Seq((2L, "b")).toDF("id", "v"), batchId = 0)
    // replayed epoch: same id commits nothing
    t.appendIfNew(Seq((2L, "b")).toDF("id", "v"), batchId = 0)
    t.appendIfNew(Seq((3L, "c")).toDF("id", "v"), batchId = 1)
    // stale epoch after progress is also skipped
    t.appendIfNew(Seq((9L, "x")).toDF("id", "v"), batchId = 0)
    assert(t.snapshot().as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(t.lastStreamBatchId() === 1L)
    // and the watermark survives a fresh load() from the log
    assert(GraftTable.load(spark, t.root.toString).lastStreamBatchId() === 1L)
  }

  test("appendIfNew watermarks are independent per app id") {
    val t = GraftTable.create(spark, tmp(), Seq((1L, "a")).toDF("id", "v"))
    // query A makes progress to batch 5
    t.appendIfNew(Seq((2L, "b")).toDF("id", "v"), batchId = 5, appId = "qA")
    // query B starts from batch 0 (fresh checkpoint) — must NOT be
    // skipped by A's watermark (that would be silent data loss)
    t.appendIfNew(Seq((3L, "c")).toDF("id", "v"), batchId = 0, appId = "qB")
    assert(t.snapshot().count() === 3)
    // each app replays idempotently against ITS OWN watermark
    t.appendIfNew(Seq((3L, "c")).toDF("id", "v"), batchId = 0, appId = "qB")
    t.appendIfNew(Seq((2L, "b")).toDF("id", "v"), batchId = 5, appId = "qA")
    assert(t.snapshot().count() === 3)
    assert(t.lastStreamBatchId("qA") === 5L)
    assert(t.lastStreamBatchId("qB") === 0L)
  }

  test("shallow clone shares files zero-copy until DML un-shares them") {
    val srcPath = tmp()
    val src = GraftTable.create(spark, srcPath,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    src.addConstraint("id_positive", "id > 0")
    val dstPath = tmp()
    val clone = GraftTable.shallowClone(spark, srcPath, dstPath)
    // same data, no data files under the clone's own directory
    assert(clone.snapshot().as[(Long, String)].collect().toSet ===
      src.snapshot().as[(Long, String)].collect().toSet)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dstPath).resolve("files")))
    // constraints carried over
    assert(clone.constraints.contains("id_positive"))
    // writes to the clone never touch the source
    clone.delete($"id" === 1)
    clone.append(Seq((4L, "d")).toDF("id", "v"))
    assert(clone.snapshot().count() === 3)
    assert(src.snapshot().count() === 3)
    assert(src.snapshot().where($"id" === 1).count() === 1)
  }

  test("restore rolls back to an old version without rewriting data") {
    val t = GraftTable.create(spark, tmp(), Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.delete($"id" === 1)
    assert(t.snapshot().count() === 1)
    t.restore(0)
    assert(t.snapshot().count() === 2)
    val hist = t.history().select("operation").as[String].collect().toSeq
    assert(hist === Seq("RESTORE", "DELETE", "CREATE")) // newest first
  }

  test("vacuum reclaims unreferenced files; retained versions still read") {
    val orders = Tables.load(spark, sf, "orders").repartition(4, $"o_orderkey")
    val t = GraftTable.create(spark, tmp(), orders)
    t.delete($"o_orderstatus" === "P")   // v1 rewrites all 4 files
    val rows = t.snapshot().count()
    val reclaimed = t.vacuum(retainVersions = 1)
    assert(reclaimed >= 1, s"reclaimed $reclaimed")
    assert(t.snapshot().count() === rows)   // latest unaffected
    intercept[Exception] { t.snapshotAt(0).count() }  // pre-vacuum history gone
  }

  test("compact reduces file count, preserves data") {
    val orders = Tables.load(spark, sf, "orders").repartition(16)
    val t = GraftTable.create(spark, tmp(), orders)
    t.compact(2)
    val c = t.history().where($"operation" === "COMPACT")
      .select("num_files").as[Long].head()
    assert(c <= 2)
    assert(t.snapshot().count() === orders.count())
  }

  test("type widening: long data lands on an int column under evolve") {
    import org.apache.spark.sql.types._
    val t = GraftTable.create(spark, tmp(),
      Seq((1, "a"), (2, "b")).toDF("n", "v")) // n: IntegerType
    assert(t.snapshot().schema("n").dataType === IntegerType)
    // wider batch without evolve is refused
    intercept[IllegalArgumentException] {
      t.append(Seq((3L, "c")).toDF("n", "v"))
    }
    // with evolve the LOGICAL type widens; the old int32 files stay
    // and upcast at read (no rewrite)
    t.append(Seq((5000000000L, "c")).toDF("n", "v"), evolve = true)
    assert(t.snapshot().schema("n").dataType === LongType)
    assert(t.snapshot().orderBy("n").select("n").as[Long].collect()
      === Array(1L, 2L, 5000000000L))
    // time travel reads the PRE-widening schema exactly
    assert(t.snapshotAt(0).schema("n").dataType === IntegerType)
    assert(t.snapshotAt(0).count() === 2)
    // a narrower batch after widening upcasts at write, no evolve flag
    t.append(Seq((7, "d")).toDF("n", "v"))
    assert(t.snapshot().where($"v" === "d").select("n").as[Long].head() === 7L)
    // DML across mixed-width files reads both sides
    t.delete($"n" === 2L)
    assert(t.snapshot().count() === 3)
    // float -> double and decimal precision growth widen too;
    // long -> int does not
    assert(GraftTable.widens(FloatType, DoubleType))
    assert(GraftTable.widens(DecimalType(10, 2), DecimalType(20, 2)))
    assert(!GraftTable.widens(LongType, IntegerType))
    assert(!GraftTable.widens(DecimalType(10, 2), DecimalType(20, 4)))
  }

  test("matchHits resolves scan hits in linear time at 50k files") {
    val t = GraftTable.create(spark, tmp(), Seq((1L, "a")).toDF("id", "v"))
    // synthetic 50k-file commit: candidates are commit-relative names,
    // hits the URI-form absolute paths the scan reports — the shape a
    // broad DELETE/MERGE hands matchHits at 100× scale
    val candidates = (0 until 50000).map(i => f"files/f$i%05d.parquet")
    val hits = (0 until 50000 by 2)
      .map(i => f"file://${t.root}/files/f$i%05d.parquet").toSet
    val start = System.nanoTime()
    val matched = t.matchHits(candidates, hits)
    val elapsedMs = (System.nanoTime() - start) / 1000000
    assert(matched.size === 25000)
    assert(matched.forall(f =>
      f.stripPrefix("files/f").stripSuffix(".parquet").toInt % 2 == 0))
    // O(candidates × hits) suffix scanning takes minutes here; the
    // Set intersection finishes in well under 5 s even on a cold JVM
    assert(elapsedMs < 5000, s"matchHits took ${elapsedMs} ms")
    // absolute candidates (shallow-clone refs) resolve too
    val absCand = Seq(s"${t.root}/files/f00002.parquet")
    assert(t.matchHits(absCand, hits) === absCand)
  }

  test("detail() tolerates missing data files (vacuumed-source clone)") {
    val srcDir = tmp()
    val src = GraftTable.create(spark, srcDir,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val clone = GraftTable.shallowClone(spark, srcDir, tmp())
    // source rewrites + aggressive vacuum reclaim the files the clone
    // still references
    src.overwrite(Seq((3L, "c")).toDF("id", "v"))
    src.vacuum(1)
    // DESCRIBE DETAIL must stay usable on the damaged table — it is
    // the inspection step BEFORE fsck, not after
    val d = clone.detail().head()
    assert(d.getAs[Long]("num_files") === clone.snapshotInfo(0).files.size)
    assert(clone.fsck().where($"issue" === "missing").count() > 0)
  }

  test("clusterBy settles under-target: a just-clustered layout " +
      "whose key cannot fill the requested count stops re-clustering") {
    // 2 distinct keys → repartitionByRange(4) can only emit 2
    // non-empty partitions, so the requested count is unreachable —
    // without the CLUSTER-base acceptance, a maintenance loop
    // re-clusters (and re-commits) the identical layout forever
    val t = GraftTable.create(spark, tmp(),
      (1L to 100L).map(i => (i % 2, i)).toDF("k", "v").repartition(6))
    t.clusterBy(4, "k")
    val v1 = t.latestVersion
    val n1 = t.snapshotInfo(v1).files.size
    assert(n1 < 4, s"setup: expected an under-target layout, got $n1")
    assert(t.clusterBy(4, "k") === v1,
      "re-cluster of a just-clustered under-target layout must settle")
    // a FINER request than the recorded one still rewrites — the
    // settle only covers equal-or-coarser repeats (the recorded
    // requestedFiles metric gates it), so a genuine granularity
    // upgrade is never silently ignored
    val v1b = t.clusterBy(8, "k")
    assert(v1b > v1,
      "a finer split request must rewrite, not settle on the old layout")
    assert(t.clusterBy(8, "k") === v1b,
      "the repeated finer request settles once recorded")
    // a fresh under-target layout from any OTHER op still rewrites:
    // fewer files than requested is a genuine split request there
    t.compact(1)
    val v2 = t.latestVersion
    assert(t.clusterBy(4, "k") > v2,
      "a compacted single file must still honor a split request")
    assert(t.snapshot().count() === 100)
  }

  test("clusterBy keeps data and bounds per-file key ranges") {
    val orders = Tables.load(spark, sf, "orders")
    val t = GraftTable.create(spark, tmp(), orders)
    t.clusterBy(4, "o_custkey")
    assert(t.snapshot().count() === orders.count())
    // file-level clustering: per-file [min,max] ranges must not overlap
    val ranges = t.snapshot()
      .groupBy(input_file_name().as("f"))
      .agg(min($"o_custkey").as("lo"), max($"o_custkey").as("hi"))
      .orderBy($"lo").as[(String, Long, Long)].collect()
    ranges.sliding(2).foreach {
      case Array((_, _, hi1), (_, lo2, _)) => assert(hi1 <= lo2)
      case _ =>
    }
  }
}
