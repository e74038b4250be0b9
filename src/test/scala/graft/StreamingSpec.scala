package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.streaming.Streams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming windowed agg matches batch equivalent") {
    val batch = Streams.windowedAgg(spark, sf)
    val ev = Tables.events(spark, sf)
    val dir = Files.createTempDirectory("graft_stream_").toString
    ev.write.parquet(s"$dir/in")
    val streamIn = spark.readStream.schema(ev.schema).parquet(s"$dir/in")
    val q = Streams.windowedAggStream(streamIn)
      .writeStream.outputMode("append")
      .format("memory").queryName("win_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("win_out")
    // watermark in append mode holds back the last open window(s);
    // every emitted window must match batch exactly
    val joined = streamed.as("s").join(batch.as("b"),
      $"s.window_start" === $"b.window_start" && $"s.event_type" === $"b.event_type")
    assert(streamed.count() > 0)
    assert(joined.where($"s.n_events" =!= $"b.n_events" ||
      $"s.sum_value" =!= $"b.sum_value").count() === 0)
    assert(joined.count() === streamed.count())
  }

  test("flatMapGroupsWithState sessionization matches batch on closed sessions") {
    val batch = Streams.sessionize(spark, sf)
      .select($"user_id", $"session_start", $"session_end", $"n_events")
    val evDs = Tables.events(spark, sf)
      .select($"user_id", $"event_id", $"ts", $"value").as[Streams.Ev]
    // batch Dataset through the same stateful fn (groups arrive whole)
    val viaState = Streams.sessionizeStream(evDs).toDF()
    // the state fn only emits CLOSED sessions; each emitted one must
    // exist identically in the batch result
    val joined = viaState.as("s").join(batch.as("b"),
      Seq("user_id", "session_start", "session_end", "n_events"))
    assert(joined.count() === viaState.count())
    assert(viaState.count() > 0)
  }

  test("stream-stream interval join matches the batch attribution join") {
    val batch = Streams.intervalJoin(spark, sf)
    val ev = Tables.events(spark, sf)
    val dir = Files.createTempDirectory("graft_ssj_").toString
    ev.write.parquet(s"$dir/in")
    def side(sel: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      sel(spark.readStream.schema(ev.schema).parquet(s"$dir/in"))
    val views = side(_.filter($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts".as("view_ts")))
    val purchases = side(_.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"event_id".as("purchase_id"),
        $"ts".as("purchase_ts"), $"value"))
    val q = Streams.intervalJoinStream(views, purchases)
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("ssj_out")
    assert(streamed.count() === batch.count())
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("streaming dedup suppresses redelivered events within the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, minute: Int) = Streams.Ev(1L, id,
      java.time.Instant.parse(f"2024-01-01T10:$minute%02d:00Z"), 1.0)
    val mem = MemoryStream[Streams.Ev]
    val out = Files.createTempDirectory("graft_sdd_").toString
    val ckpt = Files.createTempDirectory("graft_sdd_ckpt_").toString
    val q = Streams.dedupEventsStream(
        mem.toDS().toDF("user_id", "event_id", "ts", "value"))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).start()
    mem.addData(ev(1, 0), ev(2, 5), ev(1, 0)) // in-batch duplicate
    q.processAllAvailable()
    mem.addData(ev(2, 5), ev(3, 10))          // cross-batch redelivery
    q.processAllAvailable()
    q.stop()
    val ids = spark.read.parquet(out).select($"event_id")
      .as[Long].collect().sorted.toSeq
    assert(ids === Seq(1L, 2L, 3L), "each event id must land exactly once")
  }

  test("streaming read of a GraftTable picks up appended versions") {
    val dir = Files.createTempDirectory("graft_follow_").resolve("t").toString
    val ev = Tables.events(spark, sf)
    val t = graft.tables.GraftTable.create(spark, dir, ev.limit(40))
    val stream = Streams.followTable(spark, dir, ev.schema)
    val q = stream.groupBy($"event_type").agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("tbl_follow")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("tbl_follow").agg(sum($"n")).as[Long].head() === 40)
      t.append(ev.limit(100).except(ev.limit(40)).toDF())
      q.processAllAvailable()
      assert(spark.table("tbl_follow").agg(sum($"n")).as[Long].head() === 100)
    } finally q.stop()
  }

  test("graft-table V1 source streams commit versions exactly-once") {
    import graft.tables.GraftTable
    val root = Files.createTempDirectory("graft_src_").resolve("t").toString
    val t = GraftTable.create(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.append(Seq((3L, "c")).toDF("id", "v"))
    val ckpt = Files.createTempDirectory("graft_src_ckpt_").toString
    val outDir = Files.createTempDirectory("graft_src_sink_").toString
    def drain(): Unit = {
      val q = spark.readStream.format("graft-table").option("path", root).load()
        .writeStream.outputMode("append")
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def sink() = spark.read.parquet(outDir).as[(Long, String)].collect()
    drain()
    assert(sink().toSet === Set((1L, "a"), (2L, "b"), (3L, "c")))
    // new commits after the checkpoint are picked up exactly once
    t.append(Seq((4L, "d")).toDF("id", "v"))
    t.append(Seq((5L, "e")).toDF("id", "v"))
    drain()
    assert(sink().groupBy(identity).forall(_._2.length == 1))
    assert(sink().length === 5)
    // a copy-on-write commit poisons the stream rather than double-reading
    t.delete($"id" === 1)
    t.append(Seq((6L, "f")).toDF("id", "v"))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain()
    }
    assert(err.getMessage.contains("non-append") ||
      Option(err.getCause).exists(_.getMessage.contains("non-append")))
  }

  test("SQL INSERT INTO loop feeds a live stream (01-notebook 188-201)") {
    // the reference scenario end-to-end in SQL: a stream reads the
    // registered table while a loop of plain `INSERT INTO ... VALUES`
    // statements lands concurrently — every insert is a transactional
    // append commit the version-offset source picks up exactly once
    import graft.tables.{GraftSql, GraftTable}
    val root = Files.createTempDirectory("graft_insstream_")
      .resolve("t").toString
    GraftTable.create(spark, root,
      Seq(("CA", 100L)).toDF("addr_state", "amount"))
    spark.sql("DROP TABLE IF EXISTS grf_ins_stream")
    spark.sql(
      s"CREATE TABLE grf_ins_stream USING `graft-table` OPTIONS (path '$root')")
    val q = spark.readStream.format("graft-table").option("path", root).load()
      .writeStream.outputMode("append")
      .format("memory").queryName("grf_ins_stream_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_insstream_ckpt_").toString)
      .start()
    try {
      (1 to 5).foreach { i =>
        GraftSql.sql(spark,
          s"INSERT INTO grf_ins_stream VALUES ('IA', ${i * 10})")
      }
      q.processAllAvailable()
      val seen = spark.table("grf_ins_stream_out")
        .as[(String, Long)].collect()
      assert(seen.count(_._1 == "IA") === 5)
      assert(seen.filter(_._1 == "IA").map(_._2).sorted ===
        Array(10L, 20L, 30L, 40L, 50L))
      assert(seen.length === 6) // seed + 5, nothing double-read
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS grf_ins_stream")
    }
  }

  test("graft-table source in cdc mode streams the change feed") {
    import graft.tables.GraftTable
    val root = Files.createTempDirectory("graft_cdc_").resolve("t").toString
    val t = GraftTable.create(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.update($"id" === 1, Map("v" -> lit("a2")))       // v1
    t.delete($"id" === 2)                              // v2
    val ckpt = Files.createTempDirectory("graft_cdc_ckpt_").toString
    val outDir = Files.createTempDirectory("graft_cdc_sink_").toString
    def drain(): Unit = {
      val q = spark.readStream.format("graft-table")
        .option("path", root).option("mode", "cdc").load()
        .writeStream.outputMode("append")
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    val feed = spark.read.parquet(outDir)
      .select($"id", $"v", $"_change_type", $"_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    // the first batch starts before CREATE: initial rows arrive as
    // inserts at v0 (Delta startingVersion=0 semantics)
    assert(feed === Set(
      (1L, "a", "insert", 0L),
      (2L, "b", "insert", 0L),
      (1L, "a", "update_preimage", 1L),
      (1L, "a2", "update_postimage", 1L),
      (2L, "b", "delete", 2L)))
    // further DML streams incrementally (copy-on-write commits are fine in cdc mode)
    t.append(Seq((3L, "c")).toDF("id", "v"))           // v3
    drain()
    assert(spark.read.parquet(outDir).count() === 6)
    assert(spark.read.parquet(outDir)
      .where($"_change_type" === "insert" && $"id" === 3).count() === 1)
  }

  test("streamToTable lands each micro-batch exactly once") {
    import graft.tables.GraftTable
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Long]
    val root = Files.createTempDirectory("graft_sink_").resolve("t").toString
    val t = GraftTable.create(spark, root,
      spark.range(0).select($"id".as("value")))
    val ckpt = Files.createTempDirectory("graft_sink_ckpt_").toString
    val q = Streams.streamToTable(mem.toDF(), t, ckpt)
    mem.addData(1L, 2L, 3L)
    q.processAllAvailable()
    mem.addData(4L, 5L)
    q.processAllAvailable()
    q.stop()
    assert(t.snapshot().as[Long].collect().toSet === Set(1L, 2L, 3L, 4L, 5L))
    // simulate an epoch replay at the sink: nothing lands twice.
    // the sink keys its watermark by appId = checkpoint path, so the
    // replay must present the SAME app id — a different appId is a
    // different query and legitimately starts its own batch sequence.
    val before = t.latestVersion
    t.appendIfNew(Seq(1L).toDF("value"), batchId = 0, appId = ckpt)
    assert(t.latestVersion === before)
  }

  test("watermark drops late events in append-mode windowed agg (MemoryStream)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val agg = Streams.windowedAggStream(events)
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      // batch 1: events in hour 10 and hour 13 → watermark advances to 12:00
      input.addData((t("2024-01-01 10:10:00"), "click", 1.0),
        (t("2024-01-01 10:20:00"), "click", 2.0),
        (t("2024-01-01 13:00:00"), "view", 1.0))
      q.processAllAvailable()
      // batch 2: a LATE event for hour 10 (behind the 12:00 watermark)
      // plus a fresh one that closes hour 13
      input.addData((t("2024-01-01 10:30:00"), "click", 100.0),
        (t("2024-01-01 15:00:00"), "view", 1.0))
      q.processAllAvailable()
      val out = spark.table("late_out")
        .where($"event_type" === "click")
        .select($"n_events", $"sum_value").as[(Long, Double)].collect()
      // the hour-10 click window must have closed with ONLY the two
      // on-time events; the late 100.0 was dropped by the watermark
      assert(out.toSeq === Seq((2L, 3.0)), out.mkString(","))
    } finally q.stop()
  }

  test("incremental autoloader ingests each file exactly once") {
    val stage = Files.createTempDirectory("graft_inc_")
    val ev = Tables.events(spark, sf)
    ev.limit(100).repartition(2).write.parquet(stage.resolve("raw").toString)
    val cp = stage.resolve("cp").toString
    val p1 = graft.sources.Ingest.incrementalLoad(spark, stage.resolve("raw").toString, cp)
    assert(p1.count() === 100)
    // no new files → nothing
    val p2 = graft.sources.Ingest.incrementalLoad(spark, stage.resolve("raw").toString, cp)
    assert(p2.count() === 0)
    // new file arrives → only it is read
    ev.limit(150).repartition(1).write.mode("append")
      .parquet(stage.resolve("raw").toString)
    val p3 = graft.sources.Ingest.incrementalLoad(spark, stage.resolve("raw").toString, cp)
    assert(p3.count() === 150)
  }

  test("structured-streaming incremental ingest (AvailableNow) is exactly-once") {
    val stage = Files.createTempDirectory("graft_ss_inc_")
    val ev = Tables.events(spark, sf)
    ev.limit(80).write.parquet(stage.resolve("raw").toString)
    Streams.incrementalIngest(spark, stage.resolve("raw").toString,
      stage.resolve("cp").toString, stage.resolve("out").toString, ev.schema)
    assert(spark.read.parquet(stage.resolve("out").toString).count() === 80)
    // second run, no new files: output unchanged
    Streams.incrementalIngest(spark, stage.resolve("raw").toString,
      stage.resolve("cp").toString, stage.resolve("out").toString, ev.schema)
    assert(spark.read.parquet(stage.resolve("out").toString).count() === 80)
  }

  test("streaming read of a table while batch appends land (01-notebook 175-201)") {
    val stage = Files.createTempDirectory("graft_concurrent_")
    val dir = stage.resolve("tbl").toString
    val ev = Tables.events(spark, sf)
    ev.limit(50).write.parquet(dir)
    val agg = spark.readStream.schema(ev.schema).parquet(dir)
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("live_counts")
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    try {
      q.processAllAvailable()
      val n1 = spark.table("live_counts").agg(sum($"n")).as[Long].head()
      assert(n1 === 50)
      // concurrent batch insert (the reference's INSERT loop)
      ev.limit(120).write.mode("append").parquet(dir)
      q.processAllAvailable()
      val n2 = spark.table("live_counts").agg(sum($"n")).as[Long].head()
      assert(n2 === 170)
    } finally q.stop()
  }

  test("graft-table source drains with Trigger.AvailableNow (trigger-once)") {
    import graft.tables.GraftTable
    val root = Files.createTempDirectory("graft_avnow_").resolve("t").toString
    val t = GraftTable.create(spark, root,
      spark.range(0, 5).select($"id".as("value")))
    t.append(spark.range(5, 9).select($"id".as("value")))
    val q = spark.readStream.format("graft-table").option("path", root).load()
      .writeStream.format("memory").queryName("gt_avnow")
      .trigger(Trigger.AvailableNow()).start()
    // AvailableNow terminates once the current high watermark drains
    assert(q.awaitTermination(60000), "query did not self-terminate")
    assert(spark.table("gt_avnow").as[Long].collect().toSet ===
      (0L until 9L).toSet)
  }

  test("stream-static join enriches the graft-table stream with a dim") {
    import graft.tables.GraftTable
    val root = Files.createTempDirectory("graft_ssj_").resolve("t").toString
    val t = GraftTable.create(spark, root,
      spark.range(0, 6).select($"id".as("k"), ($"id" * 10).as("amount")))
    val dim = spark.range(0, 6)
      .select($"id".as("k"), concat(lit("seg_"), ($"id" % 2)).as("segment"))
    val q = spark.readStream.format("graft-table").option("path", root).load()
      .join(dim, Seq("k"))
      .groupBy($"segment").agg(sum($"amount").as("total"))
      .writeStream.format("memory").queryName("gt_ssj")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000))
    val got = spark.table("gt_ssj").as[(String, Long)].collect().toMap
    assert(got === Map("seg_0" -> 60L, "seg_1" -> 90L))
  }

  test("startingVersion option skips the table's history") {
    import graft.tables.GraftTable
    val root = Files.createTempDirectory("graft_sv_").resolve("t").toString
    val t = GraftTable.create(spark, root,
      spark.range(0, 3).select($"id".as("value")))     // v0
    t.append(spark.range(3, 6).select($"id".as("value"))) // v1
    t.append(spark.range(6, 8).select($"id".as("value"))) // v2
    val q = spark.readStream.format("graft-table").option("path", root)
      .option("startingVersion", "2").load()
      .writeStream.format("memory").queryName("gt_sv")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000))
    // only the v2 commit's rows stream out
    assert(spark.table("gt_sv").as[Long].collect().toSet === Set(6L, 7L))
  }

  test("streaming skips maintenance commits instead of dying") {
    import graft.tables.GraftTable
    val root = Files.createTempDirectory("graft_mnt_").resolve("t").toString
    val t = GraftTable.create(spark, root,
      spark.range(0, 4).select($"id".as("value")))
    val ckpt = Files.createTempDirectory("graft_mnt_ckpt_").toString
    val outDir = Files.createTempDirectory("graft_mnt_sink_").toString
    def drain(): Unit = {
      val q = spark.readStream.format("graft-table").option("path", root).load()
        .writeStream.outputMode("append")
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    // OPTIMIZE between batches: no logical change — the stream must
    // SKIP the commit (Delta dataChange=false), not throw, and must
    // not re-emit the compacted rows
    t.compact(1)
    t.append(spark.range(4, 6).select($"id".as("value")))
    drain()
    val out = spark.read.parquet(outDir).as[Long].collect()
    assert(out.sorted === (0L until 6L).toArray, s"got ${out.sorted.toSeq}")
  }

  test("maxVersionsPerTrigger bounds each micro-batch's catch-up") {
    import graft.tables.GraftTable
    val root = Files.createTempDirectory("graft_mvpt_").resolve("t").toString
    val t = GraftTable.create(spark, root,
      spark.range(0, 2).select($"id".as("value")))        // v0
    t.append(spark.range(2, 4).select($"id".as("value"))) // v1
    t.append(spark.range(4, 6).select($"id".as("value"))) // v2
    t.append(spark.range(6, 8).select($"id".as("value"))) // v3
    val seen = scala.collection.mutable.ArrayBuffer[Long]()
    val q = spark.readStream.format("graft-table").option("path", root)
      .option("maxVersionsPerTrigger", "1").load()
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.synchronized { seen += df.count() }; ()
      }
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    // the 4-version backlog drains in steps of one version (2 rows),
    // never in one giant batch
    assert(seen.sum === 8, s"got $seen")
    assert(seen.forall(_ <= 2), s"a batch exceeded one version: $seen")
    assert(seen.count(_ > 0) >= 4, s"expected >=4 non-empty batches: $seen")
  }

  test("maxBytesPerTrigger admits versions by byte budget, at least one each") {
    import graft.tables.GraftTable
    val root = Files.createTempDirectory("graft_mbpt_").resolve("t").toString
    val t = GraftTable.create(spark, root,
      spark.range(0, 50).select($"id".as("value")).coalesce(1))        // v0
    t.append(spark.range(50, 100).select($"id".as("value")).coalesce(1))  // v1
    t.append(spark.range(100, 150).select($"id".as("value")).coalesce(1)) // v2
    t.append(spark.range(150, 200).select($"id".as("value")).coalesce(1)) // v3
    val seen = scala.collection.mutable.ArrayBuffer[Long]()
    // a 1-byte budget is below ANY commit's size: soft-max semantics
    // must still admit exactly one version per trigger, never zero
    val q = spark.readStream.format("graft-table").option("path", root)
      .option("maxBytesPerTrigger", "1").load()
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.synchronized { seen += df.count() }; ()
      }
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    assert(seen.sum === 200, s"got $seen")
    assert(seen.forall(_ <= 50), s"a batch exceeded one version: $seen")
    assert(seen.count(_ > 0) >= 4, s"expected >=4 non-empty batches: $seen")

    // a generous budget (and k/m/g spellings parse) drains in one batch
    val seenBig = scala.collection.mutable.ArrayBuffer[Long]()
    val q2 = spark.readStream.format("graft-table").option("path", root)
      .option("maxBytesPerTrigger", "1g").load()
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        seenBig.synchronized { seenBig += df.count() }; ()
      }
      .trigger(Trigger.AvailableNow()).start()
    assert(q2.awaitTermination(120000))
    assert(seenBig.sum === 200, s"got $seenBig")
    assert(seenBig.count(_ > 0) === 1,
      s"a 1g budget should drain the backlog in one batch: $seenBig")
  }

  test("maxFilesPerTrigger admits versions by file count, at least one each") {
    import graft.tables.GraftTable
    val root = Files.createTempDirectory("graft_mfpt_").resolve("t").toString
    // each version lands 2 files
    val t = GraftTable.create(spark, root,
      spark.range(0, 20).select($"id".as("value")).repartition(2))     // v0
    t.append(spark.range(20, 40).select($"id".as("value")).repartition(2))
    t.append(spark.range(40, 60).select($"id".as("value")).repartition(2))
    t.append(spark.range(60, 80).select($"id".as("value")).repartition(2))
    val seen = scala.collection.mutable.ArrayBuffer[Long]()
    // limit 2 files = one 2-file version per trigger
    val q = spark.readStream.format("graft-table").option("path", root)
      .option("maxFilesPerTrigger", "2").load()
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.synchronized { seen += df.count() }; ()
      }
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    assert(seen.sum === 80, s"got $seen")
    assert(seen.forall(_ <= 20), s"a batch exceeded one version: $seen")
    assert(seen.count(_ > 0) >= 4, s"expected >=4 non-empty batches: $seen")
    // soft-max: a 1-file limit is below every version's 2 files —
    // still exactly one version per trigger, never zero
    val seen1 = scala.collection.mutable.ArrayBuffer[Long]()
    val q2 = spark.readStream.format("graft-table").option("path", root)
      .option("maxFilesPerTrigger", "1").load()
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        seen1.synchronized { seen1 += df.count() }; ()
      }
      .trigger(Trigger.AvailableNow()).start()
    assert(q2.awaitTermination(120000))
    assert(seen1.sum === 80, s"got $seen1")
    assert(seen1.count(_ > 0) >= 4)
    // a generous limit drains in one batch
    val seenBig = scala.collection.mutable.ArrayBuffer[Long]()
    val q3 = spark.readStream.format("graft-table").option("path", root)
      .option("maxFilesPerTrigger", "1000").load()
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        seenBig.synchronized { seenBig += df.count() }; ()
      }
      .trigger(Trigger.AvailableNow()).start()
    assert(q3.awaitTermination(120000))
    assert(seenBig.sum === 80 && seenBig.count(_ > 0) === 1,
      s"a 1000-file limit should drain in one batch: $seenBig")
  }

  test("startingTimestamp begins the stream at the first commit at/after it") {
    import graft.tables.GraftTable
    val root = Files.createTempDirectory("graft_stts_").resolve("t").toString
    val t = GraftTable.create(spark, root,
      spark.range(0, 2).select($"id".as("value")))          // v0
    Thread.sleep(120)
    t.append(spark.range(2, 4).select($"id".as("value")))   // v1
    Thread.sleep(120)
    t.append(spark.range(4, 6).select($"id".as("value")))   // v2
    // v1's commit wall clock, spelled the way TIMESTAMP AS OF parses
    val ts1 = t.history().orderBy("version")
      .select("timestamp").collect()(1).getTimestamp(0)
    val spelled = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(ts1.getTime))
    val outDir = Files.createTempDirectory("graft_stts_out").toString
    val ckpt = Files.createTempDirectory("graft_stts_ck").toString
    val q = spark.readStream.format("graft-table").option("path", root)
      .option("startingTimestamp", spelled).load()
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    val out = spark.read.parquet(outDir).as[Long].collect().sorted
    // v0 (before the timestamp) is excluded; v1 and v2 stream
    assert(out === (2L until 6L).toArray, s"got ${out.toSeq}")
    // a future timestamp errors rather than silently replaying
    intercept[Exception] {
      spark.readStream.format("graft-table").option("path", root)
        .option("startingTimestamp", "2099-01-01 00:00:00").load()
        .writeStream.format("noop").trigger(Trigger.AvailableNow())
        .start().awaitTermination(60000)
    }
  }

  test("skipChangeCommits streams past DML rewrites without re-emitting") {
    import graft.tables.GraftTable
    val root = Files.createTempDirectory("graft_skipcc_").resolve("t").toString
    val t = GraftTable.create(spark, root,
      spark.range(0, 4).select($"id".as("value")))          // v0
    t.append(spark.range(4, 8).select($"id".as("value")))   // v1
    t.delete($"value" === 2L)                               // v2: COW rewrite
    t.deleteMor($"value" === 5L)                            // v3: DV add
    t.append(spark.range(8, 10).select($"id".as("value")))  // v4
    val outDir = Files.createTempDirectory("graft_skipcc_out").toString
    val ckpt = Files.createTempDirectory("graft_skipcc_ck").toString
    val q = spark.readStream.format("graft-table").option("path", root)
      .option("skipChangeCommits", "true").load()
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    val out = spark.read.parquet(outDir).as[Long].collect().sorted
    // appends flow; the delete's rewrite and the DV commit are
    // SKIPPED — already-emitted rows never re-emit (so 2 and 5,
    // emitted before their deletes, stay in the sink: the documented
    // skipChangeCommits trade)
    assert(out === (0L until 10L).toArray, s"got ${out.toSeq}")
  }

  test("streaming replay injects partition values from a hive-adopted table") {
    import graft.tables.GraftTable
    val dir = Files.createTempDirectory("graft_hivestream_").resolve("t").toString
    Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "x"))
      .toDF("id", "v", "pk")
      .write.partitionBy("pk").parquet(dir)
    val t = GraftTable.convert(spark, dir)
    t.append(Seq((4L, "d", "z")).toDF("id", "v", "pk"))
    val outDir = Files.createTempDirectory("graft_hivestream_out").toString
    val ckpt = Files.createTempDirectory("graft_hivestream_ck").toString
    val q = spark.readStream.format("graft-table").option("path", dir).load()
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    val out = spark.read.parquet(outDir)
    assert(out.count() === 4)
    assert(out.where($"pk".isNull).count() === 0,
      "hive-adopted batch files read partition column as null")
    assert(out.where($"id" === 1L).select("pk").as[String].head() === "x")
    assert(out.where($"id" === 4L).select("pk").as[String].head() === "z")
  }

  test("CDC-mode byte admission bills the change feed, not the rewrite") {
    import graft.tables.GraftTable
    val root = Files.createTempDirectory("graft_cdcbytes_").resolve("t").toString
    // a sizeable table whose DELETE rewrites far more bytes than its
    // change set carries (the md5 pad keeps the rewrite incompressible)
    val t = GraftTable.create(spark, root,
      spark.range(0, 20000).select($"id", ($"id" % 97).as("grp"),
        md5($"id".cast("string")).as("pad")))
    t.delete($"grp" === 7)   // v1: big rewrite, tiny change feed
    t.delete($"grp" === 11)  // v2
    val batches = scala.collection.mutable.ArrayBuffer[Int]()
    // 128k comfortably covers both CDC payloads but NOT the rewrites:
    // billing rewrite bytes would force one commit per trigger
    val q = spark.readStream.format("graft-table").option("path", root)
      .option("mode", "cdc").option("startingVersion", "1")
      .option("maxBytesPerTrigger", "128k").load()
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.synchronized { batches += df.count().toInt }; ()
      }
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    val deleted = 20000 / 97 * 2 + 2 // rows in grp 7 + grp 11
    assert(batches.sum === deleted, s"got $batches")
    assert(batches.count(_ > 0) === 1,
      s"CDC budget billed rewrite bytes — backlog split: $batches")
  }

  test("maxVersionsPerTrigger paces the CDC stream too") {
    import graft.tables.GraftTable
    val root = Files.createTempDirectory("graft_cdcmv_").resolve("t").toString
    val t = GraftTable.create(spark, root, Seq((1L, "a")).toDF("id", "v"))
    t.update($"id" === 1, Map("v" -> lit("a2")))   // v1
    t.append(Seq((2L, "b")).toDF("id", "v"))       // v2
    t.delete($"id" === 2)                          // v3
    val batches = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    val q = spark.readStream.format("graft-table").option("path", root)
      .option("mode", "cdc").option("maxVersionsPerTrigger", "1").load()
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val vs = df.select("_commit_version").distinct()
          .collect().map(_.getLong(0)).toSet
        batches.synchronized { batches += vs }; ()
      }
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    // each micro-batch covers at most ONE commit's changes
    assert(batches.forall(_.size <= 1), s"got $batches")
    assert(batches.flatten.toSet === Set(0L, 1L, 2L, 3L), s"got $batches")
  }

  test("late in-session events never move the streaming session end backward") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, minute: Int) = Streams.Ev(1L, id,
      java.time.Instant.parse(f"2024-01-01T10:$minute%02d:00Z"), 1.0)
    val mem = MemoryStream[Streams.Ev]
    val out = Files.createTempDirectory("graft_late_").toString
    val ckpt = Files.createTempDirectory("graft_late_ckpt_").toString
    val q = Streams.sessionizeStream(mem.toDS())
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).start()
    mem.addData(ev(1, 0), ev(2, 20))      // open session [10:00, 10:20]
    q.processAllAvailable()
    mem.addData(ev(3, 5))                 // LATE event inside the session
    q.processAllAvailable()
    mem.addData(ev(4, 40), ev(5, 59))     // 20min after 10:20 -> same session
    q.processAllAvailable()
    // force the open session to flush: an event far in the future
    mem.addData(ev(6, 0).copy(ts = java.time.Instant.parse("2024-01-01T23:00:00Z")))
    q.processAllAvailable()
    q.stop()
    val sessions = spark.read.parquet(out)
      .select($"session_start".cast("string"), $"session_end".cast("string"), $"n_events")
      .as[(String, String, Long)].collect().sortBy(_._1)
    // ONE session 10:00-10:59 with all 5 events — before the fix the
    // late 10:05 event regressed the end and 10:40 split the session
    assert(sessions.head === ("2024-01-01 10:00:00", "2024-01-01 10:59:00", 5L),
      sessions.mkString(", "))
  }

  test("events older than the open session by over the gap close separately") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def at(id: Long, iso: String) = Streams.Ev(1L, id,
      java.time.Instant.parse(iso), 1.0)
    val mem = MemoryStream[Streams.Ev]
    val out = Files.createTempDirectory("graft_anc_").toString
    val ckpt = Files.createTempDirectory("graft_anc_ckpt_").toString
    val q = Streams.sessionizeStream(mem.toDS())
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).start()
    mem.addData(at(1, "2024-01-01T10:00:00Z"), at(2, "2024-01-01T10:20:00Z"))
    q.processAllAvailable()
    // 2h-stale stragglers: gap-mergeable with each other, never with
    // the open 10:00 session — they must NOT widen it backward
    mem.addData(at(3, "2024-01-01T08:00:00Z"), at(4, "2024-01-01T08:10:00Z"))
    q.processAllAvailable()
    // flush the live session with a far-future event
    mem.addData(at(5, "2024-01-01T23:00:00Z"))
    q.processAllAvailable()
    q.stop()
    val sessions = spark.read.parquet(out)
      .select($"session_start".cast("string"), $"session_end".cast("string"), $"n_events")
      .as[(String, String, Long)].collect().sortBy(_._1)
    // the stale pair forms ONE already-closed session; the live
    // session's bounds are untouched by them
    assert(sessions.toSeq.take(2) === Seq(
      ("2024-01-01 08:00:00", "2024-01-01 08:10:00", 2L),
      ("2024-01-01 10:00:00", "2024-01-01 10:20:00", 2L)), sessions.mkString(", "))
  }

  test("straggler chain bridging into the open session merges, not splits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def at(id: Long, iso: String) = Streams.Ev(1L, id,
      java.time.Instant.parse(iso), 1.0)
    val mem = MemoryStream[Streams.Ev]
    val out = Files.createTempDirectory("graft_bridge_").toString
    val ckpt = Files.createTempDirectory("graft_bridge_ckpt_").toString
    val q = Streams.sessionizeStream(mem.toDS())
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).start()
    mem.addData(at(1, "2024-01-01T10:00:00Z"), at(2, "2024-01-01T10:20:00Z"))
    q.processAllAvailable()
    // 09:25 is over the gap before the open session's start, but
    // 09:31 bridges them: 09:25→09:31 (6m) and 09:31→10:00 (29m) are
    // both within the 30m gap — batch sessionize merges all four
    // events into ONE session, so the stream must too
    mem.addData(at(3, "2024-01-01T09:25:00Z"), at(4, "2024-01-01T09:31:00Z"))
    q.processAllAvailable()
    mem.addData(at(5, "2024-01-01T23:00:00Z"))
    q.processAllAvailable()
    q.stop()
    val sessions = spark.read.parquet(out)
      .select($"session_start".cast("string"), $"session_end".cast("string"), $"n_events")
      .as[(String, String, Long)].collect().sortBy(_._1)
    assert(sessions.toSeq ===
      Seq(("2024-01-01 09:25:00", "2024-01-01 10:20:00", 4L)),
      sessions.mkString(", "))
  }

  test("continuously maintained view refreshes on source commits") {
    import graft.tables.{GraftTable, IncrementalMatView}
    val stage = Files.createTempDirectory("graft_cmv_")
    val df = spark.range(0, 300)
      .select($"id", ($"id" % 4).cast("string").as("grp"),
        ($"id" * 3 % 50).cast("double").as("v"))
    val t = GraftTable.create(spark, stage.resolve("t").toString,
      df.repartition(4))
    IncrementalMatView.create(spark, t, stage.resolve("mv").toString,
      Seq("grp"), "v", extremes = true)
    val handle = IncrementalMatView.load(spark, stage.resolve("mv").toString)
    val q = IncrementalMatView.continuous(spark,
      stage.resolve("mv").toString, stage.resolve("cp").toString,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds"))
    try {
      // a mixed storm lands while the stream runs: the view must
      // converge to the recompute without any manual refresh
      t.update($"grp" === "1", Map("v" -> ($"v" + lit(7.0))))
      t.delete($"grp" === "2" && $"v" > 40.0)
      t.append(spark.range(300, 330)
        .select($"id", lit("9").as("grp"), lit(5.5).as("v")))
      def recompute() = t.snapshot().groupBy($"grp")
        .agg(round(sum($"v".cast("decimal(12,4)")), 4).cast("double"),
          count(lit(1)),
          round(min($"v".cast("decimal(12,4)")), 4).cast("double"),
          round(max($"v".cast("decimal(12,4)")), 4).cast("double"))
        .orderBy($"grp")
        .as[(String, Double, Long, Double, Double)].collect().toSeq
      def maintained() = handle.view().orderBy($"grp")
        .as[(String, Double, Long, Double, Double)].collect().toSeq
      val want = recompute()
      val deadline = System.nanoTime() + 60L * 1000000000L
      var got = maintained()
      while (got != want && System.nanoTime() < deadline) {
        Thread.sleep(500); got = maintained()
      }
      assert(got === want,
        "continuous view did not converge to the recompute")
      assert(handle.reflectedVersion === t.latestVersion)
    } finally q.stop()
  }

  test("curation stream admits survivors only and replays exactly-once") {
    val stage = Files.createTempDirectory("graft_cur_spec_")
    val raw = stage.resolve("raw")
    java.nio.file.Files.createDirectories(raw)
    def doc(id: Long, text: String) = (id, text, "en", "web", text.length.toLong)
    def land(rows: Seq[(Long, String, String, String, Long)], p: String): Unit =
      graft.sources.Ingest.stageBatch(
        rows.toDF("doc_id", "text", "lang", "source", "n_chars"),
        raw.toString, p)
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val curated = graft.tables.GraftTable.create(spark,
      stage.resolve("curated").toString,
      Seq.empty[(Long, String, String, String, Long)]
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val cp = stage.resolve("cp").toString
    val idx = stage.resolve("idx").toString
    val cl = stage.resolve("cl").toString
    // cycle 1: two distinct docs + an intra-batch near-dup of doc 1
    land(Seq(doc(1, base), doc(2, base + " omega"),
      doc(7, s"unique seven $base nine ten eleven twelve thirteen x y z"
        .split(" ").reverse.mkString(" "))), "b1")
    Streams.curationStream(spark, raw.toString, cp, idx, cl, curated)
    assert(curated.snapshot().select($"doc_id").as[Long].collect().toSet
      === Set(1L, 7L), "intra-batch near-dup must drop at admission")
    // cycle 2: a near-dup of doc 1 arrives later → dropped; a fresh
    // doc is admitted
    land(Seq(doc(10, base + " sigma"),
      doc(11, "completely different words entirely novel content here " +
        "nothing shared with anything prior at all")), "b2")
    Streams.curationStream(spark, raw.toString, cp, idx, cl, curated)
    assert(curated.snapshot().select($"doc_id").as[Long].collect().toSet
      === Set(1L, 7L, 11L), "cross-cycle near-dup must drop")
    // replay cycle: nothing changes, no new commits on the curated
    val v = curated.latestVersion
    Streams.curationStream(spark, raw.toString, cp, idx, cl, curated)
    assert(curated.latestVersion === v, "replay must be a no-op")
  }

  test("pipeline-exit composition: per-cycle curated admissions " +
      "export into training shards, accumulating to the one-shot pack") {
    val stage = Files.createTempDirectory("graft_curexp_")
    val raw = stage.resolve("raw")
    java.nio.file.Files.createDirectories(raw)
    def doc(id: Long, text: String) = (id, text, "en", "web", text.length.toLong)
    def land(rows: Seq[(Long, String, String, String, Long)], p: String): Unit =
      graft.sources.Ingest.stageBatch(
        rows.toDF("doc_id", "text", "lang", "source", "n_chars"),
        raw.toString, p)
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val curated = graft.tables.GraftTable.create(spark,
      stage.resolve("curated").toString,
      Seq.empty[(Long, String, String, String, Long)]
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val cp = stage.resolve("cp").toString
    // cycle 1 admits 1 and 7 (2 is an intra-batch near-dup of 1);
    // cycle 2 drops the near-dup 10 and admits 11
    land(Seq(doc(1, base), doc(2, base + " omega"),
      doc(7, s"unique seven $base nine ten eleven twelve thirteen"
        .split(" ").reverse.mkString(" "))), "b1")
    Streams.curationStream(spark, raw.toString, cp,
      stage.resolve("idx").toString, stage.resolve("cl").toString, curated)
    val exp = stage.resolve("exp").toString
    // per-cycle EXPORT of exactly the cycle's admissions — the curated
    // feed is doc_id-monotone here, the incremental export's contract
    operators.TextAnalysis.exportShardsIngest(spark, exp,
      curated.snapshot(), 0L, shardTokens = 16L)
    land(Seq(doc(10, base + " sigma"),
      doc(11, "completely different words entirely novel content here " +
        "nothing shared with anything prior at all")), "b2")
    Streams.curationStream(spark, raw.toString, cp,
      stage.resolve("idx").toString, stage.resolve("cl").toString, curated)
    operators.TextAnalysis.exportShardsIngest(spark, exp,
      curated.snapshot().where($"doc_id" > 7L), 1L, shardTokens = 16L)
    val asg = graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(exp, "assignments").toString).snapshot()
    // every admitted doc packs exactly once, dropped docs never do...
    assert(asg.select($"doc_id").as[Long].collect().sorted.toSeq ===
      Seq(1L, 7L, 11L))
    // ...and the accumulated assignments ≡ the one-shot pack of the
    // final curated corpus — curation and export compose end-to-end
    val acc = asg.select($"doc_id", $"tokens_before", $"shard_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val oneShot = operators.TextAnalysis
      .exportShards(curated.snapshot(), shardTokens = 16L)
      .select($"doc_id", $"tokens_before", $"shard_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(acc === oneShot,
      "per-cycle export diverged from the one-shot pack")
  }

  test("epochExportStream: each requested epoch lands its full " +
      "seed-reshuffled export exactly-once; out-of-order epoch " +
      "requests both land; a replayed request re-lands nothing") {
    val stage = Files.createTempDirectory("graft_epochstr_spec_")
    val docs = Tables.load(spark, sf, "documents")
    val reqs = stage.resolve("reqs").toString
    java.nio.file.Files.createDirectories(stage.resolve("reqs"))
    val cp = stage.resolve("cp").toString
    val exp = stage.resolve("export").toString
    def request(name: String, epochs: Long*): Unit =
      graft.sources.Ingest.stageBatch(
        epochs.toSeq.toDF("epoch"), reqs, name)
    // OUT-OF-ORDER: epoch 5 arrives before epoch 3 — per-epoch
    // watermark namespaces must land both (a shared monotone
    // watermark would silently drop 3)
    request("c1", 5L)
    Streams.epochExportStream(spark, reqs, cp, docs, exp,
      shardTokens = 512L)
    request("c2", 3L)
    Streams.epochExportStream(spark, reqs, cp, docs, exp,
      shardTokens = 512L)
    val asg = graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(exp, "assignments").toString).snapshot()
    assert(asg.select($"epoch").distinct().as[Long].collect().toSet
      === Set(3L, 5L), "both out-of-order epochs must land")
    // each landed epoch ≡ its one-shot seeded export
    Seq(3L, 5L).foreach { e =>
      val landed = asg.where($"epoch" === e)
        .select($"doc_id", $"tokens_before", $"shard_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      val oneShot = operators.TextAnalysis
        .exportShardsShuffled(docs, shardTokens = 512L, seed = e)
        .select($"doc_id", $"tokens_before", $"shard_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(landed === oneShot,
        s"epoch $e diverged from the one-shot seeded export")
    }
    // a replayed request (fresh file, same epoch id) re-lands nothing
    val n = asg.count()
    request("c3", 5L)
    Streams.epochExportStream(spark, reqs, cp, docs, exp,
      shardTokens = 512L)
    assert(graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(exp, "assignments").toString)
      .snapshot().count() === n,
      "a replayed epoch request must re-land nothing")
  }

  test("epochExportStream re-sizes the hash-range fan-out per cycle: " +
      "an epoch landed after a 40x corpus growth uses the grown " +
      "bucket count; each epoch matches the one-shot export over the " +
      "corpus AS OF its cycle") {
    val stage = Files.createTempDirectory("graft_epochgrow_spec_")
    val corpus = stage.resolve("corpus").toString
    def addDocs(from: Long, until: Long): Unit =
      spark.range(from, until)
        .select($"id".as("doc_id"),
          concat(lit("alpha beta doc "), $"id".cast("string"))
            .as("text"))
        .write.mode("append").parquet(corpus)
    addDocs(0L, 500L)
    // a parquet frame PINS its file listing at construction — the
    // growing-corpus caller passes a fresh frame per invocation (the
    // scaladoc's documented contract); the recount then sizes each
    // cycle from the frame it was given
    val docs1 = spark.read.parquet(corpus)
    val reqs = stage.resolve("reqs").toString
    java.nio.file.Files.createDirectories(stage.resolve("reqs"))
    val cp = stage.resolve("cp").toString
    val exp = stage.resolve("export").toString
    def request(name: String, epochs: Long*): Unit =
      graft.sources.Ingest.stageBatch(
        epochs.toSeq.toDF("epoch"), reqs, name)
    request("c1", 0L)
    Streams.epochExportStream(spark, reqs, cp, docs1, exp,
      shardTokens = 64L)
    addDocs(500L, 20500L)
    val docs = spark.read.parquet(corpus)
    request("c2", 1L)
    Streams.epochExportStream(spark, reqs, cp, docs, exp,
      shardTokens = 64L)
    // the meta ledger records the per-cycle sizing: the grown cycle
    // must use the grown bucket count, not the stream-start one
    val meta = graft.tables.GraftTable.load(spark,
        java.nio.file.Paths.get(exp, "epoch_meta").toString)
      .snapshot().orderBy($"epoch")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(meta.toSeq === Seq(
      (0L, operators.TextAnalysis.autoHashBuckets(500L), 500L),
      (1L, operators.TextAnalysis.autoHashBuckets(20500L), 20500L)))
    assert(meta(1)._2 > meta(0)._2,
      "setup: the growth must actually move the auto bucket count")
    // snapshot semantics: epoch 0 permutes the SMALL corpus, epoch 1
    // the GROWN one — each equals its one-shot export (and bucket
    // sizing never moves values)
    val asg = graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(exp, "assignments").toString).snapshot()
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", $"tokens_before", $"shard_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(cells(asg.where($"epoch" === 0L)) ===
      cells(operators.TextAnalysis.exportShardsShuffled(
        docs.where($"doc_id" < 500L), shardTokens = 64L, seed = 0L)),
      "epoch 0 must reflect the corpus as of its landing cycle")
    assert(cells(asg.where($"epoch" === 1L)) ===
      cells(operators.TextAnalysis.exportShardsShuffled(
        docs, shardTokens = 64L, seed = 1L)),
      "epoch 1 must reflect the grown corpus")
    // META REPAIR attests only what the landed rows can prove: the
    // corpus size re-derives from the rows, but the landing cycle's
    // bucket-count MODE has no witness (the bucketing is value-
    // invisible), so a repaired row records hash_buckets = -1 even
    // when the REPLAY cycle runs auto — never a fan-out the landing
    // cycle may not have used
    def rm(d: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(d))
        java.nio.file.Files.list(d).forEach(rm(_))
      java.nio.file.Files.deleteIfExists(d): Unit
    }
    rm(java.nio.file.Paths.get(exp, "epoch_meta"))
    request("c3", 1L)
    Streams.epochExportStream(spark, reqs, cp, docs, exp,
      shardTokens = 64L)
    val repaired = graft.tables.GraftTable.load(spark,
        java.nio.file.Paths.get(exp, "epoch_meta").toString)
      .snapshot().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(repaired.toSeq === Seq((1L, -1L, 20500L)),
      "a repaired meta row must record -1 = unknown fan-out with " +
        "the landed corpus size")
  }

  test("epochExportStream ownership: a second pipeline targeting the " +
      "same epoch-export path refuses instead of silently skipping " +
      "behind the owner's epoch watermarks") {
    val stage = Files.createTempDirectory("graft_epochown_spec_")
    val docs = Tables.load(spark, sf, "documents").limit(50)
    val reqs = stage.resolve("reqs").toString
    val exp = stage.resolve("export").toString
    graft.sources.Ingest.stageBatch(Seq(0L).toDF("epoch"), reqs, "c1")
    Streams.epochExportStream(spark, reqs,
      stage.resolve("cpA").toString, docs, exp, shardTokens = 512L)
    // pipeline B: same export path, its OWN checkpoint — its epoch 0
    // would skip behind A's watermark and the trainer would read A's
    // permutation as B's data; refuse loudly instead
    graft.sources.Ingest.stageBatch(Seq(0L).toDF("epoch"), reqs, "c2")
    // the guard fires BEFORE any stream starts — a plain refusal
    val err = intercept[IllegalArgumentException] {
      Streams.epochExportStream(spark, reqs,
        stage.resolve("cpB").toString, docs, exp, shardTokens = 512L)
    }
    assert(err.getMessage.contains("owned by"), err.getMessage)
    // the owner continues unharmed (consumes c2's request as epoch 0
    // replay — re-lands nothing)
    Streams.epochExportStream(spark, reqs,
      stage.resolve("cpA").toString, docs, exp, shardTokens = 512L)
  }

  test("DESCRIBE EXPORT on an epoch layout: one ledger row per landed " +
      "epoch from per-file stats + one pruned read each, values ≡ the " +
      "grouped aggregate, owner reported") {
    val stage = Files.createTempDirectory("graft_epochdesc_spec_")
    val docs = Tables.load(spark, sf, "documents").limit(80)
    val reqs = stage.resolve("reqs").toString
    val cp = stage.resolve("cp").toString
    val exp = stage.resolve("export").toString
    graft.sources.Ingest.stageBatch(Seq(5L, 3L).toDF("epoch"), reqs, "c1")
    Streams.epochExportStream(spark, reqs, cp, docs, exp,
      shardTokens = 512L)
    val ledger = graft.tables.GraftSql.sql(spark,
      s"DESCRIBE EXPORT '$exp'").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    assert(ledger.map(_._1).toSeq === Seq(3L, 5L))
    // values ≡ the full grouped aggregate
    val asg = graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(exp, "assignments").toString).snapshot()
    val full = asg.groupBy($"epoch")
      .agg(org.apache.spark.sql.functions.max(
        $"tokens_before" + $"n_tokens"),
        org.apache.spark.sql.functions.max($"doc_id"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    ledger.foreach { case (e, end, md, owner) =>
      assert((end, md) === full(e), s"epoch $e ledger diverged")
      assert(owner.nonEmpty, "the owner marker must be reported")
    }
    // the fast path engaged and PRUNED: each epoch's read admits its
    // own file plus the zero-row createIfAbsent placeholder (which
    // carries no stats to prune on and no rows to pay for) — strictly
    // fewer than an unpruned per-epoch full scan
    val (_, read, total) =
      graft.tables.GraftSql.epochExportLedger(spark, exp)
    assert(total > 1, s"setup: expected a multi-file landing, got $total")
    assert(read >= 0 && read < total * ledger.length,
      s"epoch ledger read $read of $total files x ${ledger.length} " +
        "epochs — the stats path must prune the per-epoch reads")
    // a zero-row owner table (the crash window between the
    // placeholder create and the first pipeline append) describes
    // with an EMPTY marker instead of faulting on head()
    graft.tables.GraftTable.load(spark,
        java.nio.file.Paths.get(exp, "owner").toString)
      .delete(org.apache.spark.sql.functions.lit(true))
    val bare = graft.tables.GraftSql.sql(spark,
      s"DESCRIBE EXPORT '$exp'").collect()
    assert(bare.length === ledger.length)
    assert(bare.forall(_.getString(3) === ""),
      "a row-less owner must describe as an empty marker")
  }

  test("curationPipelineId: respelling a checkpoint resolves to the " +
      "same canonical identity") {
    val stage = Files.createTempDirectory("graft_curid_spec_")
    val rel = stage.resolve("ck").toString
    // relative-ish and absolute spellings of one location resolve
    // identically (the canonical id)
    val (a, appA) = Streams.curationPipelineId(rel)
    val (b, _) = Streams.curationPipelineId(rel + "/./")
    assert(a === b, "respelling the checkpoint must not change the id")
    assert(a === ":" + appA)
  }

  test("exportStream: streamed cycles accumulate to the one-shot " +
      "pack, an empty cycle lands nothing, a restart is a no-op") {
    val stage = Files.createTempDirectory("graft_expstr_spec_")
    val raw = stage.resolve("raw")
    java.nio.file.Files.createDirectories(raw)
    def doc(id: Long) = (id,
      (0 to (id % 7).toInt).map(i => s"w$id-$i").mkString(" "))
    def land(ids: Range, p: String): Unit =
      graft.sources.Ingest.stageBatch(
        ids.map(i => doc(i.toLong)).toDF("doc_id", "text"),
        raw.toString, p)
    val cp = stage.resolve("cp").toString
    val exp = stage.resolve("exp").toString
    land(0 until 40, "b1")
    Streams.exportStream(spark, raw.toString, cp, exp, shardTokens = 16L)
    // CRASH-REPLAY of a NON-EMPTY epoch: snapshot the checkpoint
    // before the b2 cycle, run it, then restore the checkpoint and
    // run again — the engine re-delivers b2 under the SAME epoch id
    // and the sink's appendIfNew watermarks must re-land nothing
    def copyDir(src: java.nio.file.Path, dst: java.nio.file.Path): Unit =
      java.nio.file.Files.walk(src).forEach { p =>
        val t = dst.resolve(src.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t)
      }
    val cpSaved = stage.resolve("cp_saved")
    copyDir(java.nio.file.Paths.get(cp), cpSaved)
    land(40 until 90, "b2")
    Streams.exportStream(spark, raw.toString, cp, exp, shardTokens = 16L)
    def asgT = graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(exp, "assignments").toString)
    val v = asgT.latestVersion
    val nRows = asgT.snapshot().count()
    // roll the checkpoint back to before the b2 epoch and re-run:
    // epoch 1 replays WITH b2's data, exactly-once skips the appends
    java.nio.file.Files.walk(java.nio.file.Paths.get(cp))
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))
    copyDir(cpSaved, java.nio.file.Paths.get(cp))
    Streams.exportStream(spark, raw.toString, cp, exp, shardTokens = 16L)
    assert(asgT.snapshot().count() === nRows,
      "a replayed non-empty epoch must re-land nothing")
    // an empty cycle: no new files → no epoch fires, nothing lands
    Streams.exportStream(spark, raw.toString, cp, exp, shardTokens = 16L)
    assert(asgT.latestVersion === v, "empty cycle must land nothing")
    // accumulated assignments ≡ the one-shot pack of everything that
    // arrived — the streamed sink IS the incremental exporter
    val acc = asgT.snapshot()
      .select($"doc_id", $"tokens_before", $"shard_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val oneShot = operators.TextAnalysis.exportShards(
        (0 until 90).map(i => doc(i.toLong)).toDF("doc_id", "text"),
        shardTokens = 16L)
      .select($"doc_id", $"tokens_before", $"shard_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(acc === oneShot,
      "streamed export diverged from the one-shot pack")
  }

  test("curation stream with a semantic screen: an embedding near-dup " +
      "of an earlier batch's doc drops at the gate, index exactly-once") {
    val stage = Files.createTempDirectory("graft_cursem_")
    val raw = stage.resolve("raw")
    java.nio.file.Files.createDirectories(raw)
    def doc(id: Long, text: String, v: Seq[Float]) =
      (id, text, text.length.toLong, v)
    def land(rows: Seq[(Long, String, Long, Seq[Float])], p: String): Unit =
      graft.sources.Ingest.stageBatch(
        rows.toDF("doc_id", "text", "n_chars", "embedding")
          .withColumn("embedding", $"embedding".cast("array<float>")),
        raw.toString, p)
    // a BUILT IVF index over a 30-vector seed mass along axes 0..2 —
    // far from the arrivals' axis-3 direction (cosine ≈ 0 ≪ τ)
    val ivf = stage.resolve("ivf").toString
    graft.operators.Similarity.ivfIndexBuild(spark, ivf,
      (1000L until 1030L).map(i => (i, s"r${i % 3}",
        Seq.tabulate(4)(d => (if (d == (i % 3).toInt) 10f else 0f) +
          ((i * (d + 3)) % 5) * 0.01f)))
        .toDF("vec_id", "label", "embedding")
        .withColumn("embedding", $"embedding".cast("array<float>")),
      nCentroids = 3)
    val curated = graft.tables.GraftTable.create(spark,
      stage.resolve("curated").toString,
      Seq.empty[(Long, String, Long, Seq[Float])]
        .toDF("doc_id", "text", "n_chars", "embedding")
        .withColumn("embedding", $"embedding".cast("array<float>")))
    val cp = stage.resolve("cp").toString
    val idx = stage.resolve("idx").toString
    val cl = stage.resolve("cl").toString
    val audit = stage.resolve("audit").toString
    // cycle 1: doc 10 — lexically and semantically fresh
    land(Seq(doc(10L,
      "the quick brown fox jumps over the lazy dog again today",
      Seq(0f, 0f, 0f, 10f))), "b1")
    Streams.curationStream(spark, raw.toString, cp, idx, cl, curated,
      auditPath = Some(audit), ivfIndexPath = Some(ivf))
    assert(curated.snapshot().select($"doc_id").as[Long].collect().toSet
      === Set(10L))
    // cycle 2: doc 20 shares NOT ONE 3-shingle with doc 10 (the
    // lexical screen is blind to it) but its embedding is a near-copy
    // — the semantic screen must drop it against the admitted doc 10
    land(Seq(doc(20L,
      "completely different words describing unrelated things entirely now",
      Seq(0f, 0f, 0.5f, 10f))), "b2")
    Streams.curationStream(spark, raw.toString, cp, idx, cl, curated,
      auditPath = Some(audit), ivfIndexPath = Some(ivf))
    assert(curated.snapshot().select($"doc_id").as[Long].collect().toSet
      === Set(10L), "the semantic near-dup must not reach the corpus")
    val v20 = graft.tables.GraftTable.load(spark, audit).snapshot()
      .where($"doc_id" === 20L)
      .select($"canonical_id", $"action").as[(Long, String)].collect()
    assert(v20.toSeq === Seq((10L, "drop")),
      s"doc 20 must drop against admitted doc 10, got ${v20.toSeq}")
    // the screen's index append is exactly-once per epoch: 30 seed
    // vectors + the two arrivals, no duplicates — and a replay cycle
    // (no new files) appends nothing and commits nothing
    val asg = graft.tables.GraftTable.load(spark,
      stage.resolve("ivf").resolve("assignments").toString)
    val vIdx = asg.latestVersion
    val vCur = curated.latestVersion
    Streams.curationStream(spark, raw.toString, cp, idx, cl, curated,
      auditPath = Some(audit), ivfIndexPath = Some(ivf))
    assert(asg.latestVersion === vIdx && curated.latestVersion === vCur,
      "replay must be a no-op on index and corpus alike")
    val ids = asg.snapshot().select($"vec_id").as[Long].collect()
    assert(ids.length === 32 && ids.distinct.length === 32,
      s"expected 30 seed + 2 arrivals exactly once, got ${ids.length}")
    assert(ids.toSet.contains(20L),
      "dropped docs' vectors still index (the sigs/shingles posture)")
  }

  test("bounded-pacing semantic curation: every micro-batch ingests " +
      "the IVF index exactly once on its own epoch id") {
    val stage = Files.createTempDirectory("graft_cursemp_")
    val raw = stage.resolve("raw")
    java.nio.file.Files.createDirectories(raw)
    def land(id: Long, text: String, v: Seq[Float], part: String): Unit =
      graft.sources.Ingest.stageBatch(
        Seq((id, text, text.length.toLong, v))
          .toDF("doc_id", "text", "n_chars", "embedding")
          .withColumn("embedding", $"embedding".cast("array<float>")),
        raw.toString, part)
    val ivf = stage.resolve("ivf").toString
    graft.operators.Similarity.ivfIndexBuild(spark, ivf,
      (1000L until 1030L).map(i => (i, s"r${i % 3}",
        Seq.tabulate(4)(d => (if (d == (i % 3).toInt) 10f else 0f) +
          ((i * (d + 3)) % 5) * 0.01f)))
        .toDF("vec_id", "label", "embedding")
        .withColumn("embedding", $"embedding".cast("array<float>")),
      nCentroids = 3)
    val curated = graft.tables.GraftTable.create(spark,
      stage.resolve("curated").toString,
      Seq.empty[(Long, String, Long, Seq[Float])]
        .toDF("doc_id", "text", "n_chars", "embedding")
        .withColumn("embedding", $"embedding".cast("array<float>")))
    // a 3-file backlog paced ONE file per trigger: doc 20 is a
    // lexically-fresh embedding near-copy of doc 10 (must drop
    // against it at its own epoch), doc 30 is fresh on both axes
    land(10L, "the quick brown fox jumps over the lazy dog today",
      Seq(0f, 0f, 0f, 10f), "f1")
    land(20L, "completely different words describing unrelated things here",
      Seq(0f, 0f, 0.4f, 10f), "f2")
    land(30L, "a genuinely novel document about nothing seen before now",
      Seq(0f, 7f, 7f, 0f), "f3")
    Streams.curationStream(spark, raw.toString,
      stage.resolve("cp").toString, stage.resolve("idx").toString,
      stage.resolve("cl").toString, curated,
      maxFilesPerTrigger = 1, ivfIndexPath = Some(ivf))
    assert(curated.snapshot().select($"doc_id").as[Long].collect().toSet
      === Set(10L, 30L),
      "the paced semantic near-dup must drop at its own epoch")
    val asg = graft.tables.GraftTable.load(spark,
      stage.resolve("ivf").resolve("assignments").toString)
    val ids = asg.snapshot().select($"vec_id").as[Long].collect()
    assert(ids.length === 33 && ids.distinct.length === 33,
      s"expected 30 seed + 3 paced arrivals exactly once, got ${ids.length}")
    // replay: the bounded stream re-runs with no new files — nothing
    // re-ingests, nothing re-appends
    val (vIdx, vCur) = (asg.latestVersion, curated.latestVersion)
    Streams.curationStream(spark, raw.toString,
      stage.resolve("cp").toString, stage.resolve("idx").toString,
      stage.resolve("cl").toString, curated,
      maxFilesPerTrigger = 1, ivfIndexPath = Some(ivf))
    assert(asg.latestVersion === vIdx && curated.latestVersion === vCur,
      "bounded replay must be a no-op on index and corpus")
  }

  test("bounded-batch curation lands the single-epoch curated set " +
      "and replays exactly-once") {
    def doc(id: Long, text: String) =
      (id, text, "en", "web", text.length.toLong)
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val other = "one two three four five six seven eight nine ten"
    val third = "red orange yellow green blue indigo violet cyan magenta pink"
    // ascending-id arrival: originals land before their near-dups, so
    // bounded pacing admits the same survivors as one giant epoch
    // (the admitBatch survivorship contract's ordered-feed case)
    val slices = Seq(
      Seq(doc(1, base), doc(2, other)),
      Seq(doc(3, third), doc(101, base + " omega")),
      Seq(doc(102, other + " eleven"), doc(103,
        "completely different words entirely novel content here " +
          "nothing shared with anything prior at all")))
    def runCuration(maxFiles: Int): (graft.tables.GraftTable, String,
        java.nio.file.Path) = {
      val stage = Files.createTempDirectory("graft_curb_")
      val raw = stage.resolve("raw")
      java.nio.file.Files.createDirectories(raw)
      slices.zipWithIndex.foreach { case (rows, i) =>
        graft.sources.Ingest.stageBatch(
          rows.toDF("doc_id", "text", "lang", "source", "n_chars")
            .coalesce(1), raw.toString, s"s$i")
      }
      val curated = graft.tables.GraftTable.create(spark,
        stage.resolve("curated").toString,
        Seq.empty[(Long, String, String, String, Long)]
          .toDF("doc_id", "text", "lang", "source", "n_chars"))
      Streams.curationStream(spark, raw.toString,
        stage.resolve("cp").toString, stage.resolve("idx").toString,
        stage.resolve("cl").toString, curated,
        maxFilesPerTrigger = maxFiles)
      (curated, raw.toString, stage)
    }
    val (bounded, rawB, stageB) = runCuration(maxFiles = 1)
    val (single, _, _) = runCuration(maxFiles = Int.MaxValue)
    def ids(t: graft.tables.GraftTable): Set[Long] =
      t.snapshot().select($"doc_id").as[Long].collect().toSet
    assert(ids(single) === Set(1L, 2L, 3L, 103L),
      "single-epoch admission should keep exactly the min-id survivors")
    assert(ids(bounded) === ids(single),
      "bounded pacing diverged from the single-epoch curated set")
    // bounded pacing really split the backlog: one curated append
    // commit per non-empty admitted micro-batch, not one total
    assert(bounded.latestVersion > single.latestVersion,
      "expected multiple bounded-batch commits")
    // replay: the whole bounded run is a no-op against its own state
    val v = bounded.latestVersion
    Streams.curationStream(spark, rawB,
      stageB.resolve("cp").toString, stageB.resolve("idx").toString,
      stageB.resolve("cl").toString, bounded, maxFilesPerTrigger = 1)
    assert(bounded.latestVersion === v, "bounded replay must be a no-op")
  }

  test("firstAdmittedWins curation (the default) refuses out-of-order " +
      "near-dups the legacy global-min rule double-admits") {
    def doc(id: Long, text: String) =
      (id, text, "en", "web", text.length.toLong)
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // OUT-OF-ORDER arrival: the near-dup with the SMALLER id (5)
    // lands a cycle after its partner (10) was admitted.
    // firstWins = None exercises the DEFAULT parameters.
    def run(firstWins: Option[Boolean]): Set[Long] = {
      val stage = Files.createTempDirectory("graft_curfw_")
      val raw = stage.resolve("raw")
      java.nio.file.Files.createDirectories(raw)
      val curated = graft.tables.GraftTable.create(spark,
        stage.resolve("curated").toString,
        Seq.empty[(Long, String, String, String, Long)]
          .toDF("doc_id", "text", "lang", "source", "n_chars"))
      def cycle(rows: Seq[(Long, String, String, String, Long)],
          p: String): Unit = {
        graft.sources.Ingest.stageBatch(
          rows.toDF("doc_id", "text", "lang", "source", "n_chars")
            .coalesce(1), raw.toString, p)
        firstWins match {
          case Some(fw) => Streams.curationStream(spark, raw.toString,
            stage.resolve("cp").toString, stage.resolve("idx").toString,
            stage.resolve("cl").toString, curated,
            firstAdmittedWins = fw)
          case None => Streams.curationStream(spark, raw.toString,
            stage.resolve("cp").toString, stage.resolve("idx").toString,
            stage.resolve("cl").toString, curated)
        }
        ()
      }
      cycle(Seq(doc(10, base)), "c1")
      cycle(Seq(doc(5, base + " omega")), "c2")
      curated.snapshot().select($"doc_id").as[Long].collect().toSet
    }
    // legacy (global-min) survivorship, opt-in: doc 5 is its
    // cluster's min, so BOTH members end up curated — the caveat
    assert(run(firstWins = Some(false)) === Set(10L, 5L))
    // first-admitted-wins: the cluster already holds admitted doc 10,
    // so the late smaller-id near-dup drops
    assert(run(firstWins = Some(true)) === Set(10L))
    // ...and first-admitted-wins is the DEFAULT: the same
    // out-of-order feed with no survivorship argument stays safe
    assert(run(firstWins = None) === Set(10L),
      "default curation survivorship must be first-admitted-wins")
  }

  test("quality-gated curation rejects failing docs BEFORE dedup: " +
      "they never index, never curate, and audit as reject") {
    def doc(id: Long, text: String) =
      (id, text, "en", "web", text.length.toLong)
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    assert(base.length < 60, "setup: the short doc must fail the gate")
    val stage = Files.createTempDirectory("graft_curgate_")
    val raw = stage.resolve("raw")
    java.nio.file.Files.createDirectories(raw)
    val curated = graft.tables.GraftTable.create(spark,
      stage.resolve("curated").toString,
      Seq.empty[(Long, String, String, String, Long)]
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    def cycle(rows: Seq[(Long, String, String, String, Long)],
        p: String): Unit = {
      graft.sources.Ingest.stageBatch(
        rows.toDF("doc_id", "text", "lang", "source", "n_chars")
          .coalesce(1), raw.toString, p)
      Streams.curationStream(spark, raw.toString,
        stage.resolve("cp").toString, stage.resolve("idx").toString,
        stage.resolve("cl").toString, curated,
        auditPath = Some(stage.resolve("audit").toString),
        qualityGate = Some($"n_chars" >= 60L))
      ()
    }
    // cycle 1: a SHORT near-dup precursor (fails the gate) + a long
    // fresh doc. Without the gate, doc 5 would be admitted and later
    // poison cycle 2's verdict as a canonical.
    cycle(Seq(doc(5, base),
      doc(20, "completely different words entirely novel content " +
        "nothing shared with anything prior at all here")), "g1")
    // cycle 2: the LONG near-dup of the rejected doc's content — the
    // rejected doc never entered the index, so this one KEEPS
    cycle(Seq(doc(10, base + " omega upsilon")), "g2")
    assert(curated.snapshot().select($"doc_id").as[Long].collect().toSet
      === Set(20L, 10L),
      "gate-passers must curate; the rejected doc must not block them")
    // the rejected doc is on NO dedup surface
    val sigs = graft.tables.GraftTable.load(spark,
      stage.resolve("idx").resolve("sigs").toString).snapshot()
    assert(sigs.where($"doc_id" === 5L).count() === 0,
      "a rejected doc must never enter the index")
    // ...but IS accounted for: an exactly-once audited reject verdict
    val audit = graft.tables.GraftTable.load(spark,
      stage.resolve("audit").toString)
    def rejects = audit.snapshot().where($"action" === "reject")
      .select($"doc_id", $"canonical_id").as[(Long, Long)]
      .collect().toSeq
    assert(rejects === Seq((5L, 5L)))
    // replay changes nothing and double-logs nothing
    val v = (curated.latestVersion, audit.latestVersion)
    Streams.curationStream(spark, raw.toString,
      stage.resolve("cp").toString, stage.resolve("idx").toString,
      stage.resolve("cl").toString, curated,
      auditPath = Some(stage.resolve("audit").toString),
      qualityGate = Some($"n_chars" >= 60L))
    assert((curated.latestVersion, audit.latestVersion) === v,
      "gated replay must be a no-op")
    assert(rejects === Seq((5L, 5L)))
  }

  test("streaming evolving ingest: column arrives mid-stream, sink evolves") {
    val stage = Files.createTempDirectory("graft_sevo_")
    val raw = stage.resolve("raw").toString
    java.nio.file.Files.createDirectories(stage.resolve("raw"))
    val cp = stage.resolve("cp").toString
    def land(df: org.apache.spark.sql.DataFrame, prefix: String): Unit = {
      val t = Files.createTempDirectory("graft_sevo_b_")
      df.coalesce(1).write.parquet(t.resolve("b").toString)
      val fs = java.nio.file.Files.list(t.resolve("b"))
      try fs.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .zipWithIndex.foreach { case (p, i) =>
          java.nio.file.Files.move(p,
            stage.resolve("raw").resolve(s"$prefix-$i.parquet"))
        }
      finally fs.close()
    }
    val sinkT = graft.tables.GraftTable.create(spark,
      stage.resolve("sink").toString,
      Seq.empty[(Long, String)].toDF("id", "name")
        .withColumn("_rescued_data", lit(null).cast("string")))
    // cycle 1: base schema
    land(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), "b1")
    Streams.incrementalIngestEvolving(spark, raw, cp, sinkT)
    assert(sinkT.snapshot().count() === 2)
    // cycle 2: a new column arrives mid-stream — additive evolution
    land(Seq((3L, "c", "r1"), (4L, "d", "r2")).toDF("id", "name", "region"),
      "b2")
    Streams.incrementalIngestEvolving(spark, raw, cp, sinkT)
    val snap = sinkT.snapshot()
    assert(snap.columns.contains("region"), "sink schema did not evolve")
    assert(snap.count() === 4)
    assert(snap.where($"region".isNotNull).count() === 2)
    assert(snap.where($"id" <= 2 && $"region".isNull).count() === 2,
      "pre-evolution rows must read null for the new column")
    // cycle 3: replay — nothing new lands, versions unchanged
    val v = sinkT.latestVersion
    Streams.incrementalIngestEvolving(spark, raw, cp, sinkT)
    assert(sinkT.latestVersion === v, "replay cycle must be a no-op")
    assert(sinkT.snapshot().count() === 4)
  }

  test("streaming evolving ingest: the sink watermark namespace is " +
      "the CANONICAL checkpoint path — a respelled checkpoint joins " +
      "the same exactly-once namespace instead of splitting it") {
    val stage = Files.createTempDirectory("graft_sevoc_")
    val raw = stage.resolve("raw")
    java.nio.file.Files.createDirectories(raw)
    def land(df: org.apache.spark.sql.DataFrame, prefix: String): Unit =
      graft.sources.Ingest.stageBatch(df, raw.toString, prefix)
    val sinkT = graft.tables.GraftTable.create(spark,
      stage.resolve("sink").toString,
      Seq.empty[(Long, String)].toDF("id", "name")
        .withColumn("_rescued_data", lit(null).cast("string")))
    val canonical = stage.resolve("cp").toString
    val respelled = stage.toString + "/./cp"
    // cycle 1 under the RESPELLED spelling, cycle 2 under the plain
    // one — same physical checkpoint, one batch-id sequence
    land(Seq((1L, "a")).toDF("id", "name"), "b1")
    Streams.incrementalIngestEvolving(spark, raw.toString, respelled,
      sinkT)
    land(Seq((2L, "b")).toDF("id", "name"), "b2")
    Streams.incrementalIngestEvolving(spark, raw.toString, canonical,
      sinkT)
    assert(sinkT.snapshot().count() === 2)
    // BOTH cycles' watermarks live under the canonical identity; the
    // raw respelling holds none (a raw-string appId would have split
    // them, and a replayed batch after a sink-side crash would have
    // re-landed under the other spelling)
    val canonicalReal = java.nio.file.Paths.get(canonical)
      .toRealPath().toString
    assert(sinkT.lastStreamBatchId(canonicalReal) >= 1L,
      "both batches must land under the canonical namespace")
    assert(sinkT.lastStreamBatchId(respelled) === -1L,
      "the raw respelling must hold no watermark")
  }

  test("streaming evolving ingest: rescue mode freezes schema, fail mode replays") {
    val stage = Files.createTempDirectory("graft_sevo2_")
    val raw = stage.resolve("raw")
    java.nio.file.Files.createDirectories(raw)
    def land(df: org.apache.spark.sql.DataFrame, prefix: String): Unit = {
      val t = Files.createTempDirectory("graft_sevo2_b_")
      df.coalesce(1).write.parquet(t.resolve("b").toString)
      val fs = java.nio.file.Files.list(t.resolve("b"))
      try fs.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .zipWithIndex.foreach { case (p, i) =>
          java.nio.file.Files.move(p, raw.resolve(s"$prefix-$i.parquet"))
        }
      finally fs.close()
    }
    // rescue mode: the new column lands as JSON in _rescued_data
    val cpR = stage.resolve("cpR").toString
    val sinkR = graft.tables.GraftTable.create(spark,
      stage.resolve("sinkR").toString,
      Seq.empty[(Long, String)].toDF("id", "name")
        .withColumn("_rescued_data", lit(null).cast("string")))
    land(Seq((1L, "a")).toDF("id", "name"), "b1")
    Streams.incrementalIngestEvolving(spark, raw.toString, cpR, sinkR,
      mode = "rescue")
    land(Seq((2L, "b", "r9")).toDF("id", "name", "region"), "b2")
    Streams.incrementalIngestEvolving(spark, raw.toString, cpR, sinkR,
      mode = "rescue")
    val snapR = sinkR.snapshot()
    assert(!snapR.columns.contains("region"), "rescue must freeze the schema")
    val rescued = snapR.where($"id" === 2)
      .select(get_json_object($"_rescued_data", "$.region"))
      .as[String].head()
    assert(rescued === "r9", s"rescued payload was $rescued")
    // fail mode: enforcement throws on the NEW column (the first
    // cycle establishes the schema without failing), ledgers stand
    // still, and the cycle replays after the operator reacts
    val rawF = stage.resolve("rawF")
    java.nio.file.Files.createDirectories(rawF)
    def landF(df: org.apache.spark.sql.DataFrame, prefix: String): Unit = {
      val t = Files.createTempDirectory("graft_sevo2_f_")
      df.coalesce(1).write.parquet(t.resolve("b").toString)
      val fs = java.nio.file.Files.list(t.resolve("b"))
      try fs.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .zipWithIndex.foreach { case (p, i) =>
          java.nio.file.Files.move(p, rawF.resolve(s"$prefix-$i.parquet"))
        }
      finally fs.close()
    }
    val cpF = stage.resolve("cpF").toString
    val sinkF = graft.tables.GraftTable.create(spark,
      stage.resolve("sinkF").toString,
      Seq.empty[(Long, String)].toDF("id", "name")
        .withColumn("_rescued_data", lit(null).cast("string")))
    landF(Seq((1L, "a")).toDF("id", "name"), "c1")
    Streams.incrementalIngestEvolving(spark, rawF.toString, cpF, sinkF,
      mode = "failOnNewColumns")
    assert(sinkF.snapshot().count() === 1)
    landF(Seq((2L, "b", "r3")).toDF("id", "name", "region"), "c2")
    val e = intercept[IllegalArgumentException] {
      Streams.incrementalIngestEvolving(spark, rawF.toString, cpF, sinkF,
        mode = "failOnNewColumns")
    }
    assert(e.getMessage.contains("region"))
    assert(sinkF.snapshot().count() === 1, "failed cycle must land nothing")
    // operator reacts by allowing evolution — the replayed cycle works
    Streams.incrementalIngestEvolving(spark, rawF.toString, cpF, sinkF,
      mode = "addNewColumns")
    assert(sinkF.snapshot().count() === 2)
    assert(sinkF.snapshot().columns.contains("region"))
  }
}
