package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.tables.{GraftTable, IncrementalMatView}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Protocol state — sink watermarks, COPY INTO markers, the identity
  * high water, MV source versions and retired physical column names —
  * is carried whole by every resolved commit: a reader gets it from
  * the latest commit, log cleanup only deletes, and DESCRIBE HISTORY
  * shows operation metrics only. Also the commit format the readers
  * rely on: the stamp, per-file stats with row counts, and the change
  * set of every DML commit.
  */
class ProtocolStateSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_state_").resolve("t").toString

  private def logDir(dir: String): Path = Paths.get(dir, "_graft_log")

  private def commitPath(dir: String, v: Long): Path =
    logDir(dir).resolve(f"v$v%08d.json")

  private def rawJson(dir: String, v: Long): JValue =
    JsonMethods.parse(Files.readString(commitPath(dir, v)))

  private def versionsOnDisk(dir: String): Seq[Long] = {
    val s = Files.list(logDir(dir))
    try s.iterator().asScala.map(_.getFileName.toString)
      .collect { case n if n.matches("v\\d+\\.json") =>
        n.substring(1, n.length - 5).toLong }
      .toSeq.sorted
    finally s.close()
  }

  /** Delete every commit file older than the newest FULL commit (the
    * checkpoint) directly on disk — no log cleanup involved. Returns
    * the checkpoint version.
    */
  private def dropCommitsBeforeCheckpoint(dir: String): Long = {
    val full = versionsOnDisk(dir).filter(v => rawJson(dir, v) \ "delta" match {
      case JBool(true) => false
      case _ => true
    })
    val anchor = full.last
    assert(anchor > 0L, s"no checkpoint above CREATE in $dir")
    versionsOnDisk(dir).filter(_ < anchor)
      .foreach(v => Files.delete(commitPath(dir, v)))
    anchor
  }

  private def churn(t: GraftTable, n: Int): Unit =
    (1 to n).foreach(i => t.setProperties(Map("touch" -> i.toString)))

  private def ids(dir: String): Seq[Long] =
    GraftTable.load(spark, dir).snapshot().select($"id").as[Long]
      .collect().toSeq

  test("a clone of an identity table never reuses identity values " +
      "after log retention pruned the commits that assigned them") {
    val dir = tmp()
    val t = GraftTable.create(spark, dir, Seq("a", "b").toDF("v"),
      identity = Some("id"))
    t.append(Seq("c", "d").toDF("v"))
    churn(t, 120)
    t.setProperties(Map("graft.logRetention.versions" -> "20"))
    t.vacuum()
    assert(!versionsOnDisk(dir).contains(1L),
      "retention must have pruned the identity-assigning commits")
    val shallow = GraftTable.shallowClone(spark, dir, tmp())
    val deep = GraftTable.deepClone(spark, dir, tmp())
    Seq(shallow, deep).foreach { c =>
      assert(c.identityHighWater === 3L)
      c.append(Seq("e", "f").toDF("v"))
      val got = c.snapshot().select($"id").as[Long].collect().toSeq
      assert(got.size === 6 && got.distinct.size === 6,
        s"clone at ${c.root} repeated identity values: ${got.sorted}")
      assert(got.max === 5L)
    }
    assert(!Files.exists(logDir(dir).resolve("metrics-rollup.json")),
      "log cleanup writes no sidecar")
  }

  test("DESCRIBE HISTORY shows each DML op's metrics and no protocol state") {
    val dir = tmp()
    val t = GraftTable.create(spark, dir,
      spark.range(0, 200, 1, 2).select($"id", ($"id" * 1.0).as("x")))
    val ops = Seq(
      "append" -> (() => t.append(Seq((500L, 5.0)).toDF("id", "x"))),
      "delete" -> (() => t.delete($"id" < 10)),
      "update" -> (() => t.update($"id" === 50, Map("x" -> lit(-1.0)))),
      "merge" -> (() => t.merge(Seq((60L, 6.5), (600L, 6.0))
        .toDF("id", "x"), "id")),
      "replaceWhere" -> (() => t.replaceWhere($"id" >= 100 && $"id" < 110,
        Seq((100L, 1.5)).toDF("id", "x"))),
      "deleteMor" -> (() => t.deleteMor($"id" === 120)),
      "updateMor" -> (() => t.updateMor($"id" === 121, Map("x" -> lit(-2.0)))),
      "mergeMor" -> (() => t.mergeMor(Seq((122L, 1.0), (700L, 7.0))
        .toDF("id", "x"), Seq("id"))))
    val versions = ops.map { case (op, body) =>
      val before = t.latestVersion
      body()
      assert(t.latestVersion === before + 1, s"$op made no commit")
      op -> t.latestVersion
    }
    val hist = t.history().collect().map(r =>
      r.getLong(0) -> r.getMap[String, Long](4).toMap).toMap
    versions.foreach { case (op, v) =>
      assert(hist(v).nonEmpty, s"$op at version $v has no operation metrics")
    }
    assert(t.history().schema === graft.tables.GraftSql.historySchema)
    // every spelling of protocol state, on tables that hold each kind
    val sink = GraftTable.create(spark, tmp(), Seq((1L, "a")).toDF("id", "v"))
    sink.appendIfNew(Seq((2L, "b")).toDF("id", "v"), 0L, appId = "app")
    val src = Files.createTempDirectory("graft_state_copy_").toString
    Seq((3L, "c")).toDF("id", "v").coalesce(1).write.mode("append").parquet(src)
    sink.copyInto(src)
    sink.dropColumn("v")
    val idt = GraftTable.create(spark, tmp(), Seq("a").toDF("v"),
      identity = Some("id"))
    idt.append(Seq("b").toDF("v"))
    val mv = IncrementalMatView.create(spark, t, tmp(), Seq("id"), "x")
    t.append(Seq((800L, 8.0)).toDF("id", "x"))
    mv.refresh()
    val protocol = Seq("txn:", "copy:", "identity:", "mvSourceVersion",
      "mvDimVersion", "phys")
    Seq(t, sink, idt, mv.mv).foreach { tb =>
      tb.history().collect().foreach { r =>
        val keys = r.getMap[String, Long](4).keySet
        assert(!keys.exists(k => protocol.exists(k.startsWith)),
          s"version ${r.getLong(0)} of ${tb.root} holds protocol state: $keys")
      }
    }
    // the state itself is intact
    assert(sink.lastStreamBatchId("app") === 0L)
    assert(idt.identityHighWater === 1L)
    assert(mv.reflectedVersion === t.latestVersion)
  }

  test("protocol state survives without the commits that recorded it") {
    // sink watermark + COPY INTO ledger
    val sinkDir = tmp()
    val sink = GraftTable.create(spark, sinkDir, Seq((0L, "s")).toDF("id", "v"))
    sink.appendIfNew(Seq((1L, "a")).toDF("id", "v"), 3L, appId = "app")
    val src = Files.createTempDirectory("graft_state_src_").toString
    Seq((2L, "b")).toDF("id", "v").coalesce(1).write.mode("append").parquet(src)
    sink.copyInto(src)
    // physical names: a dropped column's bytes stay in old files
    sink.dropColumn("v")
    churn(sink, 15)
    val (appendState, touchState, checkpointState) =
      (rawJson(sinkDir, 1L) \ "state", rawJson(sinkDir, 5L) \ "state",
        rawJson(sinkDir, 10L) \ "state")
    // identity high water
    val idDir = tmp()
    val idt = GraftTable.create(spark, idDir, Seq("a", "b").toDF("v"),
      identity = Some("id"))
    idt.append(Seq("c").toDF("v"))
    churn(idt, 12)
    // MV source version
    val factDir = tmp()
    val fact = GraftTable.create(spark, factDir,
      Seq((1L, 1.0), (2L, 2.0)).toDF("id", "x"))
    val mvDir = tmp()
    val mv = IncrementalMatView.create(spark, fact, mvDir, Seq("id"), "x")
    fact.append(Seq((3L, 3.0)).toDF("id", "x"))
    mv.refresh()
    val reflected = mv.reflectedVersion
    churn(mv.mv, 12)

    Seq(sinkDir, idDir, mvDir).foreach(dropCommitsBeforeCheckpoint)

    val sink2 = GraftTable.load(spark, sinkDir)
    assert(sink2.lastStreamBatchId("app") === 3L)
    val n = sink2.snapshot().count()
    sink2.appendIfNew(Seq((9L)).toDF("id"), 3L, appId = "app")
    assert(sink2.snapshot().count() === n, "a landed batch re-landed")
    sink2.copyInto(src)
    assert(sink2.snapshot().count() === n, "a copied file loaded twice")
    sink2.append(Seq((4L, "new")).toDF("id", "v"), evolve = true)
    val vs = sink2.snapshot().orderBy("id").select($"v").as[Option[String]]
      .collect().toSeq
    assert(vs === Seq(None, None, None, Some("new")),
      "the dropped column's bytes resurfaced under the re-added name")

    val idt2 = GraftTable.load(spark, idDir)
    assert(idt2.identityHighWater === 2L)
    idt2.append(Seq("d").toDF("v"))
    assert(ids(idDir).sorted === Seq(0L, 1L, 2L, 3L))

    assert(IncrementalMatView.load(spark, mvDir).reflectedVersion === reflected)

    // a delta commit stores only the entries it changed; the
    // checkpoint stores all of it
    assert(appendState \ "watermarks" \ "txn:app" === JInt(3))
    assert(touchState === JNothing)
    assert(checkpointState \ "watermarks" \ "txn:app" === JInt(3))
    assert(checkpointState \ "retired" === JArray(List(JString("v"))))
  }

  test("a commit without the format stamp is refused with the table named") {
    val dir = tmp()
    val t = GraftTable.create(spark, dir, Seq((1L, "a")).toDF("id", "v"))
    t.append(Seq((2L, "b")).toDF("id", "v"))
    val p = commitPath(dir, 1L)
    val stripped = JsonMethods.parse(Files.readString(p))
      .removeField { case (k, _) => k == "format" }
    Files.writeString(p, JsonMethods.compact(JsonMethods.render(stripped)))
    val e = intercept[IllegalStateException] {
      GraftTable.load(spark, dir).snapshot()
    }
    assert(e.getMessage.contains(Paths.get(dir).toString), e.getMessage)
    assert(e.getMessage.contains("recreate the table"), e.getMessage)
  }

  /** The latest commit of `t` lists a FileStats entry for every file,
    * holding that file's own row count; a DML commit (`dml`) also
    * records its change set, so the change feed never diffs files.
    */
  private def assertCommitComplete(op: String, t: GraftTable,
      dml: Boolean = false): Unit = {
    val v = t.latestVersion
    val info = t.snapshotInfo(v)
    assert(info.files.nonEmpty, s"$op: no files to check")
    info.files.foreach { f =>
      val st = info.stats.get(f)
      assert(st.isDefined, s"$op: no FileStats for $f")
      assert(st.get.rows === spark.read.parquet(f).count(),
        s"$op: FileStats row count of $f")
    }
    if (dml) assert(
      (rawJson(t.root.toString, v) \ "cdc").isInstanceOf[JArray],
      s"$op: commit $v records no change set")
  }

  test("every write op's commit lists each file's stats with its row " +
      "count, and every DML commit records its change set") {
    val t = GraftTable.create(spark, tmp(), spark.range(0, 40, 1, 2)
      .select($"id", ($"id" % 4).as("k"), ($"id" * 1.0).as("x")))
    assertCommitComplete("create", t)
    def rows(ids: Long*) = ids.map(i => (i, i % 4, i * 2.0)).toDF("id", "k", "x")
    def step(op: String, dml: Boolean = false)(body: => Any): Unit = {
      val before = t.latestVersion
      body
      assert(t.latestVersion > before, s"$op committed nothing")
      assertCommitComplete(op, t, dml)
    }
    step("append")(t.append(rows(40L, 41L)))
    step("delete", dml = true)(t.delete($"id" < 2))
    step("update", dml = true)(t.update($"id" === 5, Map("x" -> lit(-1.0))))
    step("merge", dml = true)(t.merge(rows(6L, 100L), "id"))
    step("replaceWhere", dml = true)(
      t.replaceWhere($"id" >= 20 && $"id" < 23, rows(20L)))
    step("deleteMor", dml = true)(t.deleteMor($"id" === 30))
    step("updateMor", dml = true)(
      t.updateMor($"id" === 31, Map("x" -> lit(-2.0))))
    step("mergeMor", dml = true)(t.mergeMor(rows(32L, 101L), Seq("id")))
    // deep clone of merge-on-read state materializes the masked rows
    assertCommitComplete("deepClone (deletion vectors)",
      GraftTable.deepClone(spark, t.root.toString, tmp()))
    step("compact")(t.compact(1))
    step("cluster")(t.clusterBy(3, "id"))
    step("zorder")(t.clusterByZOrder(2, "id", "x"))
    step("restore")(t.restore(2L))
    step("overwrite")(t.overwrite(rows(1L, 2L, 3L)))
    assertCommitComplete("shallowClone",
      GraftTable.shallowClone(spark, t.root.toString, tmp()))
    assertCommitComplete("deepClone",
      GraftTable.deepClone(spark, t.root.toString, tmp()))

    val p = GraftTable.create(spark, tmp(), rows(0L, 1L, 2L, 3L),
      partitionBy = Seq("k"))
    val pv = p.latestVersion
    p.overwritePartitions(rows(1L, 5L))
    assert(p.latestVersion > pv)
    assertCommitComplete("overwritePartitions", p, dml = true)

    val flat = Files.createTempDirectory("graft_state_conv_").resolve("d")
    rows(0L, 1L, 2L).write.parquet(flat.toString)
    assertCommitComplete("convert (flat)",
      GraftTable.convert(spark, flat.toString))
    val hive = Files.createTempDirectory("graft_state_conv_").resolve("d")
    rows(0L, 1L, 2L, 3L).write.partitionBy("k").parquet(hive.toString)
    assertCommitComplete("convert (hive)",
      GraftTable.convert(spark, hive.toString))
  }

  test("RESTORE keeps watermarks: a landed batch replayed after a " +
      "restore to an older version is still a no-op") {
    val t = GraftTable.create(spark, tmp(), Seq((0L, "a")).toDF("id", "v"))
    t.appendIfNew(Seq((1L, "b")).toDF("id", "v"), 0L, appId = "app")
    t.appendIfNew(Seq((2L, "c")).toDF("id", "v"), 1L, appId = "app")
    t.restore(0L)
    assert(t.snapshot().count() === 1L)
    assert(t.lastStreamBatchId("app") === 1L)
    val v = t.latestVersion
    t.appendIfNew(Seq((2L, "c")).toDF("id", "v"), 1L, appId = "app")
    assert(t.latestVersion === v && t.snapshot().count() === 1L)
    t.appendIfNew(Seq((3L, "d")).toDF("id", "v"), 2L, appId = "app")
    assert(t.snapshot().count() === 2L)
  }
}
