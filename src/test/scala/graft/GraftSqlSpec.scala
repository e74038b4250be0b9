package graft

import java.nio.file.Files

import graft.tables.{GraftSql, GraftTable, IncrementalMatView}
import org.apache.spark.sql.functions._

/** SQL-string DML over catalog-registered graft tables, plus the
  * conditional MERGE clause surface underneath it.
  */
class GraftSqlSpec extends SparkSpec {
  import spark.implicits._

  private def readOp(t: GraftTable, v: Long): String =
    t.history().where($"version" === v).collect()(0)
      .getAs[String]("operation")

  private def registered(name: String): (GraftTable, String) = {
    val dir = Files.createTempDirectory("graft_sql_").resolve("t").toString
    val t = GraftTable.create(spark, dir,
      Tables.load(spark, sf, "orders").repartition(4, $"o_orderkey"))
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING `graft-table` OPTIONS (path '$dir')")
    (t, dir)
  }

  test("DELETE FROM <table> WHERE runs the transactional delete") {
    val (t, _) = registered("gs_del")
    try {
      val expect = t.snapshot()
        .where(!($"o_orderstatus" === "P" && $"o_custkey" % 7 === 0)).count()
      GraftSql.sql(spark,
        "DELETE FROM gs_del WHERE o_orderstatus = 'P' AND o_custkey % 7 = 0")
      assert(t.snapshot().count() === expect)
      assert(t.history().where($"operation" === "DELETE").count() === 1)
    } finally spark.sql("DROP TABLE IF EXISTS gs_del")
  }

  test("UPDATE <table> SET ... WHERE runs the transactional update") {
    val (t, _) = registered("gs_upd")
    try {
      GraftSql.sql(spark,
        "UPDATE gs_upd SET o_totalprice = o_totalprice + 100.0 " +
          "WHERE o_orderpriority = '1-URGENT'")
      val bumped = t.snapshot().where($"o_orderpriority" === "1-URGENT")
      val orig = Tables.load(spark, sf, "orders")
        .where($"o_orderpriority" === "1-URGENT")
      val got = bumped.agg(sum($"o_totalprice")).head.getDouble(0)
      val expect = orig.agg(sum($"o_totalprice") + count(lit(1)) * 100.0)
        .head.getDouble(0)
      assert(math.abs(got - expect) < 1e-4, s"$got vs $expect")
    } finally spark.sql("DROP TABLE IF EXISTS gs_upd")
  }

  test("MERGE INTO with UPDATE SET * / INSERT * matches the Scala API") {
    val (t, _) = registered("gs_merge")
    try {
      val src = Tables.load(spark, sf, "orders")
        .where($"o_orderkey" % 10 === 0)
        .withColumn("o_orderstatus", lit("U"))
      src.createOrReplaceTempView("gs_merge_src")
      GraftSql.sql(spark,
        """MERGE INTO gs_merge t USING gs_merge_src s
          |ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val snap = t.snapshot()
      assert(snap.count() === Tables.load(spark, sf, "orders").count())
      assert(snap.where($"o_orderstatus" === "U").count() === src.count())
    } finally spark.sql("DROP TABLE IF EXISTS gs_merge")
  }

  test("graft.enableDeletionVectors routes SQL DELETE/UPDATE through " +
      "merge-on-read") {
    val (t, dir) = registered("gs_dvdml")
    try {
      GraftSql.sql(spark,
        "ALTER TABLE gs_dvdml SET TBLPROPERTIES " +
          "('graft.enableDeletionVectors' = 'true')")
      import scala.jdk.CollectionConverters._
      def files() = java.nio.file.Files.list(
        java.nio.file.Paths.get(dir).resolve("files"))
        .iterator().asScala.map(_.getFileName.toString).toSet
      val before = files()
      val nP = t.snapshot().where($"o_orderstatus" === "P").count()
      GraftSql.sql(spark, "DELETE FROM gs_dvdml WHERE o_orderstatus = 'P'")
      assert(files() === before, "DV DELETE must not rewrite data files")
      val tt = GraftTable.load(spark, dir)
      assert(tt.snapshot().where($"o_orderstatus" === "P").count() === 0)
      GraftSql.sql(spark,
        "UPDATE gs_dvdml SET o_orderpriority = '5-LOW' " +
          "WHERE o_custkey % 7 = 0")
      assert(files().intersect(before) === before,
        "DV UPDATE must only APPEND files, never rewrite")
      val t2 = GraftTable.load(spark, dir)
      assert(t2.snapshot()
        .where($"o_custkey" % 7 === 0 && $"o_orderpriority" =!= "5-LOW")
        .count() === 0)
      assert(t2.snapshot().where($"o_orderstatus" === "P").count() === 0)
      assert(t2.snapshot().count() ===
        Tables.load(spark, sf, "orders").count() - nP)
      assert(t2.history().select($"operation").as[String].collect()
        .count(op => op == "DELETE_DV" || op == "UPDATE_DV") === 2)
      // MERGE routes through merge-on-read under the same property
      val afterDml = files()
      spark.range(0, 5).select(($"id" + 1).as("o_orderkey"),
          lit("0-RUSH").as("o_orderpriority"))
        .createOrReplaceTempView("gs_dvdml_src")
      GraftSql.sql(spark,
        """MERGE INTO gs_dvdml t USING gs_dvdml_src s
          |ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED THEN UPDATE SET o_orderpriority = s.o_orderpriority
          |""".stripMargin)
      assert(files().intersect(afterDml) === afterDml,
        "DV MERGE must only APPEND files, never rewrite")
      val t3 = GraftTable.load(spark, dir)
      assert(t3.history().select($"operation").as[String].collect()
        .contains("MERGE_DV"))
      assert(t3.snapshot()
        .where($"o_orderkey".between(1, 5) &&
          $"o_orderpriority" =!= "0-RUSH").count() === 0)
      assert(t3.snapshot().count() === t2.snapshot().count())
    } finally spark.sql("DROP TABLE IF EXISTS gs_dvdml")
  }

  test("MERGE WITH SCHEMA EVOLUTION INTO evolves the target schema " +
      "in the same commit") {
    val (t, _) = registered("gs_emerge")
    try {
      val src = Tables.load(spark, sf, "orders")
        .where($"o_orderkey" % 10 === 0)
        .withColumn("o_channel", lit("online"))
      src.createOrReplaceTempView("gs_emerge_src")
      GraftSql.sql(spark,
        """MERGE WITH SCHEMA EVOLUTION INTO gs_emerge t
          |USING gs_emerge_src s
          |ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val snap = t.snapshot()
      assert(snap.columns.contains("o_channel"))
      assert(snap.count() === Tables.load(spark, sf, "orders").count())
      assert(snap.where($"o_channel" === "online").count() === src.count())
      assert(snap.where($"o_channel".isNull).count() ===
        snap.count() - src.count())
    } finally spark.sql("DROP TABLE IF EXISTS gs_emerge")
  }

  test("MERGE with conditional UPDATE / DELETE / qualified assignments") {
    val (t, _) = registered("gs_cmerge")
    try {
      val src = Tables.load(spark, sf, "orders")
        .where($"o_orderkey" % 5 === 0)
        .select($"o_orderkey", $"o_totalprice".as("new_price"))
      src.createOrReplaceTempView("gs_cmerge_src")
      val before = t.snapshot()
      val matchedKeys = before.join(src, "o_orderkey").select(
        $"o_orderkey",
        ($"o_orderstatus" === "P").as("isP"))
      val nDel = matchedKeys.where($"isP").count()
      val nUpd = matchedKeys.where(!$"isP").count()
      assert(nDel > 0 && nUpd > 0)
      GraftSql.sql(spark,
        """MERGE INTO gs_cmerge t USING gs_cmerge_src s
          |ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED AND t.o_orderstatus = 'P' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET o_totalprice = s.new_price + 1.0""".stripMargin)
      val after = t.snapshot()
      assert(after.count() === before.count() - nDel)
      val updated = after.join(src, "o_orderkey")
      assert(updated.count() === nUpd)
      assert(updated.where($"o_totalprice" =!= $"new_price" + 1.0).count() === 0)
    } finally spark.sql("DROP TABLE IF EXISTS gs_cmerge")
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE THEN DELETE syncs to the source") {
    val (t, _) = registered("gs_sync")
    try {
      val src = Tables.load(spark, sf, "orders")
        .where($"o_orderkey" % 4 === 0)
        .withColumn("o_totalprice", $"o_totalprice" + 7.0)
      src.createOrReplaceTempView("gs_sync_src")
      GraftSql.sql(spark,
        """MERGE INTO gs_sync t USING gs_sync_src s
          |ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *
          |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
      // full sync: the table now IS the source
      val snap = t.snapshot()
      assert(snap.count() === src.count())
      assert(snap.exceptAll(src).count() === 0)
      assert(src.exceptAll(snap).count() === 0)
    } finally spark.sql("DROP TABLE IF EXISTS gs_sync")
  }

  test("conditional BY SOURCE UPDATE and DELETE fire first-match-wins") {
    val (t, _) = registered("gs_syncc")
    try {
      val before = t.snapshot().persist()
      before.count()
      val src = Tables.load(spark, sf, "orders")
        .where($"o_orderkey" % 3 === 0)
        .select($"o_orderkey", $"o_totalprice".as("p"))
      src.createOrReplaceTempView("gs_syncc_src")
      GraftSql.sql(spark,
        """MERGE INTO gs_syncc t USING gs_syncc_src s
          |ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED THEN UPDATE SET o_totalprice = s.p + 2.0
          |WHEN NOT MATCHED BY SOURCE AND t.o_orderstatus = 'O'
          |  THEN UPDATE SET o_orderpriority = '5-LOW'
          |WHEN NOT MATCHED BY SOURCE AND t.o_orderstatus = 'P' THEN DELETE""".stripMargin)
      val after = t.snapshot()
      val unmatched = before.join(src, Seq("o_orderkey"), "left_anti")
      val expect = before.join(src, "o_orderkey")
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
          ($"p" + 2.0).as("o_totalprice"), $"o_orderdate", $"o_orderpriority")
        .unionByName(unmatched.where($"o_orderstatus" === "O")
          .withColumn("o_orderpriority", lit("5-LOW")))
        .unionByName(unmatched.where($"o_orderstatus" =!= "O" &&
          $"o_orderstatus" =!= "P"))
      assert(after.count() === expect.count())
      assert(after.exceptAll(expect).count() === 0)
      before.unpersist()
    } finally spark.sql("DROP TABLE IF EXISTS gs_syncc")
  }

  test("BY SOURCE clauses cannot reference source columns") {
    val (t, _) = registered("gs_syncref")
    try {
      Tables.load(spark, sf, "orders").limit(10)
        .createOrReplaceTempView("gs_syncref_src")
      val e = intercept[IllegalArgumentException] {
        GraftSql.sql(spark,
          """MERGE INTO gs_syncref t USING gs_syncref_src s
            |ON t.o_orderkey = s.o_orderkey
            |WHEN NOT MATCHED BY SOURCE AND s.o_custkey > 0 THEN DELETE""".stripMargin)
      }
      assert(e.getMessage.contains("cannot reference source columns"))
      // nothing committed
      assert(readOp(t, t.latestVersion) === "CREATE")
    } finally spark.sql("DROP TABLE IF EXISTS gs_syncref")
  }

  test("MERGE conditional INSERT only admits accepted source rows") {
    val (t, _) = registered("gs_imerge")
    try {
      val src = spark.range(1, 11)
        .select(($"id" + 20000000L).as("o_orderkey"),
          lit(1L).as("o_custkey"), lit("N").as("o_orderstatus"),
          ($"id" * 10.0).as("o_totalprice"),
          lit(java.sql.Timestamp.valueOf("2020-01-01 00:00:00")).cast(
            t.snapshot().schema("o_orderdate").dataType).as("o_orderdate"),
          lit("3-MEDIUM").as("o_orderpriority"))
      src.createOrReplaceTempView("gs_imerge_src")
      val before = t.snapshot().count()
      GraftSql.sql(spark,
        """MERGE INTO gs_imerge t USING gs_imerge_src s
          |ON t.o_orderkey = s.o_orderkey
          |WHEN NOT MATCHED AND s.o_totalprice > 50.0 THEN INSERT *""".stripMargin)
      assert(t.snapshot().count() === before + 5)
    } finally spark.sql("DROP TABLE IF EXISTS gs_imerge")
  }

  test("table-utility SQL: DESCRIBE HISTORY / OPTIMIZE / VACUUM / RESTORE") {
    val (t, _) = registered("gs_util")
    try {
      GraftSql.sql(spark, "DELETE FROM gs_util WHERE o_orderkey % 2 = 0")
      val hist = GraftSql.sql(spark, "DESCRIBE HISTORY gs_util")
      assert(hist.select("operation").as[String].collect().toSeq ===
        Seq("DELETE", "CREATE")) // newest first, limited or not
      // LIMIT n: only the latest n commits, ALWAYS newest first (a
      // generous limit must not flip row 0 to the CREATE commit)
      val lim = GraftSql.sql(spark, "DESCRIBE HISTORY gs_util LIMIT 1")
      assert(lim.select("operation").as[String].collect().toSeq ===
        Seq("DELETE"))
      val limBig = GraftSql.sql(spark, "DESCRIBE HISTORY gs_util LIMIT 99")
      assert(limBig.select("operation").as[String].collect().toSeq ===
        Seq("DELETE", "CREATE"))
      GraftSql.sql(spark, "OPTIMIZE gs_util")
      assert(t.history().where($"operation" === "COMPACT").count() === 1)
      GraftSql.sql(spark, "OPTIMIZE gs_util ZORDER BY (o_custkey, o_orderkey)")
      assert(t.history().where($"operation" === "ZORDER").count() === 1)
      val preRestore = t.snapshot().count()
      GraftSql.sql(spark, "RESTORE TABLE gs_util TO VERSION AS OF 0")
      assert(t.snapshot().count() > preRestore)
      // DRY RUN: previews the reclaim set, deletes nothing, and the
      // real vacuum reclaims exactly what the preview listed
      val preview = GraftSql.sql(spark,
        "VACUUM gs_util RETAIN 2 VERSIONS DRY RUN")
      val previewed = preview.select("path").as[String].collect().toSet
      assert(previewed.nonEmpty)
      assert(previewed.forall(f =>
        java.nio.file.Files.exists(t.root.resolve(f))),
        "dry run must not delete")
      GraftSql.sql(spark, "VACUUM gs_util RETAIN 2 VERSIONS")
      assert(previewed.forall(f =>
        !java.nio.file.Files.exists(t.root.resolve(f))),
        "vacuum reclaimed a different set than its preview")
      // post-vacuum, the current snapshot still reads fine
      assert(t.snapshot().count() === Tables.load(spark, sf, "orders").count())
    } finally spark.sql("DROP TABLE IF EXISTS gs_util")
  }

  test("COPY INTO loads each source file exactly once") {
    val dir = Files.createTempDirectory("graft_copy_").resolve("t").toString
    val src = Files.createTempDirectory("graft_copy_src_").toString
    val t = graft.tables.GraftTable.create(spark, dir,
      Seq((0L, "seed")).toDF("id", "v"))
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write
      .mode("append").parquet(src)
    Seq((2L, "b")).toDF("id", "v").coalesce(1).write
      .mode("append").parquet(src)
    t.copyInto(src)
    assert(t.snapshot().count() === 3)
    // re-run unchanged: a no-op WITHOUT a commit
    val v = t.latestVersion
    t.copyInto(src)
    assert(t.latestVersion === v && t.snapshot().count() === 3)
    // new files arrive: only they load
    Seq((3L, "c")).toDF("id", "v").coalesce(1).write
      .mode("append").parquet(src)
    t.copyInto(src)
    assert(t.snapshot().count() === 4)
    assert(t.snapshot().where($"id" === 3L).count() === 1)
    // the ledger survives LOG RETENTION in the carried protocol state
    (1 to 25).foreach(i => t.setProperties(Map("touch" -> i.toString)))
    t.setProperties(Map("graft.logRetention.versions" -> "5"))
    t.vacuum()
    val t2 = graft.tables.GraftTable.load(spark, dir)
    t2.copyInto(src)
    assert(t2.snapshot().count() === 4, "log retention regressed the copy ledger")
    // SQL spelling on a registered table
    spark.sql("DROP TABLE IF EXISTS gs_copy")
    spark.sql(s"CREATE TABLE gs_copy USING `graft-table` OPTIONS (path '$dir')")
    try {
      Seq((4L, "d")).toDF("id", "v").coalesce(1).write
        .mode("append").parquet(src)
      GraftSql.sql(spark, s"COPY INTO gs_copy FROM '$src' FILEFORMAT = PARQUET")
      assert(spark.table("gs_copy").count() === 5)
      GraftSql.sql(spark, s"COPY INTO gs_copy FROM '$src'")
      assert(spark.table("gs_copy").count() === 5)
    } finally spark.sql("DROP TABLE IF EXISTS gs_copy")
  }

  test("VACUUM ... RETAIN n HOURS resolves the window from commit timestamps") {
    val dir = Files.createTempDirectory("graft_vh_").resolve("t").toString
    val t = graft.tables.GraftTable.create(spark, dir,
      Seq((1L, "a")).toDF("id", "v"))                 // v0
    t.overwrite(Seq((2L, "b")).toDF("id", "v"))       // v1 retires v0's files
    t.overwrite(Seq((3L, "c")).toDF("id", "v"))       // v2 retires v1's files
    // age v0/v1 to 10 days old ON DISK — the window must resolve from
    // commit timestamps, not version counts
    val aged = System.currentTimeMillis() - 10L * 24 * 3600 * 1000
    (0L to 1L).foreach { v =>
      val p = java.nio.file.Paths.get(dir, "_graft_log", f"v$v%08d.json")
      Files.writeString(p, Files.readString(p)
        .replaceAll("\"timestampMs\":\\d+", s""""timestampMs":$aged"""))
    }
    spark.sql("CREATE TABLE gs_hours USING `graft-table` " +
      s"OPTIONS (path '$dir')")
    try {
      // 168 h = 7 days: v0/v1 fall outside, only v2 is retained
      val preview = GraftSql.sql(spark,
        "VACUUM gs_hours RETAIN 168 HOURS DRY RUN")
      val previewed = preview.select("path").as[String].collect().toSet
      assert(previewed.nonEmpty, "aged versions' files must be reclaimable")
      GraftSql.sql(spark, "VACUUM gs_hours RETAIN 168 HOURS")
      val fresh = graft.tables.GraftTable.load(spark, dir)
      assert(previewed.forall(f => !Files.exists(fresh.root.resolve(f))),
        "RETAIN HOURS vacuum reclaimed a different set than its preview")
      assert(fresh.snapshot().count() === 1)
      // a generous window retains everything: nothing to reclaim
      assert(GraftSql.sql(spark,
        "VACUUM gs_hours RETAIN 99999 HOURS DRY RUN").count() === 0)
      // the retainHours PROPERTY drives the no-arg vacuum the same way
      fresh.setProperties(Map("graft.vacuum.retainHours" -> "99999"))
      assert(fresh.vacuumDryRun().count() === 0)
    } finally spark.sql("DROP TABLE IF EXISTS gs_hours")
  }

  test("MERGE on composite keys, API and SQL") {
    import graft.tables.GraftTable
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ck_").resolve("t").toString
    val t = GraftTable.create(spark, dir,
      Seq((1L, "a", 10.0), (1L, "b", 20.0), (2L, "a", 30.0))
        .toDF("k1", "k2", "v"))
    // API: both key columns must match; (1,b) updates, (3,c) inserts,
    // and the single-key overlap rows (1,a)/(2,a) stay untouched
    t.merge(Seq((1L, "b", 99.0), (3L, "c", 7.0)).toDF("k1", "k2", "v"),
      Seq("k1", "k2"))
    val snap = t.snapshot()
    assert(snap.count() === 4)
    assert(snap.where($"k1" === 1 && $"k2" === "b")
      .select("v").as[Double].head() === 99.0)
    assert(snap.where($"k1" === 1 && $"k2" === "a")
      .select("v").as[Double].head() === 10.0)
    assert(snap.where($"k1" === 3 && $"k2" === "c").count() === 1)

    // SQL: AND-of-equalities ON clause routes to the same path
    spark.sql("CREATE TABLE graft_ck USING `graft-table` " +
      s"OPTIONS (path '$dir')")
    try {
      Seq((2L, "a", 555.0), (4L, "d", 1.0)).toDF("k1", "k2", "v")
        .createOrReplaceTempView("graft_ck_src")
      GraftSql.sql(spark,
        """MERGE INTO graft_ck t USING graft_ck_src s
          |ON t.k1 = s.k1 AND t.k2 = s.k2
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val after = GraftTable.load(spark, dir).snapshot()
      assert(after.count() === 5)
      assert(after.where($"k1" === 2 && $"k2" === "a")
        .select("v").as[Double].head() === 555.0)
      assert(after.where($"k1" === 4 && $"k2" === "d").count() === 1)
    } finally spark.sql("DROP TABLE IF EXISTS graft_ck")

    // duplicate composite keys in the source are refused; a null in
    // any key column never matches and inserts instead
    intercept[IllegalArgumentException] {
      t.merge(Seq((5L, "e", 1.0), (5L, "e", 2.0)).toDF("k1", "k2", "v"),
        Seq("k1", "k2"))
    }
    val withNull = Seq((Some(1L), None: Option[String], 42.0))
      .toDF("k1", "k2", "v")
    val before = t.snapshot().count()
    t.merge(withNull, Seq("k1", "k2"))
    assert(t.snapshot().count() === before + 1)
  }

  test("SELECT ... VERSION AS OF time-travels a registered graft table") {
    val (t, _) = registered("gs_tt")
    try {
      val before = t.snapshot().count()
      GraftSql.sql(spark, "DELETE FROM gs_tt WHERE o_orderstatus = 'P'")
      assert(t.snapshot().count() < before)
      val v0 = GraftSql.sql(spark,
        "SELECT count(*) AS n FROM gs_tt VERSION AS OF 0")
      assert(v0.head.getLong(0) === before)
      // joins/aggregates around the travel clause still work
      val agg = GraftSql.sql(spark,
        """SELECT o_orderstatus, count(*) AS n
          |FROM gs_tt VERSION AS OF 0 GROUP BY o_orderstatus""".stripMargin)
      assert(agg.where($"o_orderstatus" === "P").head.getLong(1) > 0)
    } finally spark.sql("DROP TABLE IF EXISTS gs_tt")
  }

  test("MERGE with a subquery source resolves through ofRows") {
    val (t, _) = registered("gs_sub")
    try {
      GraftSql.sql(spark,
        """MERGE INTO gs_sub t
          |USING (SELECT o_orderkey, 'Z' AS new_status FROM gs_sub
          |       WHERE o_orderkey % 50 = 0) s
          |ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED THEN UPDATE SET o_orderstatus = s.new_status""".stripMargin)
      val expect = t.snapshot().where($"o_orderkey" % 50 === 0).count()
      assert(t.snapshot().where($"o_orderstatus" === "Z").count() === expect)
      assert(expect > 0)
    } finally spark.sql("DROP TABLE IF EXISTS gs_sub")
  }

  test("typo'd SET columns fail loudly instead of committing a no-op") {
    val (t, _) = registered("gs_typo")
    try {
      val e = intercept[IllegalArgumentException] {
        GraftSql.sql(spark,
          "UPDATE gs_typo SET o_totalprics = 0 WHERE o_orderkey = 1")
      }
      assert(e.getMessage.contains("unknown column"))
      // case-insensitive resolution still works (Spark SQL semantics)
      GraftSql.sql(spark,
        "UPDATE gs_typo SET O_TOTALPRICE = 1.0 WHERE o_orderkey = 1")
      assert(t.snapshot().where($"o_orderkey" === 1)
        .head.getAs[Double]("o_totalprice") === 1.0)
    } finally spark.sql("DROP TABLE IF EXISTS gs_typo")
  }

  test("MERGE rejects duplicate source keys instead of multiplying rows") {
    val (t, _) = registered("gs_dup")
    try {
      val dup = Tables.load(spark, sf, "orders").limit(5)
        .unionByName(Tables.load(spark, sf, "orders").limit(5))
      val e = intercept[IllegalArgumentException] {
        t.merge(dup, "o_orderkey")
      }
      assert(e.getMessage.contains("duplicate join keys"))
    } finally spark.sql("DROP TABLE IF EXISTS gs_dup")
  }

  test("CREATE TABLE ... SHALLOW CLONE registers a zero-copy fork") {
    val (t, _) = registered("gs_clone_src")
    val dst = Files.createTempDirectory("graft_clone_").resolve("c").toString
    spark.sql("DROP TABLE IF EXISTS gs_clone_dst")
    try {
      GraftSql.sql(spark,
        s"CREATE TABLE gs_clone_dst SHALLOW CLONE gs_clone_src LOCATION '$dst'")
      assert(spark.table("gs_clone_dst").count() === t.snapshot().count())
      // writable fork: DML on the clone leaves the source untouched
      val srcBefore = t.snapshot().count()
      GraftSql.sql(spark, "DELETE FROM gs_clone_dst WHERE o_orderstatus = 'P'")
      assert(spark.table("gs_clone_dst").count() < srcBefore)
      assert(t.snapshot().count() === srcBefore)
    } finally {
      spark.sql("DROP TABLE IF EXISTS gs_clone_dst")
      spark.sql("DROP TABLE IF EXISTS gs_clone_src")
    }
  }

  test("CREATE TABLE ... DEEP CLONE is self-contained") {
    val (t, _) = registered("gs_deep")
    val loc = Files.createTempDirectory("graft_deep_").resolve("c").toString
    try {
      val srcCount = t.snapshot().count()
      GraftSql.sql(spark,
        s"CREATE TABLE gs_deepc DEEP CLONE gs_deep LOCATION '$loc'")
      val c = GraftTable.load(spark, loc)
      // clone equals source data (stats carried — no rescan needed
      // for metadata count)
      assert(c.snapshot().count() === srcCount)
      assert(c.rowCount === Some(srcCount))
      assert(c.snapshot().exceptAll(t.snapshot()).count() === 0)
      assert(c.history().count() === 1, "history starts fresh")
      // DML on the source does not reach the clone, and vice versa
      t.delete($"o_orderstatus" === "P")
      assert(c.snapshot().count() === srcCount, "source DML crossed into clone")
      c.delete($"o_orderstatus" === "F")
      assert(t.snapshot().where($"o_orderstatus" === "F").count() > 0,
        "clone DML crossed into source")
      // the clone survives source VACUUM (own copies, not references)
      t.compact(2)
      t.vacuum(1)
      assert(c.snapshot().where($"o_orderstatus" === "O").count() ===
        spark.table("gs_deepc").where($"o_orderstatus" === "O").count())
      assert(c.snapshot().count() > 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS gs_deep")
      spark.sql("DROP TABLE IF EXISTS gs_deepc")
    }
  }

  test("DEEP CLONE VERSION AS OF copies the historical state; DV state materializes") {
    val dir = Files.createTempDirectory("graft_deepv_").resolve("t").toString
    val t = GraftTable.create(spark, dir,
      spark.range(0, 100).select($"id", ($"id" % 7).as("g")))
    t.append(spark.range(100, 200).select($"id", ($"id" % 7).as("g")))
    // v0 had 100 rows
    val loc = Files.createTempDirectory("graft_deepv_").resolve("c").toString
    GraftTable.deepClone(spark, dir, loc, 0L)
    val c = GraftTable.load(spark, loc)
    assert(c.snapshot().count() === 100)
    // merge-on-read source: the DV-masked state materializes (the
    // clone has no DVs and reads through every surface)
    t.deleteMor($"id" < 50)
    val loc2 = Files.createTempDirectory("graft_deepv_").resolve("c2").toString
    GraftTable.deepClone(spark, dir, loc2)
    val c2 = GraftTable.load(spark, loc2)
    assert(c2.snapshot().count() === 150)
    assert(spark.read.format("graft-table").load(loc2).count() === 150,
      "materialized clone must read through the DV-gated scan")
  }

  test("a DEEP CLONE retry succeeds over a crashed attempt's debris") {
    val dir = Files.createTempDirectory("graft_deepr_").resolve("t").toString
    val t = GraftTable.create(spark, dir,
      spark.range(0, 50).select($"id", ($"id" % 3).as("g")))
    t.deleteMor($"id" < 5) // take the DV-materializing branch
    // a crash mid-data-write leaves data debris but — crucially — NO
    // log dir: the log is born only with the DEEP_CLONE commit, so
    // the retry's "already exists" guard must not fire
    val loc = Files.createTempDirectory("graft_deepr_").resolve("c").toString
    Files.createDirectories(java.nio.file.Paths.get(loc, "files"))
    Files.write(java.nio.file.Paths.get(loc, "files", "orphan.parquet"),
      Array[Byte](1, 2, 3))
    GraftTable.deepClone(spark, dir, loc)
    val c = GraftTable.load(spark, loc)
    assert(c.snapshot().count() === 45)
    // the orphan is not part of the committed state
    assert(!c.snapshotInfo(c.latestVersion).files
      .exists(_.endsWith("orphan.parquet")))
  }

  test("big deep clones copy through the distributed path") {
    val dir = Files.createTempDirectory("graft_deepbig_").resolve("t").toString
    val t = GraftTable.create(spark, dir,
      spark.range(0, 2000).select($"id", ($"id" * 2).as("x"))
        .repartition(80)) // ≥64 files → the one-job parallel copy
    assert(t.snapshotInfo(t.latestVersion).files.size >= 64)
    val loc = Files.createTempDirectory("graft_deepbig_").resolve("c").toString
    GraftTable.deepClone(spark, dir, loc)
    val c = GraftTable.load(spark, loc)
    assert(c.snapshot().count() === 2000)
    assert(c.snapshot().exceptAll(t.snapshot()).count() === 0)
    assert(c.rowCount === Some(2000L), "stats must carry through the parallel copy")
  }

  test("SHALLOW CLONE VERSION AS OF forks a historical state") {
    val (t, _) = registered("gs_clv_src")
    val dst = Files.createTempDirectory("graft_clv_").resolve("c").toString
    spark.sql("DROP TABLE IF EXISTS gs_clv_dst")
    try {
      val v0Count = t.snapshot().count()
      t.delete($"o_orderstatus" === "P") // v1
      GraftSql.sql(spark,
        s"CREATE TABLE gs_clv_dst SHALLOW CLONE gs_clv_src " +
          s"VERSION AS OF 0 LOCATION '$dst'")
      // the clone sees the PRE-delete state
      assert(spark.table("gs_clv_dst").count() === v0Count)
      assert(t.snapshot().count() < v0Count)
    } finally {
      spark.sql("DROP TABLE IF EXISTS gs_clv_dst")
      spark.sql("DROP TABLE IF EXISTS gs_clv_src")
    }
  }

  test("non-DML statements pass through to spark.sql") {
    val df = GraftSql.sql(spark, "SELECT 1 AS one")
    assert(df.head.getInt(0) === 1)
  }

  test("constraint / properties / detail DDL round-trips") {
    val dir = Files.createTempDirectory("graft_ddl_").resolve("t").toString
    val t = graft.tables.GraftTable.create(spark, dir,
      Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x"))
    spark.sql("DROP TABLE IF EXISTS gs_ddl")
    spark.sql(s"CREATE TABLE gs_ddl USING `graft-table` OPTIONS (path '$dir')")
    try {
      GraftSql.sql(spark, "ALTER TABLE gs_ddl ADD CONSTRAINT pos_x CHECK (x > 0)")
      assert(t.constraints === Map("pos_x" -> "x > 0"))
      intercept[graft.tables.ConstraintViolationException] {
        t.append(Seq((3L, -1.0)).toDF("id", "x"))
      }
      GraftSql.sql(spark, "ALTER TABLE gs_ddl DROP CONSTRAINT pos_x")
      assert(t.constraints.isEmpty)
      t.append(Seq((3L, -1.0)).toDF("id", "x")) // now lands
      GraftSql.sql(spark,
        "ALTER TABLE gs_ddl SET TBLPROPERTIES ('owner' = 'risk', 'tier' = 'gold')")
      val props = GraftSql.sql(spark, "SHOW TBLPROPERTIES gs_ddl")
        .as[(String, String)].collect().toMap
      assert(props === Map("owner" -> "risk", "tier" -> "gold"))
      val d = GraftSql.sql(spark, "DESCRIBE DETAIL gs_ddl").collect()(0)
      assert(d.getAs[String]("format") === "graft-table")
      assert(d.getAs[Long]("num_files") >= 1L)
      assert(d.getAs[Long]("size_bytes") > 0L)
      assert(!d.getAs[Boolean]("has_deletion_vectors"))
      // properties survive unrelated commits
      t.delete($"id" === 2L)
      assert(t.properties === Map("owner" -> "risk", "tier" -> "gold"))
      // unquoted and double-quoted pair spellings parse too (they
      // previously fell through to a silent no-op commit)
      GraftSql.sql(spark,
        """ALTER TABLE gs_ddl SET TBLPROPERTIES (graft.autoCompact.minFiles = '9', "note"="x,y")""")
      assert(t.properties("graft.autoCompact.minFiles") === "9")
      assert(t.properties("note") === "x,y")
      // leftover tokens the pair grammar cannot consume are an ERROR,
      // not a silently ignored suffix
      intercept[IllegalArgumentException] {
        GraftSql.sql(spark,
          "ALTER TABLE gs_ddl SET TBLPROPERTIES ('a' = 'b' junk)")
      }
      assert(!t.properties.contains("a"))
    } finally spark.sql("DROP TABLE IF EXISTS gs_ddl")
  }

  test("property-driven auto-compaction and vacuum retention") {
    val dir = Files.createTempDirectory("graft_ac_").resolve("t").toString
    val t = graft.tables.GraftTable.create(spark, dir,
      Seq((1L, "a")).toDF("id", "v"))
    t.setProperties(Map("graft.autoCompact.minFiles" -> "4",
      "graft.vacuum.retainVersions" -> "3"))
    // small appends accumulate files until the threshold trips a
    // follow-on COMPACT commit automatically — and each write still
    // returns ITS OWN commit version, not the maintenance commit's
    (2 to 6).foreach { i =>
      val v = t.append(Seq((i.toLong, s"v$i")).toDF("id", "v"))
      assert(readOp(t, v) === "APPEND",
        s"append returned the $v=${readOp(t, v)} commit, not its own")
    }
    assert(t.history().where($"operation" === "COMPACT").count() >= 1,
      "auto-compaction should have fired")
    val d = t.detail().collect()(0)
    assert(d.getAs[Long]("num_files") < 5)
    assert(t.snapshot().count() === 6) // data intact
    // a malformed property must NEVER fail the data write
    t.setProperties(Map("graft.autoCompact.minFiles" -> "oops"))
    t.append(Seq((7L, "v7")).toDF("id", "v"))
    assert(t.snapshot().count() === 7)
    t.setProperties(Map("graft.autoCompact.minFiles" -> "4"))
    // vacuum() with no args honors the property (retain 3 versions,
    // so a 4-versions-ago file set is reclaimable without error)
    t.vacuum()
    assert(t.snapshot().count() === 7)
  }

  test("TIMESTAMP AS OF resolves to the latest commit at or before it") {
    val dir = Files.createTempDirectory("graft_tt_").resolve("t").toString
    val t = graft.tables.GraftTable.create(spark, dir,
      Seq((1L, "a")).toDF("id", "v"))                  // v0
    Thread.sleep(30)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(30)
    t.append(Seq((2L, "b")).toDF("id", "v"))           // v1
    assert(t.versionAtTimestamp(betweenMs) === 0)
    // the exact last-commit timestamp still resolves to HEAD ("at or
    // before"), but anything AFTER it is an error (Delta semantics:
    // a typo'd future timestamp must not silently bind to HEAD)
    val lastTs = t.history().agg(org.apache.spark.sql.functions.max("timestamp"))
      .head.getTimestamp(0).getTime
    assert(t.versionAtTimestamp(lastTs) === 1)
    intercept[IllegalArgumentException] {
      t.versionAtTimestamp(System.currentTimeMillis() + 3600 * 1000)
    }
    intercept[IllegalArgumentException] {
      t.versionAtTimestamp(betweenMs - 3600 * 1000)
    }
    assert(t.snapshotAsOf(new java.sql.Timestamp(betweenMs)).count() === 1)
    // SQL surface: SELECT ... TIMESTAMP AS OF + DSv2 option + RESTORE
    spark.sql("DROP TABLE IF EXISTS gs_tt")
    spark.sql(s"CREATE TABLE gs_tt USING `graft-table` OPTIONS (path '$dir')")
    try {
      val tsLit = new java.sql.Timestamp(betweenMs).toString
      val viaSql = GraftSql.sql(spark,
        s"SELECT * FROM gs_tt TIMESTAMP AS OF '$tsLit'")
      assert(viaSql.count() === 1)
      val viaOpt = spark.read.format("graft-table")
        .option("timestampAsOf", tsLit).load(dir)
      assert(viaOpt.count() === 1)
      GraftSql.sql(spark,
        s"RESTORE TABLE gs_tt TO TIMESTAMP AS OF '$tsLit'")
      assert(t.snapshot().count() === 1)
    } finally spark.sql("DROP TABLE IF EXISTS gs_tt")
  }

  test("INSERT INTO lands as a transactional append (VALUES and SELECT)") {
    val (t, _) = registered("gs_ins")
    try {
      val before = t.snapshot().count()
      GraftSql.sql(spark, "INSERT INTO gs_ins VALUES " +
        "(90000001, 7, 'O', 42.5, '1996-05-05 00:00:00', '1-URGENT')")
      assert(readOp(t, t.latestVersion) === "APPEND")
      assert(t.snapshot().count() === before + 1)
      assert(t.snapshot().where($"o_orderkey" === 90000001L).count() === 1)
      // INSERT ... SELECT (self-referencing: the scan is resolved
      // before the append commits, so it reads the pre-insert state)
      GraftSql.sql(spark,
        """INSERT INTO gs_ins
          |SELECT o_orderkey + 90000000, o_custkey, 'N', o_totalprice,
          |  o_orderdate, o_orderpriority
          |FROM gs_ins WHERE o_orderkey % 500 = 0""".stripMargin)
      val added = t.snapshot().where($"o_orderstatus" === "N").count()
      assert(added > 0)
      assert(t.snapshot().count() === before + 1 + added)
      // a column LIST fills unmentioned nullable columns with NULL
      GraftSql.sql(spark,
        "INSERT INTO gs_ins (o_orderkey, o_custkey) VALUES (90000002, 8)")
      val r = t.snapshot().where($"o_orderkey" === 90000002L).collect()(0)
      assert(r.getAs[Long]("o_custkey") === 8L)
      assert(r.isNullAt(r.fieldIndex("o_orderstatus")))
      // post-insert catalog reads see the new snapshot
      assert(spark.table("gs_ins").count() === t.snapshot().count())
      // arity mismatch is an error, not positional guesswork
      intercept[IllegalArgumentException] {
        GraftSql.sql(spark, "INSERT INTO gs_ins VALUES (1, 2)")
      }
    } finally spark.sql("DROP TABLE IF EXISTS gs_ins")
  }

  test("INSERT OVERWRITE replaces the table; PARTITION spec replaces the slice") {
    val (t, _) = registered("gs_iow")
    try {
      GraftSql.sql(spark,
        """INSERT OVERWRITE gs_iow
          |SELECT * FROM gs_iow WHERE o_orderstatus = 'F'""".stripMargin)
      assert(readOp(t, t.latestVersion) === "OVERWRITE")
      assert(t.snapshot().where($"o_orderstatus" =!= "F").count() === 0)
    } finally spark.sql("DROP TABLE IF EXISTS gs_iow")
    // static-partition overwrite = guarded replaceWhere on the slice
    val dir = Files.createTempDirectory("graft_sql_").resolve("t").toString
    val t2 = GraftTable.create(spark, dir,
      Tables.load(spark, sf, "orders").repartition(4, $"o_orderkey"),
      partitionBy = Seq("o_orderstatus"))
    spark.sql("DROP TABLE IF EXISTS gs_iowp")
    spark.sql(s"CREATE TABLE gs_iowp USING `graft-table` OPTIONS (path '$dir')")
    try {
      Tables.load(spark, sf, "orders")
        .createOrReplaceTempView("graft_sql_ins_src_spec")
      val others = t2.snapshot().where($"o_orderstatus" =!= "P").count()
      GraftSql.sql(spark,
        """INSERT OVERWRITE gs_iowp PARTITION (o_orderstatus = 'P')
          |SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
          |  o_orderpriority
          |FROM graft_sql_ins_src_spec WHERE o_orderstatus = 'P'
          |  AND o_orderkey % 2 = 0""".stripMargin)
      assert(readOp(t2, t2.latestVersion) === "REPLACE_WHERE")
      assert(t2.snapshot().where($"o_orderstatus" =!= "P").count() === others)
      assert(t2.snapshot().where($"o_orderstatus" === "P" &&
        $"o_orderkey" % 2 =!= 0).count() === 0)
    } finally spark.sql("DROP TABLE IF EXISTS gs_iowp")
  }

  test("INSERT OVERWRITE under partitionOverwriteMode=dynamic " +
      "replaces only the partitions the incoming rows land in — " +
      "Spark's own INSERT OVERWRITE contract, not a full-table wipe") {
    val dir = Files.createTempDirectory("graft_sql_dyn_")
      .resolve("t").toString
    val t = GraftTable.create(spark, dir,
      Tables.load(spark, sf, "orders").repartition(4, $"o_orderkey"),
      partitionBy = Seq("o_orderstatus"))
    spark.sql("DROP TABLE IF EXISTS gs_dyn")
    spark.sql(s"CREATE TABLE gs_dyn USING `graft-table` OPTIONS (path '$dir')")
    val prev = spark.conf.getOption(
      "spark.sql.sources.partitionOverwriteMode")
    try {
      Tables.load(spark, sf, "orders")
        .createOrReplaceTempView("graft_sql_dyn_src")
      val others = t.snapshot().where($"o_orderstatus" =!= "P").count()
      assert(others > 0, "setup: need rows outside the touched slice")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode",
        "dynamic")
      GraftSql.sql(spark,
        """INSERT OVERWRITE gs_dyn
          |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
          |  o_orderdate, o_orderpriority
          |FROM graft_sql_dyn_src
          |WHERE o_orderstatus = 'P' AND o_orderkey % 2 = 0""".stripMargin)
      // untouched partitions survive; the touched one was replaced
      assert(t.snapshot().where($"o_orderstatus" =!= "P").count()
        === others,
        "dynamic overwrite must not drop untouched partitions")
      assert(t.snapshot().where($"o_orderstatus" === "P" &&
        $"o_orderkey" % 2 =!= 0).count() === 0)
      // STATIC (the default) still replaces the whole table
      spark.conf.set("spark.sql.sources.partitionOverwriteMode",
        "static")
      GraftSql.sql(spark,
        """INSERT OVERWRITE gs_dyn
          |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
          |  o_orderdate, o_orderpriority
          |FROM graft_sql_dyn_src WHERE o_orderstatus = 'F'""".stripMargin)
      assert(t.snapshot().where($"o_orderstatus" =!= "F").count() === 0)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(
          "spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset(
          "spark.sql.sources.partitionOverwriteMode")
      }
      spark.sql("DROP TABLE IF EXISTS gs_dyn")
    }
  }

  test("INSERT INTO ... REPLACE WHERE swaps the slice atomically") {
    val (t, _) = registered("gs_rw")
    try {
      val total = t.snapshot().count()
      val f = t.snapshot().where($"o_orderstatus" === "F").count()
      val fEven = t.snapshot()
        .where($"o_orderstatus" === "F" && $"o_orderkey" % 2 === 0).count()
      GraftSql.sql(spark,
        "INSERT INTO gs_rw REPLACE WHERE o_orderstatus = 'F' " +
          "SELECT * FROM gs_rw WHERE o_orderstatus = 'F' AND o_orderkey % 2 = 0")
      assert(t.snapshot().count() === total - f + fEven)
      assert(t.history().where($"operation" === "REPLACE_WHERE").count() === 1)
      // an out-of-predicate row is rejected, nothing committed
      val v = t.latestVersion
      intercept[IllegalArgumentException] {
        GraftSql.sql(spark,
          "INSERT INTO gs_rw REPLACE WHERE o_orderstatus = 'F' " +
            "SELECT * FROM gs_rw WHERE o_orderstatus = 'O' LIMIT 5")
      }
      assert(t.latestVersion === v)
    } finally spark.sql("DROP TABLE IF EXISTS gs_rw")
  }

  test("REPLACE WHERE predicate may itself contain a subquery") {
    val (t, _) = registered("gs_rwsq")
    try {
      val total = t.snapshot().count()
      val f = t.snapshot().where($"o_orderstatus" === "F").count()
      GraftSql.sql(spark,
        "INSERT INTO gs_rwsq REPLACE WHERE o_orderstatus IN " +
          "(SELECT DISTINCT o_orderstatus FROM gs_rwsq WHERE o_orderstatus = 'F') " +
          "SELECT * FROM gs_rwsq WHERE o_orderstatus = 'F' LIMIT 5")
      assert(t.snapshot().count() === total - f + 5)
    } finally spark.sql("DROP TABLE IF EXISTS gs_rwsq")
  }

  test("CREATE/REFRESH MATERIALIZED VIEW maintains the rollup via SQL") {
    val (t, _) = registered("gs_mvsrc")
    try {
      val mvDir = Files.createTempDirectory("graft_sqlmv_")
        .resolve("mv").toString
      spark.sql("DROP TABLE IF EXISTS gs_mv")
      GraftSql.sql(spark,
        s"CREATE MATERIALIZED VIEW gs_mv LOCATION '$mvDir' AS " +
          "SELECT o_orderstatus, SUM(o_totalprice) AS s, COUNT(*) AS c, " +
          "MIN(o_totalprice), MAX(o_totalprice) " +
          "FROM gs_mvsrc GROUP BY o_orderstatus")
      // the registered view reads like a table: keys + decimal-exact
      // maintained state
      val mv0 = spark.table("gs_mv")
      assert(mv0.columns.toSet === Set("o_orderstatus", "m_sum_o_totalprice",
        "m_cnt", "m_min_o_totalprice", "m_max_o_totalprice",
        "m_nn_o_totalprice"))
      // DML the source, refresh THROUGH SQL, compare to recompute
      GraftSql.sql(spark,
        "DELETE FROM gs_mvsrc WHERE o_orderstatus = 'P' AND o_custkey % 3 = 0")
      GraftSql.sql(spark,
        "UPDATE gs_mvsrc SET o_totalprice = o_totalprice + 50.0 " +
          "WHERE o_orderpriority = '1-URGENT'")
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW gs_mv")
      val maintained = spark.table("gs_mv")
        .select($"o_orderstatus",
          round($"m_sum_o_totalprice", 4).cast("double"),
          $"m_cnt",
          round($"m_min_o_totalprice", 4).cast("double"),
          round($"m_max_o_totalprice", 4).cast("double"))
        .orderBy($"o_orderstatus")
        .as[(String, Double, Long, Double, Double)].collect().toSeq
      val recomputed = t.snapshot().groupBy($"o_orderstatus")
        .agg(round(sum($"o_totalprice".cast("decimal(12,4)")), 4)
            .cast("double"),
          count(lit(1)),
          round(min($"o_totalprice".cast("decimal(12,4)")), 4)
            .cast("double"),
          round(max($"o_totalprice".cast("decimal(12,4)")), 4)
            .cast("double"))
        .orderBy($"o_orderstatus")
        .as[(String, Double, Long, Double, Double)].collect().toSeq
      assert(maintained === recomputed,
        "SQL-maintained view diverged from recompute")
      // an unmaintainable SELECT is refused with a clear message
      val e = intercept[IllegalArgumentException] {
        GraftSql.sql(spark,
          "CREATE MATERIALIZED VIEW gs_mv2 LOCATION '/tmp/x' AS " +
            "SELECT o_orderstatus, MEDIAN(o_totalprice) FROM gs_mvsrc " +
            "GROUP BY o_orderstatus")
      }
      assert(e.getMessage.contains("cannot maintain"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS gs_mvsrc")
      spark.sql("DROP TABLE IF EXISTS gs_mv")
    }
  }

  test("materialized view SQL maintains APPROX_COUNT_DISTINCT as a " +
      "mergeable HLL sketch through a DML storm; small domains exact") {
    val (t, _) = registered("gs_mvhsrc")
    try {
      val mvDir = Files.createTempDirectory("graft_sqlmvh_")
        .resolve("mv").toString
      spark.sql("DROP TABLE IF EXISTS gs_mvh")
      GraftSql.sql(spark,
        s"CREATE MATERIALIZED VIEW gs_mvh LOCATION '$mvDir' AS " +
          "SELECT o_orderstatus, SUM(o_totalprice) AS s, " +
          "APPROX_COUNT_DISTINCT(o_custkey) AS custs, " +
          "APPROX_COUNT_DISTINCT(o_orderpriority) AS prios, COUNT(*) " +
          "FROM gs_mvhsrc GROUP BY o_orderstatus")
      // maintained state holds the sketch bytes
      assert(spark.table("gs_mvh").schema("m_hll_o_custkey").dataType
        === org.apache.spark.sql.types.BinaryType)
      // DML STORM: insert-only fold (append), then deletes + an
      // update (affected-group recompute — sketches have no inverse)
      val orders = Tables.load(spark, sf, "orders")
      t.append(orders.filter($"o_orderkey" % 50 === 0)
        .withColumn("o_orderkey", $"o_orderkey" + 20000000L)
        .withColumn("o_custkey", $"o_custkey" + 900000L)
        .withColumn("o_orderstatus", lit("N")))
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW gs_mvh")
      GraftSql.sql(spark,
        "DELETE FROM gs_mvhsrc WHERE o_custkey % 5 = 1")
      GraftSql.sql(spark,
        "UPDATE gs_mvhsrc SET o_custkey = o_custkey + 1000000 " +
          "WHERE o_orderpriority = '1-URGENT'")
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW gs_mvh")
      val maintained = graft.tables.IncrementalMatView.load(spark, mvDir)
        .view().select($"o_orderstatus", $"custs", $"prios")
        .orderBy($"o_orderstatus")
        .as[(String, Long, Long)].collect().toSeq
      val exact = t.snapshot().groupBy($"o_orderstatus")
        .agg(countDistinct($"o_custkey"), countDistinct($"o_orderpriority"))
        .orderBy($"o_orderstatus")
        .as[(String, Long, Long)].collect().toSeq
      assert(maintained.map(_._1) === exact.map(_._1),
        "maintained groups diverged from recompute")
      // custkey domain (~1k/group): within standard HLL tolerance of
      // the EXACT count (lgK=12 → rsd ~1.6%; allow 5%)
      maintained.zip(exact).foreach { case ((g, mc, mp), (_, ec, ep)) =>
        assert(math.abs(mc - ec).toDouble <= math.max(2.0, 0.05 * ec),
          s"group $g: maintained approx $mc vs exact $ec out of tolerance")
        // priority domain (≤5/group): the sketch is still in its
        // exact small-cardinality mode — equality, not tolerance
        assert(mp === ep, s"group $g: small-domain adc $mp != exact $ep")
      }
      // maintained ≡ a from-scratch recompute OF THE SAME DEFINITION
      // (same sketch machinery, fresh build) — the maintenance added
      // no drift beyond the sketch's own estimate
      val mv2Dir = Files.createTempDirectory("graft_sqlmvh2_")
        .resolve("mv").toString
      spark.sql("DROP TABLE IF EXISTS gs_mvh2")
      GraftSql.sql(spark,
        s"CREATE MATERIALIZED VIEW gs_mvh2 LOCATION '$mv2Dir' AS " +
          "SELECT o_orderstatus, SUM(o_totalprice) AS s, " +
          "APPROX_COUNT_DISTINCT(o_custkey) AS custs, " +
          "APPROX_COUNT_DISTINCT(o_orderpriority) AS prios, COUNT(*) " +
          "FROM gs_mvhsrc GROUP BY o_orderstatus")
      val fresh = graft.tables.IncrementalMatView.load(spark, mv2Dir)
        .view().select($"o_orderstatus", $"custs", $"prios")
        .orderBy($"o_orderstatus")
        .as[(String, Long, Long)].collect().toSeq
      maintained.zip(fresh).foreach { case ((g, mc, mp), (_, fc, fp)) =>
        assert(math.abs(mc - fc).toDouble <= math.max(2.0, 0.02 * fc),
          s"group $g: maintained $mc drifted from fresh sketch $fc")
        assert(mp === fp)
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS gs_mvhsrc")
      spark.sql("DROP TABLE IF EXISTS gs_mvh")
      spark.sql("DROP TABLE IF EXISTS gs_mvh2")
    }
  }

  test("materialized view SQL maintains AVG as the sum/count pair") {
    val (t, _) = registered("gs_mvavgsrc")
    try {
      val mvDir = Files.createTempDirectory("graft_sqlmvavg_")
        .resolve("mv").toString
      spark.sql("DROP TABLE IF EXISTS gs_mvavg")
      GraftSql.sql(spark,
        s"CREATE MATERIALIZED VIEW gs_mvavg LOCATION '$mvDir' AS " +
          "SELECT o_orderstatus, AVG(o_totalprice), COUNT(*) " +
          "FROM gs_mvavgsrc GROUP BY o_orderstatus")
      // a DML storm: the AVG must track both numerator and
      // denominator through signed folds
      GraftSql.sql(spark,
        "DELETE FROM gs_mvavgsrc WHERE o_custkey % 3 = 0")
      GraftSql.sql(spark,
        "UPDATE gs_mvavgsrc SET o_totalprice = o_totalprice + 250.0 " +
          "WHERE o_orderpriority = '1-URGENT'")
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW gs_mvavg")
      val view = IncrementalMatView.load(spark, mvDir).view()
      // the consumable view surfaces EXACTLY the declared outputs —
      // the internal sum backing the AVG does not leak
      assert(view.columns.toSeq ===
        Seq("o_orderstatus", "avg_o_totalprice", "n_rows"))
      val maintained = view
        .orderBy($"o_orderstatus")
        .as[(String, Double, Long)].collect().toSeq
      val recomputed = t.snapshot().groupBy($"o_orderstatus")
        .agg((round(sum($"o_totalprice".cast("decimal(12,4)")), 4)
            .cast("double") / count($"o_totalprice")).as("a"),
          count(lit(1)).as("n"))
        .orderBy($"o_orderstatus")
        .as[(String, Double, Long)].collect().toSeq
      assert(maintained === recomputed,
        "maintained AVG diverged from recompute")
    } finally {
      spark.sql("DROP TABLE IF EXISTS gs_mvavgsrc")
      spark.sql("DROP TABLE IF EXISTS gs_mvavg")
    }
  }

  test("MAINTAIN INDEX SQL: one-shot dedup front door sweeps + packs; " +
      "continuous ANN loop starts under the lease and STOPs") {
    import graft.operators.{Dedup, Similarity}
    def text(i: Long) =
      s"sqlmaint${i} alpha beta gamma delta epsilon zeta eta theta iota"
    val stage = Files.createTempDirectory("graft_sqlmaint_")
    val idx = stage.resolve("idx").toString
    val cl = stage.resolve("cl").toString
    val cur = stage.resolve("curated").toString
    Dedup.admitBatch(spark, idx, cl,
      Seq((10L, text(0))).toDF("doc_id", "text"), batchId = 0L)
    Dedup.admitBatch(spark, idx, cl,
      Seq((5L, text(0) + " omega")).toDF("doc_id", "text"), batchId = 1L)
    graft.tables.GraftTable.create(spark, cur,
      Seq((10L, text(0)), (5L, text(0) + " omega"))
        .toDF("doc_id", "text"))
    // one-shot nightly front door via the SQL dispatcher (the
    // injected parser routes the same text here — ExtensionsSpec
    // covers the injection generically)
    GraftSql.sql(spark,
      s"MAINTAIN DEDUP INDEX '$idx' CLUSTERS '$cl' CURATED '$cur'")
    assert(graft.tables.GraftTable.load(spark, cur).snapshot()
      .select($"doc_id").as[Long].collect().toSet === Set(5L),
      "SQL maintenance must sweep the curated slip-through")
    // continuous ANN maintenance: start via SQL, refuse a double
    // start, stop via SQL (same lease registry as the MV loops)
    val ivf = stage.resolve("ivf").toString
    Similarity.ivfIndexBuild(spark, ivf,
      (0L until 8L).map(i => (i, "x",
        Seq.tabulate(4)(d => if (d == (i % 4).toInt) 1f else 0f)))
        .toDF("vec_id", "label", "embedding")
        .withColumn("embedding", $"embedding".cast("array<float>")),
      nCentroids = 2)
    GraftSql.sql(spark, s"MAINTAIN ANN INDEX '$ivf' CONTINUOUS EVERY '1 second'")
    try {
      val dup = intercept[IllegalArgumentException] {
        GraftSql.sql(spark, s"MAINTAIN ANN INDEX '$ivf' CONTINUOUS")
      }
      assert(dup.getMessage.contains("already running"))
    } finally GraftSql.sql(spark, s"STOP MAINTAIN INDEX '$ivf'")
    // one-shot ANN maintenance parses and runs too
    GraftSql.sql(spark, s"MAINTAIN ANN INDEX '$ivf'")
  }

  test("CREATE/INGEST INDEX SQL: both families build and feed; the " +
      "IVF_PQ variant persists a codebook and serves through ADC") {
    import graft.operators.Similarity
    val stage = Files.createTempDirectory("graft_sqlcreate_")
    // an IVF+PQ index from a registered table (dim 8 = m·1 subspaces,
    // 24 ≥ ksub=16 seeds)
    val srcDir = stage.resolve("emb").toString
    graft.tables.GraftTable.create(spark, srcDir,
      spark.range(0, 24).selectExpr("id AS vec_id",
        "concat('r', id % 4) AS label",
        "CAST(array(CAST(id % 4 AS FLOAT), 1.0F, 0.5F, 0.25F, " +
          "0.0F, 0.0F, 0.0F, 0.0F) AS ARRAY<FLOAT>) AS embedding"))
    spark.sql("DROP TABLE IF EXISTS gs_embsrc")
    spark.sql(s"CREATE TABLE gs_embsrc USING `graft-table` " +
      s"OPTIONS (path '$srcDir')")
    try {
      val pq = stage.resolve("pq_idx").toString
      GraftSql.sql(spark, s"CREATE ANN INDEX '$pq' ON gs_embsrc USING IVF_PQ")
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(pq, "pq", "_graft_log")),
        "USING IVF_PQ must persist the codebook subtable")
      // INGEST dispatches by family: the arrivals get PQ codes too
      val arrivals = stage.resolve("arrivals").toString
      spark.range(100, 104).selectExpr("id AS vec_id",
        "concat('n', id) AS label",
        "CAST(array(0.0F, 0.0F, 0.0F, 0.0F, 0.0F, 0.0F, 0.0F, 10.0F) " +
          "AS ARRAY<FLOAT>) AS embedding")
        .write.parquet(arrivals)
      GraftSql.sql(spark, s"INGEST INTO ANN INDEX '$pq' FROM '$arrivals'")
      val asg = graft.tables.GraftTable.load(spark,
        java.nio.file.Paths.get(pq, "assignments").toString).snapshot()
      assert(asg.count() === 28)
      assert(asg.where($"vec_id" >= 100L && $"codes".isNull).count() === 0,
        "PQ-family ingest must encode codes for arrivals")
      // the served cascade reaches the ingested vectors
      val top = Similarity.ivfPqIndexQuery(spark, pq,
        Seq(0f, 0f, 0f, 0f, 0f, 0f, 0f, 10f), k = 3)
        .select($"vec_id").as[Long].collect().toSet
      assert(top.forall(_ >= 100L),
        s"ADC cascade must surface the ingested axis-7 vectors, got $top")
      // a FOREIGN column refuses loudly (silently projecting it away
      // would accept a misspelled column with its slot null-filled)
      val badArrivals = stage.resolve("bad_arrivals").toString
      spark.range(200, 202).selectExpr("id AS vec_id",
        "concat('b', id) AS labl", // misspelled
        "CAST(array(0.0F, 0.0F, 0.0F, 0.0F, 0.0F, 0.0F, 0.0F, 1.0F) " +
          "AS ARRAY<FLOAT>) AS embedding")
        .write.parquet(badArrivals)
      val err = intercept[IllegalArgumentException] {
        GraftSql.sql(spark,
          s"INGEST INTO ANN INDEX '$pq' FROM '$badArrivals'")
      }
      assert(err.getMessage.contains("labl"), err.getMessage)
    } finally spark.sql("DROP TABLE IF EXISTS gs_embsrc")
  }

  test("REFRESH MATERIALIZED VIEW CONTINUOUS converges under DML " +
      "with no manual refresh") {
    val (t, _) = registered("gs_mvcsrc")
    try {
      val mvDir = Files.createTempDirectory("graft_sqlmvc_")
        .resolve("mv").toString
      spark.sql("DROP TABLE IF EXISTS gs_mvc")
      GraftSql.sql(spark,
        s"CREATE MATERIALIZED VIEW gs_mvc LOCATION '$mvDir' AS " +
          "SELECT o_orderstatus, SUM(o_totalprice), COUNT(*) " +
          "FROM gs_mvcsrc GROUP BY o_orderstatus")
      GraftSql.sql(spark,
        "REFRESH MATERIALIZED VIEW gs_mvc CONTINUOUS EVERY '1 second'")
      try {
        // a second START must refuse, not double-drive the loop
        val dup = intercept[IllegalArgumentException] {
          GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW gs_mvc CONTINUOUS")
        }
        assert(dup.getMessage.contains("already running"))
        // DML storm with NO manual refresh — the CDC-triggered loop
        // must converge the view on its own
        GraftSql.sql(spark,
          "DELETE FROM gs_mvcsrc WHERE o_custkey % 4 = 0")
        GraftSql.sql(spark,
          "UPDATE gs_mvcsrc SET o_totalprice = o_totalprice + 10.0 " +
            "WHERE o_orderstatus = 'O'")
        def recompute() = t.snapshot().groupBy($"o_orderstatus")
          .agg(round(sum($"o_totalprice".cast("decimal(12,4)")), 4)
              .cast("double"), count(lit(1)))
          .orderBy($"o_orderstatus")
          .as[(String, Double, Long)].collect().toSeq
        def maintained() = IncrementalMatView.load(spark, mvDir).view()
          .orderBy($"o_orderstatus")
          .as[(String, Double, Long)].collect().toSeq
        val want = recompute()
        val deadline = System.nanoTime() + 60L * 1000000000L
        var got = maintained()
        while (got != want && System.nanoTime() < deadline) {
          Thread.sleep(500); got = maintained()
        }
        assert(got === want,
          "SQL continuous view did not converge to the recompute")
      } finally GraftSql.sql(spark,
        "STOP REFRESH MATERIALIZED VIEW gs_mvc")
      // STOP tears the loop down: a second stop has nothing to stop
      val e = intercept[IllegalArgumentException] {
        GraftSql.sql(spark, "STOP REFRESH MATERIALIZED VIEW gs_mvc")
      }
      assert(e.getMessage.contains("no continuous refresh"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS gs_mvcsrc")
      spark.sql("DROP TABLE IF EXISTS gs_mvc")
    }
  }

  test("materialized view SQL accepts derived keys and measure expressions") {
    val (t, _) = registered("gs_mvdsrc")
    val taxExpr = "CAST(round(CAST(o_totalprice AS DECIMAL(12,4)) " +
      "* CAST(0.1 AS DECIMAL(5,4)), 4) AS DOUBLE)"
    try {
      val mvDir = Files.createTempDirectory("graft_sqlmvd_")
        .resolve("mv").toString
      spark.sql("DROP TABLE IF EXISTS gs_mvd")
      GraftSql.sql(spark,
        s"CREATE MATERIALIZED VIEW gs_mvd LOCATION '$mvDir' AS " +
          "SELECT o_orderstatus, " +
          "date_trunc('month', o_orderdate) AS omonth, " +
          s"SUM($taxExpr) AS tax, MAX($taxExpr), COUNT(*) " +
          "FROM gs_mvdsrc GROUP BY o_orderstatus, omonth")
      // the derived measure changes under the UPDATE (price moves →
      // tax moves), the DELETE retires month-bucket extremes
      GraftSql.sql(spark,
        "UPDATE gs_mvdsrc SET o_totalprice = o_totalprice + 1000.0 " +
          "WHERE o_orderpriority = '1-URGENT'")
      GraftSql.sql(spark,
        "DELETE FROM gs_mvdsrc WHERE o_custkey % 5 = 0")
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW gs_mvd")
      val maintained = spark.table("gs_mvd")
        .select($"o_orderstatus", $"omonth",
          round($"m_sum_tax", 4).cast("double"), $"m_cnt",
          round($"m_min_tax", 4).cast("double"),
          round($"m_max_tax", 4).cast("double"))
        .orderBy($"o_orderstatus", $"omonth")
        .as[(String, java.sql.Timestamp, Double, Long, Double, Double)]
        .collect().toSeq
      val recomputed = t.snapshot()
        .withColumn("tax", expr(taxExpr))
        .groupBy($"o_orderstatus",
          date_trunc("month", $"o_orderdate").as("omonth"))
        .agg(round(sum($"tax".cast("decimal(12,4)")), 4).cast("double"),
          count(lit(1)),
          round(min($"tax".cast("decimal(12,4)")), 4).cast("double"),
          round(max($"tax".cast("decimal(12,4)")), 4).cast("double"))
        .orderBy($"o_orderstatus", $"omonth")
        .as[(String, java.sql.Timestamp, Double, Long, Double, Double)]
        .collect().toSeq
      assert(maintained === recomputed,
        "derived-column SQL view diverged from recompute")
      // a compound aggregate is refused, not mis-maintained (it can
      // only parse as a would-be key expression, leaving no measure)
      val e = intercept[IllegalArgumentException] {
        GraftSql.sql(spark,
          "CREATE MATERIALIZED VIEW gs_mvd2 LOCATION '/tmp/y' AS " +
            "SELECT o_orderstatus, SUM(o_totalprice) + SUM(o_custkey) AS z " +
            "FROM gs_mvdsrc GROUP BY o_orderstatus")
      }
      assert(e.getMessage.contains("cannot maintain") ||
        e.getMessage.contains("at least one SUM/MIN/MAX measure"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS gs_mvdsrc")
      spark.sql("DROP TABLE IF EXISTS gs_mvd")
    }
  }

  test("materialized view SQL joins a dimension and recomputes on its change") {
    val (t, _) = registered("gs_mvjf")
    try {
      val dimDir = Files.createTempDirectory("graft_sqlmvj_")
        .resolve("cust").toString
      val dim = GraftTable.create(spark, dimDir,
        Tables.load(spark, sf, "customer")
          .select($"c_custkey", $"c_mktsegment"))
      spark.sql("DROP TABLE IF EXISTS gs_mvjd")
      spark.sql(
        s"CREATE TABLE gs_mvjd USING `graft-table` OPTIONS (path '$dimDir')")
      val mvDir = Files.createTempDirectory("graft_sqlmvj_")
        .resolve("mv").toString
      spark.sql("DROP TABLE IF EXISTS gs_mvj")
      GraftSql.sql(spark,
        s"CREATE MATERIALIZED VIEW gs_mvj LOCATION '$mvDir' AS " +
          "SELECT c_mktsegment, SUM(o_totalprice), COUNT(*) " +
          "FROM gs_mvjf JOIN gs_mvjd ON o_custkey = c_custkey " +
          "GROUP BY c_mktsegment")
      def recompute() = t.snapshot()
        .join(dim.snapshot(), $"o_custkey" === $"c_custkey", "left")
        .groupBy($"c_mktsegment")
        .agg(round(sum($"o_totalprice".cast("decimal(12,4)")), 4)
            .cast("double"),
          count(lit(1)))
        .orderBy($"c_mktsegment")
        .as[(String, Double, Long)].collect().toSeq
      def maintained() = spark.table("gs_mvj")
        .select($"c_mktsegment",
          round($"m_sum_o_totalprice", 4).cast("double"), $"m_cnt")
        .orderBy($"c_mktsegment")
        .as[(String, Double, Long)].collect().toSeq
      assert(maintained() === recompute())
      // fact DML folds through the join
      GraftSql.sql(spark, "DELETE FROM gs_mvjf WHERE o_custkey % 4 = 0")
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW gs_mvj")
      assert(maintained() === recompute(), "fact fold via SQL diverged")
      // a dim UPDATE (through SQL) forces the recompute on refresh
      GraftSql.sql(spark,
        "UPDATE gs_mvjd SET c_mktsegment = 'MOVED' WHERE c_custkey % 10 = 1")
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW gs_mvj")
      assert(maintained() === recompute(), "dim change did not recompute")
      assert(maintained().exists(_._1 == "MOVED"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS gs_mvjf")
      spark.sql("DROP TABLE IF EXISTS gs_mvjd")
      spark.sql("DROP TABLE IF EXISTS gs_mvj")
    }
  }

  test("materialized view honors select-item aliases and refuses " +
      "ambiguous duplicates") {
    val (t, _) = registered("gs_mvalias")
    try {
      val mvDir = Files.createTempDirectory("graft_sqlmval_")
        .resolve("mv").toString
      spark.sql("DROP TABLE IF EXISTS gs_mval")
      GraftSql.sql(spark,
        s"CREATE MATERIALIZED VIEW gs_mval LOCATION '$mvDir' AS " +
          "SELECT o_orderstatus, SUM(o_totalprice) AS total, " +
          "AVG(o_totalprice) AS mean, COUNT(*) AS n, COUNT(*) AS n " +
          "FROM gs_mvalias GROUP BY o_orderstatus")
      // aliases name the view's columns verbatim (not sum_x/avg_x),
      // and the exact-duplicate COUNT(*) AS n collapsed to one column
      val view = IncrementalMatView.load(spark, mvDir).view()
      assert(view.columns.toSeq ===
        Seq("o_orderstatus", "total", "mean", "n"))
      GraftSql.sql(spark, "DELETE FROM gs_mvalias WHERE o_custkey % 3 = 0")
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW gs_mval")
      val maintained = IncrementalMatView.load(spark, mvDir).view()
        .orderBy($"o_orderstatus")
        .as[(String, Double, Double, Long)].collect().toSeq
      val recomputed = t.snapshot().groupBy($"o_orderstatus")
        .agg(round(sum($"o_totalprice".cast("decimal(12,4)")), 4)
            .cast("double"),
          round(sum($"o_totalprice".cast("decimal(12,4)")), 4)
            .cast("double") / count($"o_totalprice"),
          count(lit(1)))
        .orderBy($"o_orderstatus")
        .as[(String, Double, Double, Long)].collect().toSeq
      assert(maintained === recomputed, "aliased view diverged")
      // two DISTINCT items colliding on one output name are refused
      val e = intercept[IllegalArgumentException] {
        GraftSql.sql(spark,
          "CREATE MATERIALIZED VIEW gs_mval2 LOCATION '/tmp/zz' AS " +
            "SELECT o_orderstatus, SUM(o_totalprice) AS a, " +
            "MIN(o_totalprice) AS a FROM gs_mvalias GROUP BY o_orderstatus")
      }
      assert(e.getMessage.contains("duplicate output column"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS gs_mvalias")
      spark.sql("DROP TABLE IF EXISTS gs_mval")
    }
  }

  test("continuous-refresh lease arbitrates across sessions: fresh " +
      "lease refuses, cross-session STOP releases, stale lease expires") {
    val (t, _) = registered("gs_mvlease")
    try {
      val mvDir = Files.createTempDirectory("graft_sqlmvlease_")
        .resolve("mv").toString
      spark.sql("DROP TABLE IF EXISTS gs_mvl")
      GraftSql.sql(spark,
        s"CREATE MATERIALIZED VIEW gs_mvl LOCATION '$mvDir' AS " +
          "SELECT o_orderstatus, SUM(o_totalprice), COUNT(*) " +
          "FROM gs_mvlease GROUP BY o_orderstatus")
      val root = java.nio.file.Paths.get(mvDir).toAbsolutePath.toString
      // session A (its own registry — a fresh map, as a second JVM
      // would hold) starts the loop and heartbeats its lease
      val regA = new graft.tables.ContinuousRegistry
      val qA = regA.start(spark, root, "1 second")
      try {
        // session B cannot see A's query object — only the lease.
        // START from B must refuse while the lease is fresh.
        val regB = new graft.tables.ContinuousRegistry
        val eb = intercept[IllegalArgumentException] {
          regB.start(spark, root, "1 second")
        }
        assert(eb.getMessage.contains("lease held by session"))
        // cross-session STOP from B releases the lease; A's loop
        // observes the loss at its next heartbeat and self-terminates
        assert(!regB.stop(root), "foreign stop should be asynchronous")
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (qA.isActive && System.nanoTime() < deadline)
          Thread.sleep(200)
        assert(!qA.isActive, "owner loop did not self-terminate " +
          "after its lease was released")
        // with the lease gone, B starts cleanly...
        val qB = regB.start(spark, root, "1 second")
        assert(qB.isActive)
        assert(regB.stop(root), "owning stop should be synchronous")
        // ...and a STALE lease (crash debris: file present, no
        // heartbeats) expires instead of wedging the restart
        val lease = java.nio.file.Paths.get(root,
          "_continuous_lease.json")
        java.nio.file.Files.writeString(lease,
          s"""{"owner":"dead-session","ts":${System.currentTimeMillis() - 3600000L},"staleMs":60000}""")
        val qC = regB.start(spark, root, "1 second")
        assert(qC.isActive, "stale lease must not block a restart")
        regB.stop(root)
        assert(!java.nio.file.Files.exists(lease),
          "owning stop must release the lease file")
      } finally if (qA.isActive) qA.stop()
    } finally {
      spark.sql("DROP TABLE IF EXISTS gs_mvlease")
      spark.sql("DROP TABLE IF EXISTS gs_mvl")
    }
  }

  test("continuous-refresh lease races: concurrent STARTs resolve to " +
      "exactly one winner (absent AND just-expired lease), the " +
      "window scales with the trigger interval, and STOP under a " +
      "foreign lease is asynchronous") {
    val (t, _) = registered("gs_mvrace")
    try {
      val mvDir = Files.createTempDirectory("graft_sqlmvrace_")
        .resolve("mv").toString
      spark.sql("DROP TABLE IF EXISTS gs_mvr")
      GraftSql.sql(spark,
        s"CREATE MATERIALIZED VIEW gs_mvr LOCATION '$mvDir' AS " +
          "SELECT o_orderstatus, SUM(o_totalprice), COUNT(*) " +
          "FROM gs_mvrace GROUP BY o_orderstatus")
      val root = java.nio.file.Paths.get(mvDir).toAbsolutePath.toString
      val lease = java.nio.file.Paths.get(root, "_continuous_lease.json")

      // --- RACE 1: N concurrent STARTs on an ABSENT lease ---
      def race(): (Int, Seq[graft.tables.ContinuousRegistry]) = {
        val regs = (1 to 4).map(_ => new graft.tables.ContinuousRegistry)
        val wins = new java.util.concurrent.atomic.AtomicInteger(0)
        val gate = new java.util.concurrent.CountDownLatch(1)
        val threads = regs.map { r =>
          val th = new Thread(() => {
            gate.await()
            try { r.start(spark, root, "1 second"); wins.incrementAndGet(); () }
            catch { case _: IllegalArgumentException => () }
          })
          th.start(); th
        }
        gate.countDown()
        threads.foreach(_.join(120000))
        (wins.get(), regs)
      }
      val (wins1, regs1) = race()
      assert(wins1 === 1, s"concurrent STARTs on an absent lease: " +
        s"$wins1 winners (expected exactly 1)")
      // the winner's registry stops synchronously; losers hold nothing
      assert(regs1.map(r =>
        try { if (r.stop(root)) 1 else 0 }
        catch { case _: IllegalArgumentException => 0 }).sum === 1,
        "exactly one registry should own the started loop")

      // --- RACE 2: N concurrent STARTs on a JUST-EXPIRED lease ---
      java.nio.file.Files.writeString(lease,
        s"""{"owner":"dead-session","ts":${System.currentTimeMillis() - 3600000L},"staleMs":60000}""")
      val (wins2, regs2) = race()
      assert(wins2 === 1, s"concurrent stale takeovers: $wins2 winners")
      regs2.foreach(r =>
        try { r.stop(root); () }
        catch { case _: IllegalArgumentException => () })

      // --- INTERVAL-SCALED WINDOW (no staleMs property set) ---
      // a lease 90 s old is past the 60 s flat floor, but:
      // (a) the WRITER advertised a 5-minute loop (staleMs=900000):
      //     even a 1-second claimer must honor it and refuse
      java.nio.file.Files.writeString(lease,
        s"""{"owner":"other-session","ts":${System.currentTimeMillis() - 90000L},"staleMs":900000}""")
      val regC = new graft.tables.ContinuousRegistry
      val e1 = intercept[IllegalArgumentException] {
        regC.start(spark, root, "1 second")
      }
      assert(e1.getMessage.contains("lease held by session"),
        "reader must honor the WRITER's advertised window")
      // (b) the CLAIMER runs EVERY '5 minutes': its own window is
      //     3× the interval, so the same 90 s lease refuses too
      java.nio.file.Files.writeString(lease,
        s"""{"owner":"other-session","ts":${System.currentTimeMillis() - 90000L},"staleMs":60000}""")
      val e2 = intercept[IllegalArgumentException] {
        regC.start(spark, root, "5 minutes")
      }
      assert(e2.getMessage.contains("lease held by session"),
        "a 5-minute claimer must scale its own window past 90 s")
      // (c) a 1-second claimer against the same 90 s / 60 s lease
      //     takes over cleanly (90 s > max(60 s, 3 s))
      val qC = regC.start(spark, root, "1 second")
      assert(qC.isActive, "expired lease must not block the restart")
      assert(regC.stop(root))

      // --- STOP UNDER A FOREIGN LEASE: asynchronous, lease released ---
      // live local ZOMBIE (long interval so its heartbeat lags):
      // a foreign takeover overwrites the lease; stop() must not
      // report synchronous success while the foreign loop drives
      val regD = new graft.tables.ContinuousRegistry
      val qD = regD.start(spark, root, "1 minute")
      assert(qD.isActive)
      java.nio.file.Files.writeString(lease,
        s"""{"owner":"foreign-session","ts":${System.currentTimeMillis()},"staleMs":60000}""")
      assert(!regD.stop(root),
        "stop under a foreign lease must be asynchronous (false)")
      assert(!qD.isActive, "the local zombie must still be stopped")
      assert(!java.nio.file.Files.exists(lease),
        "the foreign lease must be released so its owner self-terminates")

      // DEAD local query under a foreign lease: same contract. Start
      // a fast loop, let a foreign takeover kill it via heartbeat,
      // then stop() — false, lease deleted
      val regE = new graft.tables.ContinuousRegistry
      val qE = regE.start(spark, root, "1 second")
      java.nio.file.Files.writeString(lease,
        s"""{"owner":"foreign-session","ts":${System.currentTimeMillis() + 3600000L},"staleMs":60000}""")
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (qE.isActive && System.nanoTime() < deadline)
        Thread.sleep(200)
      assert(!qE.isActive,
        "zombie loop did not self-terminate after the takeover")
      assert(!regE.stop(root),
        "stop of a dead query under a foreign lease must return false")
      assert(!java.nio.file.Files.exists(lease),
        "the foreign lease must be released")

      // a lease without staleMs (an older release's) is unreadable:
      // even an hour past any window it is never taken over
      java.nio.file.Files.writeString(lease,
        s"""{"owner":"old-session","ts":${System.currentTimeMillis() - 3600000L}}""")
      val regF = new graft.tables.ContinuousRegistry
      val eF = intercept[IllegalArgumentException] {
        regF.start(spark, root, "1 second")
      }
      assert(eF.getMessage.contains("already running"), eF.getMessage)
      java.nio.file.Files.delete(lease)
    } finally {
      spark.sql("DROP TABLE IF EXISTS gs_mvrace")
      spark.sql("DROP TABLE IF EXISTS gs_mvr")
    }
  }

  test("INGEST INTO ... INDEX BATCH is exactly-once from SQL, and " +
      "DESCRIBE [ANN|DEDUP] INDEX surfaces the metrics row") {
    val root = Files.createTempDirectory("graft_ingest_sql_")
    def dirOf(n: String) = root.resolve(n).toString
    // ANN leg
    val seed = spark.range(0, 24).selectExpr("id AS vec_id",
      "CAST(id % 3 AS INT) AS label",
      "CAST(array(CAST(id % 4 AS FLOAT), 1.0F, 0.5F, 0.0F) " +
        "AS ARRAY<FLOAT>) AS embedding")
    seed.write.parquet(dirOf("seed"))
    spark.range(100, 108).selectExpr("id AS vec_id",
      "CAST(id % 3 AS INT) AS label",
      "CAST(array(0.0F, 0.0F, 1.0F, CAST(id - 100 AS FLOAT)) " +
        "AS ARRAY<FLOAT>) AS embedding").write.parquet(dirOf("arr"))
    val ivf = dirOf("ivf")
    GraftSql.sql(spark, s"CREATE ANN INDEX '$ivf' ON '${dirOf("seed")}'")
    val ingest = s"INGEST INTO ANN INDEX '$ivf' FROM '${dirOf("arr")}' BATCH 0"
    GraftSql.sql(spark, ingest)
    def annRows = graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(ivf, "assignments").toString)
      .snapshot().count()
    assert(annRows === 32L)
    GraftSql.sql(spark, ingest) // replayed BATCH id: re-lands nothing
    assert(annRows === 32L,
      "replayed INGEST BATCH must be exactly-once from SQL")
    val d = GraftSql.sql(spark, s"DESCRIBE ANN INDEX '$ivf'").head()
    assert(d.getString(0) === "ivf_flat")
    assert(d.getInt(1) > 0 && d.getLong(2) === 32L && d.getDouble(3) > 0.0)
    // DEDUP leg
    val didx = dirOf("didx")
    Tables.load(spark, sf, "documents").where($"doc_id" % 5 =!= 0)
      .write.parquet(dirOf("docs"))
    Tables.load(spark, sf, "documents").where($"doc_id" % 5 === 0)
      .write.parquet(dirOf("batch"))
    GraftSql.sql(spark, s"CREATE DEDUP INDEX '$didx' ON '${dirOf("docs")}'")
    val dIngest =
      s"INGEST INTO DEDUP INDEX '$didx' FROM '${dirOf("batch")}' BATCH 0"
    GraftSql.sql(spark, dIngest)
    def sigRows = GraftSql.sql(spark, s"DESCRIBE DEDUP INDEX '$didx'")
      .head()
    val before = sigRows
    assert(before.getLong(0) > 0L && before.getLong(1) > 0L)
    GraftSql.sql(spark, dIngest) // replay
    assert(sigRows === before,
      "replayed dedup INGEST BATCH must re-land nothing")
  }

  test("EXPORT SHARDS SQL: exactly-once batch export, per-doc rows, " +
      "accumulating to the one-shot pack") {
    val root = Files.createTempDirectory("graft_export_sql_")
    val docs = Tables.load(spark, sf, "documents")
    docs.where($"doc_id" < 100).write.parquet(root.resolve("b0").toString)
    docs.where($"doc_id" >= 100).write.parquet(root.resolve("b1").toString)
    val exp = root.resolve("exp").toString
    val r0 = GraftSql.sql(spark, s"EXPORT SHARDS TO '$exp' " +
      s"FROM '${root.resolve("b0")}' BUDGET 512 BATCH 0")
    assert(r0.columns.toSeq ===
      Seq("doc_id", "n_tokens", "tokens_before", "shard_id"))
    assert(r0.count() === 100L)
    val again = s"EXPORT SHARDS TO '$exp' " +
      s"FROM '${root.resolve("b1")}' BUDGET 512 BATCH 1"
    GraftSql.sql(spark, again)
    def asg = graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(exp, "assignments").toString).snapshot()
    val total = docs.count()
    assert(asg.count() === total)
    GraftSql.sql(spark, again) // replayed BATCH re-lands nothing
    assert(asg.count() === total,
      "replayed EXPORT SHARDS BATCH must be exactly-once")
    // the accumulated table ≡ the one-shot pack at the same budget
    val acc = asg.select($"doc_id", $"tokens_before", $"shard_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val oneShot = graft.operators.TextAnalysis
      .exportShards(docs, shardTokens = 512L)
      .select($"doc_id", $"tokens_before", $"shard_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(acc === oneShot,
      "SQL batch exports diverged from the one-shot pack")
  }

  test("EXPORT SHARDS SQL one-shot + SHUFFLED + BUCKET SIZE: manifest " +
      "result rows ≡ the API frames, assignments land as a GraftTable, " +
      "re-run overwrites, BATCH+SHUFFLED refuses") {
    val root = Files.createTempDirectory("graft_export_sql1_")
    val docs = Tables.load(spark, sf, "documents")
    docs.write.parquet(root.resolve("src").toString)
    val src = root.resolve("src").toString
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .select($"shard_id", $"n_docs".cast("long"), $"shard_tokens",
        $"first_doc", $"last_doc")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    // one-shot: manifest rows ≡ the API manifest; BUCKET SIZE only
    // changes the plan's pane shape, never the values
    val exp1 = root.resolve("exp1").toString
    val m1 = GraftSql.sql(spark,
      s"EXPORT SHARDS TO '$exp1' FROM '$src' BUDGET 512 BUCKET SIZE 64")
    assert(m1.columns.toSeq ===
      Seq("shard_id", "n_docs", "shard_tokens", "first_doc", "last_doc"))
    assert(cells(m1) === cells(operators.TextAnalysis.shardManifest(
      operators.TextAnalysis.exportShards(docs, shardTokens = 512L))))
    // the per-doc assignments landed as a GraftTable in the
    // incremental form's layout; a re-run OVERWRITES (idempotent)
    def asg1 = graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(exp1, "assignments").toString).snapshot()
    assert(asg1.count() === docs.count())
    GraftSql.sql(spark,
      s"EXPORT SHARDS TO '$exp1' FROM '$src' BUDGET 512 BUCKET SIZE 64")
    assert(asg1.count() === docs.count(),
      "re-run one-shot export must overwrite, not append")
    // the landed layout is the incremental form's 5-column schema
    // (batch_id = -1 marks one-shot rows) — genuinely interoperable
    assert(asg1.columns.toSet === Set("doc_id", "n_tokens",
      "tokens_before", "shard_id", "batch_id"))
    assert(asg1.select($"batch_id").distinct().collect()
      .map(_.getLong(0)).toSeq === Seq(-1L))
    // SHUFFLED: manifest ≡ the API's hash-permutation pack
    val exp2 = root.resolve("exp2").toString
    val m2 = GraftSql.sql(spark,
      s"EXPORT SHARDS TO '$exp2' FROM '$src' BUDGET 512 SHUFFLED")
    assert(cells(m2) === cells(operators.TextAnalysis.shardManifest(
      operators.TextAnalysis.exportShardsShuffled(docs,
        shardTokens = 512L))))
    // the grammar refuses the contradictory forms loudly
    val e1 = intercept[IllegalArgumentException] {
      GraftSql.sql(spark,
        s"EXPORT SHARDS TO '$exp2' FROM '$src' BATCH 0 SHUFFLED")
    }
    assert(e1.getMessage.contains("SHUFFLED"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      GraftSql.sql(spark,
        s"EXPORT SHARDS TO '$exp2' FROM '$src' BUCKET SIZE 64 SHUFFLED")
    }
    assert(e2.getMessage.contains("BUCKET SIZE"), e2.getMessage)
    // TOKENIZER + SEED spellings ≡ the API frames; misuse refuses
    val exp3 = root.resolve("exp3").toString
    val m3 = GraftSql.sql(spark,
      s"EXPORT SHARDS TO '$exp3' FROM '$src' BUDGET 512 TOKENIZER bpe")
    assert(cells(m3) === cells(operators.TextAnalysis.shardManifest(
      operators.TextAnalysis.exportShards(docs, shardTokens = 512L,
        tokenizer = "bpe"))))
    val exp4 = root.resolve("exp4").toString
    val m4 = GraftSql.sql(spark,
      s"EXPORT SHARDS TO '$exp4' FROM '$src' BUDGET 512 SHUFFLED SEED 7")
    assert(cells(m4) === cells(operators.TextAnalysis.shardManifest(
      operators.TextAnalysis.exportShardsShuffled(docs,
        shardTokens = 512L, seed = 7L))))
    val e3 = intercept[IllegalArgumentException] {
      GraftSql.sql(spark,
        s"EXPORT SHARDS TO '$exp4' FROM '$src' SEED 7")
    }
    assert(e3.getMessage.contains("SEED"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException] {
      GraftSql.sql(spark,
        s"EXPORT SHARDS TO '$exp4' FROM '$src' TOKENIZER bpe BATCH 0")
    }
    assert(e4.getMessage.contains("TOKENIZER"), e4.getMessage)
    // MATERIALIZE: shard content lands under <to>/shards, manifest
    // rows returned; refuses the incremental form
    val exp5 = root.resolve("exp5").toString
    val m5 = GraftSql.sql(spark,
      s"EXPORT SHARDS TO '$exp5' FROM '$src' BUDGET 512 MATERIALIZE")
    assert(cells(m5) === cells(operators.TextAnalysis.shardManifest(
      operators.TextAnalysis.exportShards(docs, shardTokens = 512L))))
    assert(spark.read
      .parquet(java.nio.file.Paths.get(exp5, "shards").toString)
      .count() === docs.count(),
      "MATERIALIZE must land every doc's content")
    val e5 = intercept[IllegalArgumentException] {
      GraftSql.sql(spark,
        s"EXPORT SHARDS TO '$exp5' FROM '$src' BATCH 1 MATERIALIZE")
    }
    assert(e5.getMessage.contains("MATERIALIZE"), e5.getMessage)
  }

  test("EXPORT SHARDS BUCKET COUNT: pins the SHUFFLED fan-out without " +
      "moving values, composes with MIXTURE and MATERIALIZE, refuses " +
      "the doc_id-ordered forms") {
    val root = Files.createTempDirectory("graft_bktcnt_")
    val docs = Tables.load(spark, sf, "documents")
    docs.write.parquet(root.resolve("src").toString)
    val src = root.resolve("src").toString
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .select("shard_id", df.columns(1), "shard_tokens", "first_doc",
        "last_doc")
      .collect().map(r => (r.getLong(0), r.get(1).toString,
        r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val exp1 = root.resolve("exp1").toString
    val m1 = GraftSql.sql(spark, s"EXPORT SHARDS TO '$exp1' FROM " +
      s"'$src' BUDGET 512 SHUFFLED BUCKET COUNT 64")
    assert(cells(m1) === cells(operators.TextAnalysis.shardManifest(
      operators.TextAnalysis.exportShardsShuffled(docs,
        shardTokens = 512L))),
      "a pinned bucket count moved SHUFFLED export values")
    val exp2 = root.resolve("exp2").toString
    val m2 = GraftSql.sql(spark, s"EXPORT SHARDS TO '$exp2' FROM " +
      "'" + src + "' BUDGET 512 MIXTURE ('en' 0.5, 'zh' 2.25, " +
      "'es' 3.0, 'fr' 0.0) BUCKET COUNT 64")
    assert(cells(m2) === cells(operators.TextAnalysis.shardManifest(
        operators.TextAnalysis.exportShardsMixture(docs,
          operators.TextAnalysis.scenarioMixture, shardTokens = 512L))
      .withColumnRenamed("n_docs", "n_copies")),
      "a pinned bucket count moved MIXTURE export values")
    val err = intercept[IllegalArgumentException] {
      GraftSql.sql(spark,
        s"EXPORT SHARDS TO '$exp1' FROM '$src' BUCKET COUNT 64")
    }
    assert(err.getMessage.contains("BUCKET COUNT"), err.getMessage)
  }

  test("EXPORT SHARDS MIXTURE MATERIALIZE: per-copy content lands " +
      "under <to>/shards, manifest is the write receipt, assignments " +
      "land with rep in the shared layout") {
    val root = Files.createTempDirectory("graft_mixmat_sql_")
    val docs = Tables.load(spark, sf, "documents")
    docs.write.parquet(root.resolve("src").toString)
    val src = root.resolve("src").toString
    val exp = root.resolve("exp").toString
    val m = GraftSql.sql(spark, s"EXPORT SHARDS TO '$exp' FROM " +
      "'" + src + "' BUDGET 512 MIXTURE ('en' 0.5, 'zh' 2.25, " +
      "'es' 3.0, 'fr' 0.0) MATERIALIZE")
    assert(m.columns.toSeq === Seq("shard_id", "n_copies",
      "shard_tokens", "first_doc", "last_doc"))
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .select($"shard_id", $"n_copies".cast("long"), $"shard_tokens",
        $"first_doc", $"last_doc")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val api = operators.TextAnalysis.shardManifest(
        operators.TextAnalysis.exportShardsMixture(docs,
          operators.TextAnalysis.scenarioMixture, shardTokens = 512L))
      .withColumnRenamed("n_docs", "n_copies")
    assert(cells(m) === cells(api),
      "materialized mixture manifest diverged from the assignments")
    // content landed per copy; assignments table carries rep
    val landed = spark.read
      .parquet(java.nio.file.Paths.get(exp, "shards").toString)
    val nCopies = operators.TextAnalysis.exportShardsMixture(docs,
      operators.TextAnalysis.scenarioMixture, shardTokens = 512L)
      .count()
    assert(landed.count() === nCopies)
    val asg = graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(exp, "assignments").toString).snapshot()
    assert(asg.columns.contains("rep"),
      "per-copy assignments must carry rep provenance")
    assert(asg.count() === nCopies)
  }

  test("PACK SEQUENCES ... MATERIALIZE TO ... IDS: token-id training " +
      "batches land from SQL with any TOKENIZER; misuse refuses") {
    val root = Files.createTempDirectory("graft_packids_sql_")
    val docs = Tables.load(spark, sf, "documents")
    docs.write.parquet(root.resolve("src").toString)
    val src = root.resolve("src").toString
    val out = root.resolve("seqs").toString
    val m = GraftSql.sql(spark, s"PACK SEQUENCES FROM '$src' LENGTH " +
      s"128 TOKENIZER bpe MATERIALIZE TO '$out' IDS VOCAB SIZE 256")
    assert(m.columns.toSeq === Seq("seq_id", "n_docs", "filled_tokens",
      "n_carry_in", "ids_sum", "first_doc", "last_doc"))
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    val out2 = root.resolve("seqs2").toString
    val api = operators.TextAnalysis.packTokensMaterialize(docs, out2,
      seqLen = 128L, vocabSize = 256, tokenizer = "bpe")
    assert(cells(m) === cells(api),
      "SQL IDS pack diverged from the API token-id pack")
    // misuse refuses: IDS without a target, VOCAB SIZE without IDS,
    // a subword TEXT materialization still points at IDS
    val e1 = intercept[IllegalArgumentException] {
      GraftSql.sql(spark, s"PACK SEQUENCES FROM '$src' IDS")
    }
    assert(e1.getMessage.contains("MATERIALIZE"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      GraftSql.sql(spark,
        s"PACK SEQUENCES FROM '$src' MANIFEST VOCAB SIZE 9")
    }
    assert(e2.getMessage.contains("IDS"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      GraftSql.sql(spark, s"PACK SEQUENCES FROM '$src' TOKENIZER bpe " +
        s"MATERIALIZE TO '${root.resolve("x")}'")
    }
    assert(e3.getMessage.contains("IDS"), e3.getMessage)
  }

  test("PACK SEQUENCES ... IDS BATCH: the incremental token pack " +
      "from pure SQL — batches accumulate to the one-shot pack under " +
      "the pinned vocabulary; misuse refuses") {
    val root = Files.createTempDirectory("graft_packbatch_sql_")
    val docs = Tables.load(spark, sf, "documents")
    def stage(name: String, df: org.apache.spark.sql.DataFrame)
        : String = {
      val p = root.resolve(name).toString
      df.write.parquet(p); p
    }
    val b0 = stage("b0", docs.where($"doc_id" < 170))
    val b1 = stage("b1",
      docs.where($"doc_id" >= 170 && $"doc_id" < 340))
    val b2 = stage("b2", docs.where($"doc_id" >= 340))
    val vocabPath = stage("vocab",
      operators.TextAnalysis.tokenVocab(docs, 512))
    val pack = root.resolve("pack").toString
    val r0 = GraftSql.sql(spark, s"PACK SEQUENCES FROM '$b0' LENGTH " +
      s"128 MATERIALIZE TO '$pack' IDS VOCAB FROM '$vocabPath' BATCH 0")
    assert(r0.columns.toSeq === Seq("seq_id", "doc_id",
      "tokens_before", "frag_tokens", "carry_in"))
    GraftSql.sql(spark, s"PACK SEQUENCES FROM '$b1' LENGTH 128 " +
      s"MATERIALIZE TO '$pack' IDS BATCH 1")
    GraftSql.sql(spark, s"PACK SEQUENCES FROM '$b2' LENGTH 128 " +
      s"MATERIALIZE TO '$pack' IDS BATCH 2")
    // a replayed statement re-lands nothing
    GraftSql.sql(spark, s"PACK SEQUENCES FROM '$b2' LENGTH 128 " +
      s"MATERIALIZE TO '$pack' IDS BATCH 2")
    val inc = operators.TextAnalysis
      .packTokensIngestManifest(spark, pack)
      .collect().map(_.toSeq).toSet
    val oneShot = operators.TextAnalysis.packTokensMaterialize(docs,
      root.resolve("oneshot").toString, seqLen = 128L,
      vocab = Some(operators.TextAnalysis.tokenVocab(docs, 512)))
      .collect().map(_.toSeq).toSet
    assert(inc === oneShot,
      "SQL-landed batches diverged from the one-shot token pack")
    // misuse refuses: BATCH without the token-ID landing form,
    // BATCH combined with the one-shot MIXTURE
    val e1 = intercept[IllegalArgumentException] {
      GraftSql.sql(spark, s"PACK SEQUENCES FROM '$b0' BATCH 3")
    }
    assert(e1.getMessage.contains("IDS"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      GraftSql.sql(spark, s"PACK SEQUENCES FROM '$b0' " +
        s"MIXTURE ('en' 0.5) MATERIALIZE TO '${root.resolve("x")}' " +
        "IDS BATCH 3")
    }
    assert(e2.getMessage.contains("MIXTURE"), e2.getMessage)
    // the vp default VOCAB SIZE matches the one-shot IDS form (64):
    // the two SQL spellings of "the same pack" must pin compatible
    // vocabularies when the caller doesn't override
    val vpPack = root.resolve("vppack").toString
    GraftSql.sql(spark, s"PACK SEQUENCES FROM '$b0' LENGTH 128 " +
      s"TOKENIZER vp MATERIALIZE TO '$vpPack' IDS BATCH 0")
    assert(GraftTable.load(spark,
        java.nio.file.Paths.get(vpPack, "vocab").toString)
      .snapshot().count() === 64L,
      "the BATCH form's default vp vocabulary must match the " +
        "one-shot form's (top-64 gram cut)")
  }

  test("PACK SEQUENCES MIXTURE ... IDS: the complete loader artifact " +
      "from one statement ≡ the API composition; misuse refuses") {
    val root = Files.createTempDirectory("graft_packmix_sql_")
    val docs = Tables.load(spark, sf, "documents")
    docs.write.parquet(root.resolve("src").toString)
    val src = root.resolve("src").toString
    val out = root.resolve("seqs").toString
    val m = GraftSql.sql(spark, s"PACK SEQUENCES FROM '$src' LENGTH " +
      "128 MIXTURE ('en' 0.5, 'zh' 2.25, 'es' 3.0, 'fr' 0.0) SEED 0 " +
      s"MATERIALIZE TO '$out' IDS VOCAB SIZE 256")
    assert(m.columns.toSeq === Seq("seq_id", "n_copies",
      "filled_tokens", "n_carry_in", "ids_sum", "first_doc",
      "last_doc"))
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val out2 = root.resolve("seqs2").toString
    val api = operators.TextAnalysis.packTokensMixtureMaterialize(docs,
      operators.TextAnalysis.scenarioMixture, out2, seqLen = 128L,
      vocabSize = 256)
    assert(cells(m) === cells(api),
      "SQL mixture pack diverged from the API composition")
    // misuse refuses: MIXTURE without the token-ID landing form,
    // DEFAULT/SEED without MIXTURE
    val e1 = intercept[IllegalArgumentException] {
      GraftSql.sql(spark, s"PACK SEQUENCES FROM '$src' " +
        "MIXTURE ('en' 0.5) MANIFEST")
    }
    assert(e1.getMessage.contains("MATERIALIZE"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      GraftSql.sql(spark, s"PACK SEQUENCES FROM '$src' SEED 3 MANIFEST")
    }
    assert(e2.getMessage.contains("MIXTURE"), e2.getMessage)
  }

  test("PACK SEQUENCES TOKENIZER vp: the greedy-encode measure from " +
      "pure SQL (grams induced from the statement's source); content " +
      "forms refuse it") {
    val root = Files.createTempDirectory("graft_packvp_sql_")
    val docs = Tables.load(spark, sf, "documents")
    docs.write.parquet(root.resolve("src").toString)
    val src = root.resolve("src").toString
    val m = GraftSql.sql(spark,
      s"PACK SEQUENCES FROM '$src' LENGTH 128 TOKENIZER vp MANIFEST")
    val grams = operators.TextAnalysis
      .vocabInductFrame(docs).select($"gram").collect()
      .map(_.getString(0)).toIndexedSeq
    val api = operators.TextAnalysis.seqManifest(docs, seqLen = 128L,
      tokenizer = "vp", vpGrams = grams)
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(_.toSeq).toSet
    assert(cells(m) === cells(api),
      "SQL vp manifest diverged from the API encode")
    // the TEXT content form still refuses vp (no textual re-assembly
    // for a subword measure); the IDS form now LANDS it — the r19
    // subword pack (SubwordPackSpec covers the positive path)
    val err = intercept[IllegalArgumentException] {
      GraftSql.sql(spark, s"PACK SEQUENCES FROM '$src' TOKENIZER vp " +
        s"MATERIALIZE TO '${root.resolve("x")}'")
    }
    assert(err.getMessage.contains("IDS"), err.getMessage)
    // EXPORT SHARDS gets the same SQL-level vp spelling on its plain
    // one-shot (grams induced from the source); the other forms
    // refuse with a statement-level message, not a Scala-arg error
    val expVp = root.resolve("expvp").toString
    val mVp = GraftSql.sql(spark,
      s"EXPORT SHARDS TO '$expVp' FROM '$src' BUDGET 512 TOKENIZER vp")
    def mCells(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(_.toSeq).toSet
    assert(mCells(mVp) === mCells(operators.TextAnalysis.shardManifest(
      operators.TextAnalysis.exportShards(docs, shardTokens = 512L,
        tokenizer = "vp", vpGrams = grams))),
      "SQL vp export diverged from the API encode-measured pack")
    val e2 = intercept[IllegalArgumentException] {
      GraftSql.sql(spark, s"EXPORT SHARDS TO '$expVp' FROM '$src' " +
        "TOKENIZER vp SHUFFLED")
    }
    assert(e2.getMessage.contains("one-shot"), e2.getMessage)
  }

  test("DESCRIBE EXPORT one-shot: the ledger row derives from footer " +
      "stats + a pruned single-file read, never a corpus aggregate; " +
      "an empty assignments table refuses descriptively") {
    val root = Files.createTempDirectory("graft_descexp_")
    val docs = Tables.load(spark, sf, "documents")
    docs.write.parquet(root.resolve("src").toString)
    val exp = root.resolve("exp").toString
    GraftSql.sql(spark, s"EXPORT SHARDS TO '$exp' FROM " +
      s"'${root.resolve("src")}' BUDGET 512")
    val asgPath = java.nio.file.Paths.get(exp, "assignments").toString
    val asg = graft.tables.GraftTable.load(spark, asgPath).snapshot()
    val full = asg.agg(
      org.apache.spark.sql.functions.max($"tokens_before" + $"n_tokens"),
      org.apache.spark.sql.functions.max($"doc_id")).head()
    // the statement's ledger row ≡ the full-scan spelling
    val viaSql = GraftSql.sql(spark, s"DESCRIBE EXPORT '$exp'").head()
    assert(viaSql.getLong(1) === full.getLong(0), "end_offset diverged")
    assert(viaSql.getLong(2) === full.getLong(1), "max_doc diverged")
    // pruning, pinned on a CONTROLLED multi-file landing: range-
    // partitioned files put the global max tokens_before in ONE file
    val wide = root.resolve("wide").toString
    val wideAsg = java.nio.file.Paths.get(wide, "assignments").toString
    graft.tables.GraftTable.create(spark, wideAsg,
      asg.repartitionByRange(8, $"tokens_before"))
    val (frame, read, total) =
      GraftSql.oneShotExportLedger(spark, wideAsg)
    val r = frame.head()
    assert(r.getLong(1) === full.getLong(0), "pruned end_offset diverged")
    assert(r.getLong(2) === full.getLong(1), "pruned max_doc diverged")
    assert(total > 1, s"setup: expected a multi-file landing, got $total")
    assert(read >= 0 && read < total,
      s"DESCRIBE EXPORT read $read of $total files — the stats-pruned " +
        "path must not scan the corpus")
    // empty landing: descriptive refusal, not an NPE
    val empty = root.resolve("empty").toString
    graft.tables.GraftTable.create(spark,
      java.nio.file.Paths.get(empty, "assignments").toString,
      asg.limit(0))
    val err = intercept[IllegalArgumentException] {
      GraftSql.sql(spark, s"DESCRIBE EXPORT '$empty'").collect()
    }
    assert(err.getMessage.contains("zero rows"), err.getMessage)
  }

  test("sourceFrameAuto: a single-segment relative directory resolves " +
      "as a PATH — unless a registered table claims the name, which " +
      "always wins over incidental cwd content") {
    val rel = "graft_relsrc_spec_dir"
    val p = java.nio.file.Paths.get(rel)
    try {
      Tables.load(spark, sf, "documents").limit(5)
        .write.mode("overwrite").parquet(p.toAbsolutePath.toString)
      val got = GraftSql.sourceFrameAuto(spark, rel)
      assert(got.count() === 5L,
        "a bare relative dir must resolve to its parquet content")
      // a same-named REGISTERED view must never be silently shadowed
      // by a directory that happens to sit in the driver's cwd
      Tables.load(spark, sf, "documents").limit(3)
        .createOrReplaceTempView(rel)
      try assert(GraftSql.sourceFrameAuto(spark, rel).count() === 3L,
        "a registered view must win over a same-named local dir")
      finally spark.catalog.dropTempView(rel): Unit
    } finally {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
    }
  }

  test("EXPORT SHARDS MIXTURE + PACK SEQUENCES SQL: manifests and " +
      "span frames ≡ the API, per-copy assignments land with rep, " +
      "weight-list typos refuse") {
    val root = Files.createTempDirectory("graft_mixsql_")
    val docs = Tables.load(spark, sf, "documents")
    docs.write.parquet(root.resolve("src").toString)
    val src = root.resolve("src").toString
    val weights = operators.TextAnalysis.scenarioMixture
    // MIXTURE: manifest result rows ≡ the API composition
    val exp = root.resolve("exp").toString
    val m = GraftSql.sql(spark, s"EXPORT SHARDS TO '$exp' FROM '$src' " +
      "BUDGET 512 MIXTURE ('en' 0.5, 'zh' 2.25, 'es' 3.0, 'fr' 0.0)")
    assert(m.columns.toSeq === Seq("shard_id", "n_copies",
      "shard_tokens", "first_doc", "last_doc"))
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .select($"shard_id", $"n_copies".cast("long"), $"shard_tokens",
        $"first_doc", $"last_doc")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(cells(m) === cells(operators.TextAnalysis.shardManifest(
        operators.TextAnalysis.exportShardsMixture(docs, weights,
          shardTokens = 512L))
      .withColumnRenamed("n_docs", "n_copies")),
      "MIXTURE manifest diverged from the API composition")
    // the landed assignments carry the rep column (per-copy
    // provenance) and a re-run overwrites
    def asg = graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(exp, "assignments").toString).snapshot()
    assert(asg.columns.toSet === Set("doc_id", "rep", "n_tokens",
      "tokens_before", "shard_id", "batch_id"))
    val n = asg.count()
    assert(n > docs.count(), "upsampling must replicate copies")
    GraftSql.sql(spark, s"EXPORT SHARDS TO '$exp' FROM '$src' " +
      "BUDGET 512 MIXTURE ('en' 0.5, 'zh' 2.25, 'es' 3.0, 'fr' 0.0)")
    assert(asg.count() === n, "re-run MIXTURE export must overwrite")
    // DEFAULT + SEED spellings route through
    val exp2 = root.resolve("exp2").toString
    val m2 = GraftSql.sql(spark, s"EXPORT SHARDS TO '$exp2' FROM " +
      s"'$src' MIXTURE ('fr' 2.0) DEFAULT 0.0 SEED 3")
    assert(cells(m2) === cells(operators.TextAnalysis.shardManifest(
        operators.TextAnalysis.exportShardsMixture(docs,
          Map("fr" -> 2.0), defaultWeight = 0.0, seed = 3L))
      .withColumnRenamed("n_docs", "n_copies")))
    // a malformed weight list refuses instead of dropping pairs —
    // unparseable tails AND duplicated domains (last-wins through the
    // map would silently discard the first weight)
    val e = intercept[IllegalArgumentException] {
      GraftSql.sql(spark, s"EXPORT SHARDS TO '$exp2' FROM '$src' " +
        "MIXTURE ('en' 0.5, oops)")
    }
    assert(e.getMessage.contains("weight list"), e.getMessage)
    val eDup = intercept[IllegalArgumentException] {
      GraftSql.sql(spark, s"EXPORT SHARDS TO '$exp2' FROM '$src' " +
        "MIXTURE ('en' 3.0, 'en' 0.5)")
    }
    assert(eDup.getMessage.contains("duplicate domain"), eDup.getMessage)
    // PACK SEQUENCES: span frame and MANIFEST rollup ≡ the API
    val spans = GraftSql.sql(spark,
      s"PACK SEQUENCES FROM '$src' LENGTH 128")
    assert(spans.columns.toSeq === Seq("doc_id", "n_tokens",
      "tokens_before", "start_seq", "start_offset", "end_seq", "n_seqs"))
    assert(spans.collect().map(_.toSeq).toSet ===
      operators.TextAnalysis.packSequences(docs, seqLen = 128L)
        .collect().map(_.toSeq).toSet,
      "PACK SEQUENCES diverged from the API span frame")
    // DESCRIBE EXPORT over the one-shot layout: one synthetic ledger
    // row derived from the landed assignments
    val desc1 = GraftSql.sql(spark, s"DESCRIBE EXPORT '$exp'").collect()
    assert(desc1.length === 1 && desc1.head.getLong(0) === -1L)
    assert(desc1.head.getLong(1) > 0L, "end_offset from landed rows")
    // and over an incremental export: the real per-batch state rows
    val incExp = root.resolve("incexp").toString
    GraftSql.sql(spark,
      s"EXPORT SHARDS TO '$incExp' FROM '$src' BUDGET 512 BATCH 0")
    val desc2 = GraftSql.sql(spark, s"DESCRIBE EXPORT '$incExp'")
    assert(desc2.columns.toSeq ===
      Seq("batch_id", "end_offset", "max_doc", "pipeline"))
    assert(desc2.collect().map(_.getLong(0)).toSeq === Seq(0L))
    intercept[IllegalArgumentException] {
      GraftSql.sql(spark,
        s"DESCRIBE EXPORT '${root.resolve("nowhere")}'")
    }
    val man = GraftSql.sql(spark,
      s"PACK SEQUENCES FROM '$src' LENGTH 128 MANIFEST")
    assert(man.collect().map(_.toSeq).toSet ===
      operators.TextAnalysis.seqManifest(docs, seqLen = 128L)
        .collect().map(_.toSeq).toSet,
      "PACK SEQUENCES MANIFEST diverged from the API rollup")
    // MATERIALIZE TO: training batches land, the statement returns
    // the manifest re-derived from the landed content; contradictory
    // and unsupported-measure forms refuse
    val seqOut = root.resolve("seqs").toString
    val mat = GraftSql.sql(spark,
      s"PACK SEQUENCES FROM '$src' LENGTH 128 MATERIALIZE TO '$seqOut'")
    assert(mat.collect().map(_.toSeq).toSet ===
      man.collect().map(_.toSeq).toSet,
      "MATERIALIZE manifest diverged from the metadata rollup")
    assert(spark.read.parquet(seqOut).columns.toSet ===
      Set("seq_id", "seq_text", "doc_ids", "doc_starts", "n_carry_in"))
    val e2 = intercept[IllegalArgumentException] {
      GraftSql.sql(spark, s"PACK SEQUENCES FROM '$src' LENGTH 128 " +
        s"MANIFEST MATERIALIZE TO '$seqOut'")
    }
    assert(e2.getMessage.contains("MANIFEST"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      GraftSql.sql(spark, s"PACK SEQUENCES FROM '$src' TOKENIZER bpe " +
        s"MATERIALIZE TO '$seqOut'")
    }
    assert(e3.getMessage.contains("whitespace"), e3.getMessage)
  }

  test("ADMIT INTO DEDUP INDEX: the whole admission cycle from pure " +
      "SQL — gate rejects, lexical and semantic near-dups drop, and " +
      "a replayed BATCH id is a no-op") {
    val root = Files.createTempDirectory("graft_admit_sql_")
    def dirOf(n: String) = root.resolve(n).toString
    def emb(dom: Int, dom2: Int = -1): Seq[Float] =
      Seq.tabulate(8)(d =>
        (if (d == dom) 10f else 0f) + (if (d == dom2) 10f else 0f))
    def frame(rows: Seq[(Long, String, Seq[Float])]) =
      rows.toDF("doc_id", "text", "embedding")
        .withColumn("embedding", $"embedding".cast("array<float>"))
    // 16-doc seed corpus: distinct texts, one-hot embedding directions
    val seed = frame((0 until 16).map { i =>
      (1000L + i, s"seed document number $i with a distinct sentence " +
        s"about topic ${('a' + i).toChar} and unique words " +
        s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f", emb(i % 8))
    })
    seed.write.parquet(dirOf("seed"))
    seed.selectExpr("doc_id AS vec_id", "embedding")
      .write.parquet(dirOf("seedvecs"))
    val didx = dirOf("didx"); val aidx = dirOf("aidx")
    val cl = dirOf("clusters")
    GraftSql.sql(spark, s"CREATE DEDUP INDEX '$didx' ON '${dirOf("seed")}'")
    GraftSql.sql(spark, s"CREATE ANN INDEX '$aidx' ON '${dirOf("seedvecs")}'")
    // batch 0: three novel docs (novel text AND novel directions)
    val t2 = "batch doc two has its own specific set of words " +
      "q2a q2b q2c q2d q2e q2f q2g"
    frame(Seq(
      (1L, "batch doc one carries words q1a q1b q1c q1d q1e q1f q1g " +
        "entirely its own", emb(0, 1)),
      (2L, t2, emb(2, 3)),
      (3L, "batch doc three also unique tokens q3a q3b q3c q3d q3e " +
        "q3f q3g here", emb(4, 5)))).write.parquet(dirOf("b0"))
    val v0 = GraftSql.sql(spark,
      s"ADMIT INTO DEDUP INDEX '$didx' CLUSTERS '$cl' " +
        s"FROM '${dirOf("b0")}' SEMANTIC INDEX '$aidx' BATCH 0")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    assert(v0.keySet === Set(1L, 2L, 3L))
    assert(v0.values.forall(_._2 == "keep"),
      s"novel content must admit: $v0")
    // batch 1: 11 is a SEMANTIC near-dup of 1 (same direction, fresh
    // text — the lexical screen alone would miss it); 13 is a LEXICAL
    // copy of 2 (same text, fresh direction); 12 is novel; 14 fails
    // the GATE
    frame(Seq(
      (11L, "completely different words r1a r1b r1c r1d r1e r1f r1g " +
        "from doc one", emb(0, 1)),
      (12L, "novel second batch doc with words r2a r2b r2c r2d r2e " +
        "r2f r2g", emb(6, 7)),
      (13L, t2, emb(5)),
      (14L, "junk", emb(7)))).write.parquet(dirOf("b1"))
    val admit1 = s"ADMIT INTO DEDUP INDEX '$didx' CLUSTERS '$cl' " +
      s"FROM '${dirOf("b1")}' GATE (length(text) >= 12) " +
      s"SEMANTIC INDEX '$aidx' BATCH 1"
    val v1 = GraftSql.sql(spark, admit1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    assert(v1(11L) === ((1L, "drop")),
      s"semantic near-dup must drop against its admitted twin: $v1")
    assert(v1(13L)._2 === "drop" && v1(13L)._1 === 2L,
      s"lexical copy must drop against its admitted twin: $v1")
    assert(v1(12L)._2 === "keep", s"novel doc must keep: $v1")
    assert(v1(14L) === ((14L, "reject")),
      s"gate failure must reject before any screening: $v1")
    // replayed BATCH id: identical verdicts, nothing re-lands
    def annCount = graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(aidx, "assignments").toString)
      .snapshot().count()
    def clusterState = graft.operators.Dedup.clustersView(spark, cl)
      .select($"doc_id", $"cluster_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (nBefore, csBefore) = (annCount, clusterState)
    assert(nBefore === 16L + 3L + 3L,
      "screened batch vectors ingest exactly-once (gate-rejects never)")
    val v1b = GraftSql.sql(spark, admit1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    assert(v1b === v1, "replayed batch must re-verdict identically")
    assert(annCount === nBefore, "replayed batch must re-land nothing")
    assert(clusterState === csBefore,
      "replayed batch must not move the maintained clustering")
    // AUDIT clause: the verdict ledger persists exactly-once per
    // batch id, queryable like any graft table; replay logs nothing
    val audit = dirOf("audit")
    frame(Seq((21L, "third batch doc words s1a s1b s1c s1d s1e s1f",
      emb(1, 2)))).write.parquet(dirOf("b2"))
    val admit2 = s"ADMIT INTO DEDUP INDEX '$didx' CLUSTERS '$cl' " +
      s"FROM '${dirOf("b2")}' AUDIT '$audit' BATCH 2"
    val v2 = GraftSql.sql(spark, admit2)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(v2 === Set((21L, "keep")))
    GraftSql.sql(spark, admit2) // replay: audit logs nothing twice
    val ledger = graft.tables.GraftTable.load(spark, audit).snapshot()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ledger === Seq((2L, 21L)),
      s"audit must hold exactly one batch-2 verdict row: $ledger")
    // AUDIT without BATCH refuses loudly (the watermark needs an id)
    val err = intercept[IllegalArgumentException] {
      GraftSql.sql(spark, s"ADMIT INTO DEDUP INDEX '$didx' CLUSTERS " +
        s"'$cl' FROM '${dirOf("b2")}' AUDIT '$audit'")
    }
    assert(err.getMessage.contains("BATCH"), err.getMessage)
  }
}
