package graft

import java.nio.file.Files

import graft.tables.{ConstraintViolationException, GraftTable}
import org.apache.spark.sql.functions._

/** Generated columns (computed at write, validated everywhere) and
  * GENERATED ALWAYS AS IDENTITY columns (batch-dense ids from a
  * log-carried high water).
  */
class GeneratedColumnsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_gen_").resolve("t").toString

  test("generated columns compute when absent and validate when supplied") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x"),
      generated = Map("x2" -> "x * 2"))
    assert(t.snapshot().orderBy("id").select("x2").as[Double].collect()
      === Array(20.0, 40.0))
    // append without the column — computed
    t.append(Seq((3L, 30.0)).toDF("id", "x"))
    assert(t.snapshot().where($"id" === 3).select("x2").as[Double].head()
      === 60.0)
    // append WITH a wrong value — rejected
    intercept[ConstraintViolationException] {
      t.append(Seq((4L, 40.0, 99.0)).toDF("id", "x", "x2"))
    }
    // consistent supplied values land
    t.append(Seq((5L, 50.0, 100.0)).toDF("id", "x", "x2"))
    assert(t.snapshot().count() === 4)
  }

  test("UPDATE cannot silently diverge a generated column") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, 10.0), (2L, 5.0)).toDF("id", "x"),
      generated = Map("x2" -> "x * 2"))
    // assigning a SOURCE column recomputes the generated column from
    // the post-update value (Delta recomputes; refusing would fail a
    // legal workload) — and untouched rows keep their old values
    t.update($"id" === 1, Map("x" -> lit(11.0)))
    assert(t.snapshot().where($"id" === 1).select("x2").as[Double].head()
      === 22.0)
    assert(t.snapshot().where($"id" === 2).select("x2").as[Double].head()
      === 10.0)
    // explicitly assigning the generated column keeps the user's
    // value — but only a CONSISTENT one passes the implicit check
    t.update($"id" === 1, Map("x" -> lit(12.0), "x2" -> lit(24.0)))
    assert(t.snapshot().where($"id" === 1).select("x2").as[Double].head()
      === 24.0)
    intercept[ConstraintViolationException] {
      t.update($"id" === 1, Map("x" -> lit(13.0), "x2" -> lit(99.0)))
    }
    // assigning an UNRELATED column leaves the generated value alone
    t.update($"id" === 2, Map("id" -> lit(20L)))
    assert(t.snapshot().where($"id" === 20).select("x2").as[Double].head()
      === 10.0)
  }

  test("identity ids are dense across a multi-partition batch") {
    val t = GraftTable.create(spark, tmp(),
      spark.range(0, 100).select(($"id" * 2.0).as("x")).repartition(7),
      identity = Some("row_id"))
    val ids = t.snapshot().select("row_id").as[Long].collect().sorted
    assert(ids === (0L until 100L).toArray)
    assert(t.identityHighWater === 99L)
    // appends continue from the high water, still dense per batch
    t.append(spark.range(0, 10).select(($"id" * 3.0).as("x")).repartition(3))
    val ids2 = t.snapshot().select("row_id").as[Long].collect().sorted
    assert(ids2 === (0L until 110L).toArray)
    assert(t.identityHighWater === 109L)
  }

  test("identity column is GENERATED ALWAYS — supplying it fails") {
    val t = GraftTable.create(spark, tmp(),
      Seq(1.0, 2.0).toDF("x"), identity = Some("row_id"))
    intercept[IllegalArgumentException] {
      t.append(Seq((3.0, 77L)).toDF("x", "row_id"))
    }
  }

  test("seeded identity takes the high water from the seed max") {
    val t = GraftTable.create(spark, tmp(),
      Seq((10L, 1.0), (20L, 2.0)).toDF("row_id", "x"),
      identity = Some("row_id"))
    assert(t.identityHighWater === 20L)
    t.append(Seq(3.0).toDF("x"))
    assert(t.snapshot().where($"x" === 3.0).select("row_id").as[Long].head()
      === 21L)
  }

  test("identity semantics hold on every write path, not just append") {
    val t = GraftTable.create(spark, tmp(),
      Seq(1.0, 2.0).toDF("x"), identity = Some("row_id"))
    // overwrite/replaceWhere assign ids when absent and refuse them
    // when supplied; the high water keeps advancing
    t.overwrite(Seq(10.0, 11.0).toDF("x"))
    assert(t.snapshot().select("row_id").as[Long].collect().sorted
      === Array(2L, 3L))
    intercept[IllegalArgumentException] {
      t.overwrite(Seq((9.0, 99L)).toDF("x", "row_id"))
    }
    t.replaceWhere($"x" === 10.0, Seq(10.0).toDF("x"))
    val ids = t.snapshot().select("row_id").as[Long].collect()
    assert(ids.distinct.length === ids.length, s"duplicate ids: ${ids.toSeq}")
    assert(t.identityHighWater === ids.max)
    // UPDATE cannot assign the identity column
    intercept[IllegalArgumentException] {
      t.update($"x" === 11.0, Map("row_id" -> lit(0L)))
    }
    // MERGE: a source SUPPLYING the identity column (or keying on it)
    // is refused — ids are engine-assigned
    intercept[IllegalArgumentException] {
      t.merge(Seq((1L, 5.0)).toDF("row_id", "x"), "row_id")
    }
  }

  test("MERGE on an identity table: targets keep ids, inserts get fresh ones") {
    val t = GraftTable.create(spark, tmp(),
      Seq(("a", 1.0), ("b", 2.0), ("c", 3.0)).toDF("k", "x"),
      identity = Some("rid"))
    val idOf = (k: String) => t.snapshot().where($"k" === k)
      .select("rid").as[Long].head()
    val (ia, ib) = (idOf("a"), idOf("b"))
    // matched SET * updates x but KEEPS the target's id; not-matched
    // rows get engine-assigned dense ids continuing the high water
    t.merge(Seq(("a", 10.0), ("d", 4.0), ("e", 5.0)).toDF("k", "x"), "k")
    assert(idOf("a") === ia)
    assert(idOf("b") === ib)
    val ids = t.snapshot().select("rid").as[Long].collect().sorted
    assert(ids === Array(0L, 1L, 2L, 3L, 4L)) // dense, no duplicates
    assert(t.identityHighWater === 4L)
    assert(t.snapshot().where($"k" === "a").select("x").as[Double].head()
      === 10.0)
    // conditional clauses + DELETE keep the same id discipline
    t.merge(Seq(("b", 0.0), ("f", 6.0)).toDF("k", "x"),
      "k",
      Seq(GraftTable.MatchedDelete(Some($"src.x" === 0.0))),
      Some(GraftTable.NotMatchedInsert()))
    val after = t.snapshot().select("k", "rid").as[(String, Long)]
      .collect().toMap
    assert(!after.contains("b"))
    assert(after("f") === 5L)
    assert(after.values.toSeq.distinct.length === after.size)
  }

  test("MERGE on a table with BOTH generated and identity columns") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "x"),
      generated = Map("x2" -> "x * 2"),
      identity = Some("rid"))
    // source supplies neither rid (forbidden) nor x2 (recomputed)
    val src = Seq((2L, 200.0), (9L, 90.0)).toDF("k", "x")
    t.merge(src, "k")
    val snap = t.snapshot().orderBy("k")
    // matched row: new x, RECOMPUTED x2, ORIGINAL rid kept
    assert(snap.where($"k" === 2).select("x2").as[Double].head() === 400.0)
    val ridsBefore = t.snapshotAt(0).select("rid").as[Long].collect().toSet
    assert(snap.where($"k" === 2).select("rid").as[Long].head() ===
      t.snapshotAt(0).where($"k" === 2).select("rid").as[Long].head(),
      "matched row lost its engine-assigned id")
    // inserted row: computed x2, a FRESH dense id above the high water
    assert(snap.where($"k" === 9).select("x2").as[Double].head() === 180.0)
    val newRid = snap.where($"k" === 9).select("rid").as[Long].head()
    assert(!ridsBefore.contains(newRid), "insert reused an existing id")
    // global invariants: ids unique, generation law holds everywhere
    val all = snap.select("rid").as[Long].collect()
    assert(all.distinct.length === all.length)
    assert(snap.where($"x2" =!= $"x" * 2).count() === 0)
    // a source that supplies the identity column is still refused
    intercept[IllegalArgumentException] {
      t.merge(Seq((5L, 50.0, 999L)).toDF("k", "x", "rid"), "k")
    }
  }

  test("concurrent identity merges never commit overlapping id blocks") {
    val path = tmp()
    GraftTable.create(spark, path,
      Seq(("a", 1.0), ("b", 2.0)).toDF("k", "x"), identity = Some("rid"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // two merges inserting disjoint keys race: MERGE is fail-fast on
    // the version claim, so at most one lands per round — the loser
    // retries on a fresh base. NEVER two rows with one id.
    val results = Await.result(Future.sequence(Seq("m", "n").map { k =>
      Future {
        val h = GraftTable.load(spark, path)
        def attempt(): Unit =
          h.merge(Seq((k, 9.0)).toDF("k", "x"), "k")
        try { attempt(); 1 }
        catch { case _: graft.tables.CommitConflictException =>
          attempt(); 2 } // retry on the fresh base succeeds
      }
    }), 120.seconds)
    assert(results.sum >= 2)
    val t = GraftTable.load(spark, path)
    val ids = t.snapshot().select("rid").as[Long].collect().sorted
    assert(ids.distinct.length === ids.length, s"duplicate ids: ${ids.toSeq}")
    assert(ids === (0L until ids.length).toArray) // still dense
    assert(t.snapshot().count() === 4)
  }

  test("racing identity appends never commit duplicate ids") {
    val path = tmp()
    GraftTable.create(spark, path, Seq(0.0).toDF("x"),
      identity = Some("row_id"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // racing writers may conflict (identity appends FAIL FAST on a
    // high-water advance instead of blind-retrying into collisions);
    // what must NEVER happen is two committed rows sharing an id
    val results = Await.result(Future.sequence((1 to 6).map { i =>
      Future {
        val handle = GraftTable.load(spark, path)
        try { handle.append(Seq(i.toDouble).toDF("x")); 1 }
        catch { case _: graft.tables.CommitConflictException => 0 }
      }
    }), 180.seconds).toList
    val t = GraftTable.load(spark, path)
    val ids = t.snapshot().select("row_id").as[Long].collect()
    assert(ids.distinct.length === ids.length,
      s"duplicate identity ids committed: ${ids.sorted.toSeq}")
    assert(t.snapshot().count() === 1 + results.sum)
    assert(t.identityHighWater === ids.max)
  }

  test("generated-column partition pruning: date bounds prune year partitions") {
    val orders = Tables.load(spark, sf, "orders")
    val t = GraftTable.create(spark, tmp(), orders,
      partitionBy = Seq("order_year"),
      generated = Map("order_year" -> "year(o_orderdate)"))
    val years = t.snapshot().select("order_year").distinct()
      .as[Int].collect().sorted
    assert(years.length > 2, s"need several year partitions: ${years.toSeq}")
    val y = years(years.length / 2)
    // the predicate mentions ONLY the input column — the partition
    // column is never named, yet its partitions prune
    val cond = $"o_orderdate" >=
      lit(s"$y-01-01 00:00:00").cast("timestamp") &&
      $"o_orderdate" < lit(s"${y + 1}-01-01 00:00:00").cast("timestamp")
    val cand = t.candidateFiles(cond)
    val all = t.snapshotInfo(t.latestVersion).files.size
    assert(cand.nonEmpty && cand.size < all,
      s"no pruning: $all files, ${cand.size} candidates")
    // correctness: the pruned read equals the unpruned one
    assert(t.snapshot().where(cond).count() ===
      orders.where(cond).count())
    // equality on the input derives equality on the partition value
    val one = t.candidateFiles($"o_orderdate" ===
      lit(s"$y-06-15 00:00:00").cast("timestamp"))
    assert(one.size <= cand.size)
    // the REGISTERED scan prunes through the same derivation
    spark.sql("CREATE TABLE graft_genprune USING `graft-table` " +
      s"OPTIONS (path '${t.root}')")
    try {
      val df = spark.read.format("graft-table").load(t.root.toString)
        .where(cond)
      val scan = df.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.get
      assert(df.collect().length.toLong === orders.where(cond).count())
      assert(scan.metrics("numFiles").value < all,
        "registered scan did not derive partition bounds")
    } finally spark.sql("DROP TABLE IF EXISTS graft_genprune")

    // a STRING-typed input must NOT derive (to_date/year are not
    // monotone in lexicographic order — deriving would prune rows)
    val ts = GraftTable.create(spark, tmp(),
      Seq(("2020-2-1", 1L), ("2020-11-5", 2L)).toDF("s", "v"),
      partitionBy = Seq("d"),
      generated = Map("d" -> "to_date(s)"))
    assert(ts.candidateFiles($"s" >= "2020-11-5").size ===
      ts.snapshotInfo(ts.latestVersion).files.size,
      "derived from a string input — lexicographic order is not date order")

    // a TIMESTAMP (instant) input derives ONLY under the recorded
    // materialization zone: year()/to_date() over an instant depend
    // on the session timezone, so CREATE records the zone, matching
    // readers derive, and mismatched sessions neither derive nor
    // write (mixed-zone values would poison pruning)
    // rows: one just before the UTC year boundary (y=2020), one well
    // into 2021 — materialized under the pinned UTC session
    val ti = GraftTable.create(spark, tmp(),
      Seq(("2020-12-31 20:00:00", 1L), ("2021-06-01 12:00:00", 2L))
        .toDF("s", "v").select($"s".cast("timestamp").as("ts"), $"v"),
      partitionBy = Seq("y"),
      generated = Map("y" -> "year(ts)"))
    assert(ti.candidateFiles(
      $"ts" >= lit("2021-01-01 00:00:00").cast("timestamp")).size <
      ti.snapshotInfo(ti.latestVersion).files.size,
      "reader zone matches the recorded writer zone — must prune")
    val tzBefore = spark.conf.get("spark.sql.session.timeZone")
    try {
      // Tokyo reader: the literal instant is 2020-12-31 15:00 UTC, so
      // the y=2020 row at 20:00 UTC MATCHES the predicate — deriving
      // y >= year(literal-in-Tokyo) = 2021 would wrongly prune it;
      // ts footer stats keep both files, so all-candidates here
      // proves derivation stood down (no file is Tokyo-stamped)
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      assert(ti.candidateFiles(
        $"ts" >= lit("2021-01-01 00:00:00").cast("timestamp")).size ===
        ti.snapshotInfo(ti.latestVersion).files.size,
        "mismatched reader zone must not derive partition bounds")
      // a mismatched-zone WRITE now LANDS (per-commit writer zones):
      // its files are Tokyo-stamped, so only Tokyo readers derive
      // over them. 2022-01-01 05:00 Tokyo = 2021-12-31 20:00 UTC —
      // the Tokyo year (2022) differs from the UTC year (2021)
      ti.append(Seq(("2022-01-01 05:00:00", 3L)).toDF("s", "v")
        .select($"s".cast("timestamp").as("ts"), $"v"))
      assert(ti.snapshot().count() === 3)
    } finally spark.conf.set("spark.sql.session.timeZone", tzBefore)
    // back under the pinned (UTC) session: the Tokyo row sits at
    // ts = 2021-12-31 20:00 UTC with y = 2022 (Tokyo year). A UTC
    // reader filtering ts <= 23:30 would derive y <= 2021 — applying
    // that to the Tokyo-stamped file would WRONGLY prune its matching
    // row; the per-file zone gate must keep it, so the pruned scan
    // still returns all 3 matching rows
    assert(ti.snapshot().where($"y" === 2022).count() === 1,
      "the Tokyo-written row must be readable")
    val cand22 = ti.candidateFiles(
      $"ts" <= lit("2021-12-31 23:30:00").cast("timestamp"))
    assert(cand22.size === ti.snapshotInfo(ti.latestVersion).files.size,
      "the Tokyo-stamped file must not be pruned by a UTC-derived bound")
    spark.sql("CREATE TABLE graft_genzone USING `graft-table` " +
      s"OPTIONS (path '${ti.root}')")
    try {
      assert(spark.read.format("graft-table").load(ti.root.toString)
        .where($"ts" <= lit("2021-12-31 23:30:00").cast("timestamp"))
        .count() === 3,
        "a zone-blind derivation lost the Tokyo-written matching row")
    } finally spark.sql("DROP TABLE IF EXISTS graft_genzone")

    // a DML sees the same blast radius: delete one year by date only
    t.delete(cond)
    assert(t.snapshot().where($"order_year" === y).count() === 0)
    assert(t.snapshot().count() === orders.where(!cond).count())
  }

  test("equivalent zone spellings are the same writer zone") {
    // the recorded zone is the pinned session zone ('UTC'); 'Etc/UTC'
    // names the same rules — the write must land and derivation stay
    // on (a raw string compare refused both)
    val ti = GraftTable.create(spark, tmp(),
      Seq(("2020-12-31 20:00:00", 1L), ("2021-06-01 12:00:00", 2L))
        .toDF("s", "v").select($"s".cast("timestamp").as("ts"), $"v"),
      partitionBy = Seq("y"),
      generated = Map("y" -> "year(ts)"))
    val tzBefore = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Etc/UTC")
      ti.append(Seq(("2022-03-01 08:00:00", 3L)).toDF("s", "v")
        .select($"s".cast("timestamp").as("ts"), $"v"))
      assert(ti.snapshot().where($"y" === 2022).count() === 1)
      assert(ti.candidateFiles(
        $"ts" >= lit("2022-01-01 00:00:00").cast("timestamp")).size <
        ti.snapshotInfo(ti.latestVersion).files.size,
        "an equivalent zone spelling must keep derivation on")
    } finally spark.conf.set("spark.sql.session.timeZone", tzBefore)
  }

  test("mixed-zone writes keep per-partition zone stamps through " +
      "compaction; the zone lives only in per-file stamps") {
    val ti = GraftTable.create(spark, tmp(),
      Seq(("2020-06-01 10:00:00", 1L), ("2021-06-01 12:00:00", 2L))
        .toDF("s", "v").select($"s".cast("timestamp").as("ts"), $"v"),
      partitionBy = Seq("y"),
      generated = Map("y" -> "year(ts)"))
    val tzBefore = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      // 2022-01-01 05:00 Tokyo = 2021-12-31 20:00 UTC; y = 2022
      ti.append(Seq(("2022-01-01 05:00:00", 3L)).toDF("s", "v")
        .select($"s".cast("timestamp").as("ts"), $"v"))
    } finally spark.conf.set("spark.sql.session.timeZone", tzBefore)
    // no table-level zone record: every file carries its own stamp
    assert(!ti.properties.contains("graft.writerTimeZone"))
    // COMPACT never merges across partitions, so each output keeps
    // ITS partition's input zone — stamps survive routine maintenance
    // on a multi-zone table instead of standing down wholesale
    ti.compact(1)
    val info = ti.snapshotInfo(ti.latestVersion)
    val zones = info.files.flatMap(f => info.stats.get(f).flatMap(_.tz)).toSet
    assert(zones.exists(z => z == "UTC" || z == "Etc/UTC") &&
      zones.contains("Asia/Tokyo"),
      s"per-partition stamps must survive compaction, got $zones")
    // and the UTC reader's derived bound still cannot lose the Tokyo
    // row through any scan
    assert(ti.snapshot().where($"ts" <=
      lit("2021-12-31 23:30:00").cast("timestamp")).count() === 3,
      "a post-compaction derivation lost the Tokyo-materialized row")
    val cand = ti.candidateFiles(
      $"ts" <= lit("2021-12-31 23:30:00").cast("timestamp"))
    assert(cand.size === ti.snapshotInfo(ti.latestVersion).files.size,
      "the y=2022 (Tokyo-materialized) file must stay un-prunable")
  }

  test("a foreign-zone UPDATE's stood-down outputs carry no zone " +
      "stamp and are never pruned by a UTC reader") {
    // Both rows land in partition y=2021 under the UTC create session.
    val ti = GraftTable.create(spark, tmp(),
      Seq(("2021-06-01 10:00:00", 1L), ("2021-12-31 20:00:00", 2L))
        .toDF("s", "v").select($"s".cast("timestamp").as("ts"), $"v"),
      partitionBy = Seq("y"),
      generated = Map("y" -> "year(ts)"))
    val created = ti.snapshotInfo(ti.latestVersion).files.toSet
    val tzBefore = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      // SET ts = ts touches a generated input, so y recomputes under
      // the Tokyo clock: row 2 (2021-12-31 20:00 UTC = 2022-01-01
      // 05:00 Tokyo) migrates to partition y=2022 while its ts stays
      // in 2021. The rewrite verdict stands down (UTC-stamped inputs,
      // Tokyo session values) — outputs are INTENTIONALLY unstamped.
      ti.update($"v" === 2L, Map("ts" -> $"ts"))
    } finally spark.conf.set("spark.sql.session.timeZone", tzBefore)
    // The rewrite's outputs record no zone: no reader can vouch for
    // the clock their generated values were materialized under.
    val info = ti.snapshotInfo(ti.latestVersion)
    val rewritten = info.files.filterNot(created)
    assert(rewritten.nonEmpty)
    assert(rewritten.forall(f => info.stats(f).tz.isEmpty),
      s"stood-down outputs must carry no stamp: ${rewritten.map(info.stats(_).tz)}")
    // The UTC reader's derived bound y <= 2021 must not prune the
    // y=2022 (Tokyo-materialized) file: it holds a 2021 ts row.
    assert(ti.snapshot().where($"ts" <=
      lit("2021-12-31 23:30:00").cast("timestamp")).count() === 2,
      "the record vouched for a foreign-zone-materialized file")
    val cand = ti.candidateFiles(
      $"ts" <= lit("2021-12-31 23:30:00").cast("timestamp"))
    assert(cand.size === ti.snapshotInfo(ti.latestVersion).files.size,
      "the y=2022 file must stay un-prunable for the UTC reader")
  }

  test("compaction bin-packs within writer zones — derivation stays " +
      "live for both readers") {
    // UNPARTITIONED tz-dependent table: derivation prunes on the
    // materialized y's min/max stats, gated per file by writer zone
    val ti = GraftTable.create(spark, tmp(),
      Seq(("2020-06-01 10:00:00", 1L)).toDF("s", "v")
        .select($"s".cast("timestamp").as("ts"), $"v"),
      generated = Map("y" -> "year(ts)"))
    ti.append(Seq(("2021-06-01 10:00:00", 2L)).toDF("s", "v")
      .select($"s".cast("timestamp").as("ts"), $"v"))
    val tzBefore = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      // 2022-01-01 05:00 Tokyo = 2021-12-31 20:00 UTC; y = 2022
      ti.append(Seq(("2022-01-01 05:00:00", 3L)).toDF("s", "v")
        .select($"s".cast("timestamp").as("ts"), $"v"))
    } finally spark.conf.set("spark.sql.session.timeZone", tzBefore)
    assert(ti.snapshotInfo(ti.latestVersion).files.size === 3)
    // compaction must NOT merge across zones: the two UTC files pack
    // into one, the Tokyo file stays its own — and every output
    // keeps a REAL zone stamp. A cross-zone merge would have to
    // stand down (no stamp), killing tz-derived pruning forever.
    ti.compact(1)
    val info = ti.snapshotInfo(ti.latestVersion)
    assert(info.files.size === 2,
      s"expected one file per zone, got ${info.files.size}")
    val zones = info.files.flatMap(f => info.stats.get(f).flatMap(_.tz)).toSet
    assert(zones.size === 2 && zones.contains("Asia/Tokyo") &&
      info.files.forall(info.stats(_).tz.isDefined),
      s"zone stamps must survive the regrouped compaction, got $zones")
    assert(ti.snapshot().count() === 3)
    // selective scans still prune at file granularity after the
    // regroup (the suite's established liveness proxy) ...
    val cand = ti.candidateFiles(
      $"ts" <= lit("2020-12-31 00:00:00").cast("timestamp"))
    assert(cand.size === 1,
      s"pruning dead after compaction (${cand.size} of 2 files)")
    // ... and the HAZARD direction stays safe: the UTC reader's
    // derived y ≤ 2021 must not lose the Tokyo-materialized y=2022
    // row whose ts IS in 2021
    assert(ti.snapshot().where($"ts" <=
      lit("2021-12-31 23:30:00").cast("timestamp")).count() === 3,
      "derivation wrongly pruned the foreign-zone file")
  }

  test("compact settles on a multi-zone PARTITIONED table: the " +
      "already-packed floor is distinct (zone, partition) pairs") {
    // zone and partition boundaries CROSS: binpackGrouped splits per
    // writer zone AND the partitioned write splits per partition, so
    // 2 zones × 2 partitions floor at 4 files — max(2, 2) = 2 would
    // never be reached and a CDC-triggered maintenance loop would
    // rewrite the identical layout every trigger
    def batch(s1: String, s2: String) =
      Seq((s1, "a", 1L), (s2, "b", 2L)).toDF("s", "p", "v")
        .select($"s".cast("timestamp").as("ts"), $"p", $"v")
    val t = GraftTable.create(spark, tmp(),
      batch("2020-06-01 10:00:00", "2020-06-02 10:00:00"),
      partitionBy = Seq("p"), generated = Map("y" -> "year(ts)"))
    t.append(batch("2020-07-01 10:00:00", "2020-07-02 10:00:00"))
    val tzBefore = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      t.append(batch("2022-01-01 05:00:00", "2022-01-02 05:00:00"))
      t.append(batch("2022-02-01 05:00:00", "2022-02-02 05:00:00"))
    } finally spark.conf.set("spark.sql.session.timeZone", tzBefore)
    assert(t.snapshotInfo(t.latestVersion).files.size === 8)
    t.compact(1)
    val v = t.latestVersion
    val info = t.snapshotInfo(v)
    assert(info.files.size === 4,
      s"expected one file per (zone, partition) pair, got ${info.files.size}")
    // the early-return FIRES at the floor: a second compact commits
    // nothing (the settle a continuous maintenance loop needs)
    assert(t.compact(1) === v,
      "re-compact of an at-floor multi-zone partitioned layout must settle")
    assert(t.snapshot().count() === 8)
  }

  test("shallow clone carries generation spec and identity high water") {
    val src = tmp()
    val t = GraftTable.create(spark, src,
      Seq(1.0).toDF("x"), generated = Map("x2" -> "x * 2"),
      identity = Some("row_id"))
    val clone = GraftTable.shallowClone(spark, src,
      Files.createTempDirectory("graft_gen_cl_").resolve("c").toString)
    assert(clone.generatedColumns === Map("x2" -> "x * 2"))
    assert(clone.identityColumn === Some("row_id"))
    clone.append(Seq(5.0).toDF("x"))
    val row = clone.snapshot().where($"x" === 5.0)
      .select("row_id", "x2").as[(Long, Double)].head()
    assert(row === ((1L, 10.0))) // hw carried (seed used id 0)
  }

  test("generated/identity columns and generation INPUTS are " +
      "rename/drop-immutable — a metadata-only rename cannot rewrite " +
      "the expression text the specs are keyed by") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, java.sql.Timestamp.valueOf("2024-03-01 00:00:00"), 5.0))
        .toDF("id", "ts", "x"),
      generated = Map("yr" -> "year(ts)"), identity = Some("id"))
    // the generation input: renaming/dropping it would leave year(ts)
    // unresolvable on every later write
    intercept[IllegalArgumentException] { t.renameColumn("ts", "event_ts") }
    intercept[IllegalArgumentException] { t.dropColumn("ts") }
    // the generated column itself: injectWriteColumns would re-add
    // the stale name and checkSchema would reject it
    intercept[IllegalArgumentException] { t.renameColumn("yr", "y2") }
    intercept[IllegalArgumentException] { t.dropColumn("yr") }
    // the identity column: the high-water marker is keyed by the name
    intercept[IllegalArgumentException] { t.renameColumn("id", "rid") }
    intercept[IllegalArgumentException] { t.dropColumn("id") }
    // an uninvolved column still renames, and writes stay healthy
    t.renameColumn("x", "amount")
    t.append(Seq((java.sql.Timestamp.valueOf("2025-07-01 00:00:00"),
      7.0)).toDF("ts", "amount"))
    assert(t.snapshot().where($"amount" === 7.0)
      .select("yr").head().getInt(0) === 2025)
  }
}
