package graft

import java.nio.file.Files

import graft.plans.{ParamLiteral, StableLimitExec}
import graft.tables.{GraftTable, IncrementalMatView}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{EqualTo, Literal}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Counter budget for codegen reuse: an op shape repeated with other
  * constants compiles no new class, read off Spark's JVM-wide
  * `CodegenMetrics` compile counter. The ParamLiteral cases pin the
  * constant semantics the literal-stable rule must keep.
  */
class StableCodegenSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** A sibling session (same context) built with the extensions. */
  private lazy val ext: SparkSession = {
    spark // the shared session stays the context's owner
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = Sessions.tune(SparkSession.builder().master("local[4]")
      .withExtensions(new GraftExtensions), 4).getOrCreate()
    SparkSession.setDefaultSession(spark)
    SparkSession.setActiveSession(spark)
    s
  }

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft_codegen_$name").resolve("t").toString

  private def compiles(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  /** Runs `op` with constants 0 and then 1; the second run must be
    * served entirely from classes the first one compiled. A shape is
    * also the table state the op plans against (deletion vectors
    * present or not, the kinds of commits a feed spans), so each case
    * sets that state up first.
    */
  private def repeatCompilesNothing(shape: String)(op: Int => Unit): Unit = {
    op(0)
    val n = compiles(op(1))
    assert(n === 0L, s"$shape compiled $n new classes when repeated with other constants")
  }

  private def orders(s: SparkSession, n: Long): DataFrame =
    s.range(0, n).select(
      (col("id") * 2).as("o_orderkey"),
      (col("id") % 97 * 1.5).as("o_totalprice"),
      element_at(array(lit("O"), lit("F"), lit("P")), (col("id") % 3 + 1).cast("int"))
        .as("o_orderstatus"))

  private def table(name: String): GraftTable =
    GraftTable.create(ext, tmp(name), orders(ext, 4000).repartition(4))

  private def source(keys: Seq[Long], price: Double): DataFrame =
    ext.createDataFrame(keys.map(k => (k, price, "M")))
      .toDF("o_orderkey", "o_totalprice", "o_orderstatus")

  private def execPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  test("UPDATE, DELETE and deleteMor repeat without compiling") {
    val t = table("dml")
    repeatCompilesNothing("update") { i =>
      t.update(col("o_orderkey").between(100 + 400 * i, 180 + 400 * i),
        Map("o_totalprice" -> (col("o_totalprice") + lit(0.25 + i)),
          "o_orderstatus" -> lit("U"))): Unit
    }
    repeatCompilesNothing("delete") { i =>
      t.delete(col("o_orderkey").between(2000 + 400 * i, 2040 + 400 * i)): Unit
    }
    t.deleteMor(col("o_orderkey").between(7000, 7010)) // the table now has DVs
    repeatCompilesNothing("deleteMor") { i =>
      t.deleteMor(col("o_orderkey").between(5000 + 400 * i, 5030 + 400 * i)): Unit
    }
    assert(t.snapshot().where(col("o_orderkey").between(2000, 2040)).count() === 0)
  }

  test("MERGE and mergeMor repeat without compiling") {
    val t = table("merge")
    repeatCompilesNothing("merge") { i =>
      t.merge(source(Seq(10L + 1000 * i, 12L + 1000 * i, 100001L + 2 * i), 7.0 + i),
        "o_orderkey"): Unit
    }
    t.mergeMor(source(Seq(7010L, 300001L), 1.0), Seq("o_orderkey"))
    repeatCompilesNothing("mergeMor") { i =>
      t.mergeMor(source(Seq(4010L + 1000 * i, 4012L + 1000 * i, 200001L + 2 * i), 9.0 + i),
        Seq("o_orderkey")): Unit
    }
    assert(t.snapshot().where(col("o_orderkey") === 1012L)
      .select("o_totalprice").head.getDouble(0) === 8.0)
  }

  test("graft-table point lookup and change feed repeat without compiling") {
    val t = table("reads")
    repeatCompilesNothing("point lookup") { i =>
      val k = 2L * (17 + 300 * i)
      val rows = ext.read.format("graft-table").load(t.root.toString)
        .where(col("o_orderkey") === k).collect()
      assert(rows.map(_.getLong(0)).toSeq === Seq(k))
    }
    // versions 1-2 and 3-4 each span one DELETE and one UPDATE
    for (lo <- Seq(0, 1000)) {
      t.delete(col("o_orderkey").between(lo, lo + 40))
      t.update(col("o_orderkey").between(lo + 100, lo + 140), Map("o_orderstatus" -> lit("U")))
    }
    repeatCompilesNothing("change feed") { i =>
      val types = t.changeFeed(2L * i, 2L * i + 2).groupBy("_change_type").count()
        .collect().map(_.getString(0)).toSet
      assert(types === Set("delete", "update_preimage", "update_postimage"))
    }
  }

  test("materialized view refresh repeats without compiling") {
    val t = table("mv")
    val mv = IncrementalMatView.create(ext, t, tmp("mv_view"),
      Seq("o_orderstatus"), Seq("o_totalprice"), extremes = false)
    val mvx = IncrementalMatView.create(ext, t, tmp("mvx_view"),
      Seq("o_orderstatus"), Seq("o_totalprice"), extremes = true)
    def write(i: Int): Unit = {
      t.update(col("o_orderkey").between(600 + 400 * i, 660 + 400 * i),
        Map("o_totalprice" -> (col("o_totalprice") + lit(1.0 + i))))
      t.delete(col("o_orderkey").between(3000 + 400 * i, 3020 + 400 * i)): Unit
    }
    repeatCompilesNothing("refresh") { i => write(i); mv.refresh(): Unit }
    repeatCompilesNothing("refresh with extremes") { i => write(i + 2); mvx.refresh(): Unit }
    val want = t.snapshot().groupBy("o_orderstatus").agg(max("o_totalprice"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val got = mvx.view().select("o_orderstatus", "max_o_totalprice")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got === want)
  }

  /** One parquet file of edge values, read by both sessions. */
  private lazy val edges: String = {
    val dir = Files.createTempDirectory("graft_codegen_edges").resolve("p").toString
    import spark.implicits._
    Seq(
      (1L, Double.NaN, 1.0f, true, "2024-02-29", "2024-02-29 10:00:00"),
      (2L, -0.0, -0.0f, false, "1970-01-01", "1970-01-01 00:00:00"),
      (3L, 0.0, Float.NaN, true, "1969-12-31", "1969-12-31 23:59:59.999999"),
      (Long.MinValue, Double.PositiveInfinity, Float.NegativeInfinity, false,
        "2000-01-01", "2000-01-01 00:00:00"),
      (Long.MaxValue, Double.NegativeInfinity, Float.PositiveInfinity, true,
        "2038-01-19", "2038-01-19 03:14:08"))
      .toDF("l", "d", "f", "b", "dt", "ts")
      .select($"l", $"d", $"f", $"b", $"dt".cast("date").as("dt"),
        $"ts".cast("timestamp").as("ts"))
      .coalesce(1).write.parquet(dir)
    dir
  }

  private def params(p: SparkPlan): Seq[ParamLiteral] = collect(p) {
    case f: FilterExec => f.condition.collect { case x: ParamLiteral => x }
    case pr: ProjectExec => pr.projectList.flatMap(_.collect { case x: ParamLiteral => x })
  }.flatten

  /** The same query on a session without the rule and on one with it:
    * equal rows, and the rule really parameterized its constants.
    */
  private def sameAsPlain(q: DataFrame => DataFrame): Seq[Row] = {
    val plain = q(spark.read.parquet(edges)).collect().toSeq.map(_.toString).sorted
    val df = q(ext.read.parquet(edges))
    val got = df.collect().toSeq
    assert(got.map(_.toString).sorted === plain)
    assert(params(execPlan(df)).nonEmpty, s"no ParamLiteral in\n${execPlan(df)}")
    got
  }

  test("ParamLiteral keeps NaN, -0.0, infinities and Long.MinValue exact") {
    assert(sameAsPlain(_.where(col("d") === Double.NaN)).map(_.getLong(0)) === Seq(1L))
    assert(sameAsPlain(_.where(col("d") === -0.0)).map(_.getLong(0)).sorted === Seq(2L, 3L))
    assert(sameAsPlain(_.where(col("f") === Float.NaN)).map(_.getLong(0)) === Seq(3L))
    assert(sameAsPlain(_.where(col("d") === Double.PositiveInfinity))
      .map(_.getLong(0)) === Seq(Long.MinValue))
    assert(sameAsPlain(_.where(col("f") < Float.PositiveInfinity)).size === 3)
    assert(sameAsPlain(_.where(col("l") === Long.MinValue)).size === 1)
    assert(sameAsPlain(_.where(col("l") > Long.MinValue)).size === 4)
    assert(sameAsPlain(_.where(col("l").isin(2L, Long.MinValue, 7L))).size === 2)
    val proj = sameAsPlain(_.select(col("l"), (col("d") * -0.0).as("z"),
      (col("f") + Float.NegativeInfinity).as("fi"), (col("l") === Long.MinValue).as("m")))
    assert(proj.count(_.getBoolean(3)) === 1)
  }

  test("ParamLiteral keeps Date, Timestamp and Boolean constants") {
    val day = java.time.LocalDate.of(1970, 1, 1)
    val epoch = java.time.Instant.EPOCH
    assert(sameAsPlain(_.where(col("dt") > day)).size === 3)
    assert(sameAsPlain(_.where(col("ts") <= epoch)).map(_.getLong(0)).sorted === Seq(2L, 3L))
    val flags = sameAsPlain(_.where(col("b") === true)
      .select(col("l"), lit(true).as("t"), lit(false).as("f"), (col("dt") > day).as("after")))
    assert(flags.size === 3 && flags.forall(r => r.getBoolean(1) && !r.getBoolean(2)))
    assert(sameAsPlain(_.where(col("b") =!= true && col("dt") === day))
      .map(_.getLong(0)) === Seq(2L))
  }

  test("ANSI overflow in Add still throws through a ParamLiteral") {
    ext.conf.set("spark.sql.ansi.enabled", "true")
    val df = ext.read.parquet(edges).where(col("l") === 1L)
      .select((col("l") + Long.MaxValue).as("s"))
    assert(params(execPlan(df)).nonEmpty)
    val e = intercept[Exception](df.collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).mkString("\n")
    assert(msgs.contains("ARITHMETIC_OVERFLOW"), msgs)
  }

  test("null literals are left alone and LIMIT runs outside codegen") {
    val child = ext.range(3).queryExecution.sparkPlan
    val nul = Literal(null, LongType)
    val f = graft.plans.StableCodegen.preColumnarTransitions(
      FilterExec(EqualTo(child.output.head, nul), child))
    assert(f.asInstanceOf[FilterExec].condition === EqualTo(child.output.head, nul))
    val lim = ext.range(100).where(col("id") > 5).limit(3).agg(count("id"))
    assert(lim.collect().map(_.getLong(0)).toSeq === Seq(3L))
    assert(collect(execPlan(lim)) { case l: StableLimitExec => l }.nonEmpty,
      execPlan(lim).toString)
  }

  test("scan PushedFilters and explain text still show each constant") {
    val df = ext.read.parquet(edges)
      .where(col("l") === 424242L && col("d") > 2.5)
      .select((col("l") + 17L).as("x"))
    val plan = execPlan(df)
    assert(params(plan).map(_.value).toSet === Set(424242L, 2.5, 17L))
    val scan = collect(plan) { case s: FileSourceScanExec => s }.head
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("EqualTo(l,424242)") && pushed.contains("GreaterThan(d,2.5)"), pushed)
    val text = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExtendedMode)
    Seq("= 424242)", "> 2.5)", "+ 17)").foreach(c => assert(text.contains(c), text))
    assert(df.collect().isEmpty)
  }
}
