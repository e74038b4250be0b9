package graft

/** Dump `.explain("formatted")` for named queries — the plan-evidence
  * artifact the optimization rounds commit under `plans/rNN/`
  * (judge-checkable without running Spark), and the plan-audit view
  * of scan pushdown (PushedFilters/ReadSchema), join choices and
  * WholeStageCodegen spans.
  *
  * Usage:
  *  - `runMain graft.ExplainDump <outDir> <suffix> <query...>` writes
  *    `<outDir>/<query>_<suffix>.txt` per query;
  *  - `runMain graft.ExplainDump - <query...>` prints each plan to
  *    stdout instead.
  * Reads the usual SPARK_GRAFT_SF_DIR (default sf0.01 — plans, not
  * timings).
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val toStdout = args.headOption.contains("-")
    require(args.length >= (if (toStdout) 2 else 3),
      "usage: ExplainDump <outDir> <suffix> <query...> | ExplainDump - <query...>")
    val queries = args.drop(if (toStdout) 1 else 2)
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Sessions.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    for (q <- queries) {
      val txt = try {
        val df = SparkEntry.queries(q)(spark, sf)
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      } catch { case e: Throwable => s"explain failed: $e" }
      if (toStdout) println(s"===== $q =====\n$txt")
      else {
        val outDir = java.nio.file.Paths.get(args(0))
        java.nio.file.Files.createDirectories(outDir)
        java.nio.file.Files.writeString(
          outDir.resolve(s"${q}_${args(1)}.txt"), txt)
        println(s"wrote ${q}_${args(1)}.txt (${txt.length} chars)")
      }
    }
    spark.stop()
  }
}
