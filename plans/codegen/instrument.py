"""Patch a COPY of the repository so its benchmark counts codegen per op.

    python3 plans/codegen/instrument.py <copy of the repository>
    cd <copy> && INSTR_CACHE=1000 python3 graftbench/run.py --workload dml_storm --seed 3 --seconds 12

The patched graftbench Main reads Spark's CodegenMetrics compile count and
CodeGenerator.compileTime around every window op and prints, per op kind, the
classes compiled and the Janino milliseconds ([instr] lines on stderr), plus
the compiles before and after the window. INSTR_CACHE overrides
spark.sql.codegen.cache.maxEntries (default 100000, i.e. unbounded, so the
total counts the distinct cache entries of the whole run). Never run it on the
repository itself: the benchmark's files stay as they are.
"""
import sys
p = sys.argv[1] + "/graftbench/src/graftbench/Main.scala"
s = open(p).read()
s = s.replace("""      math.max(cores, 4)).getOrCreate()""",
"""      math.max(cores, 4))
      .config("spark.sql.codegen.cache.maxEntries", sys.env.getOrElse("INSTR_CACHE", "100000"))
      .getOrCreate()""", 1)
s = s.replace("""      val s = Clock.ms()
      val f = client.submit""", """      val s = Clock.ms()
      val cg0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val ct0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
      val f = client.submit""", 1)
s = s.replace("""      val e = Clock.ms()
""", """      val e = Clock.ms()
      instr += ((op.name, org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0,
        (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime - ct0) / 1e6))
""", 1)
s = s.replace("""    val recs = mutable.ArrayBuffer[OpRecord]()
""", """    val recs = mutable.ArrayBuffer[OpRecord]()
    val instr = mutable.ArrayBuffer[(String, Long, Double)]()
    val preWindowCompiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
""", 1)
s = s.replace("""    val windowS = (Clock.ms() - begin - pausedMs) / 1000.0
""", """    val windowS = (Clock.ms() - begin - pausedMs) / 1000.0
    System.err.println(s"[instr] compiles before window=$preWindowCompiles total=${org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount}")
    instr.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (n, xs) =>
      System.err.println(f"[instr] $n%-16s ops=${xs.size}%3d compiles=${xs.map(_._2).sum}%5d per_op=${xs.map(_._2).sum.toDouble / xs.size}%6.1f janino_ms=${xs.map(_._3).sum}%8.1f per_op_list=${xs.map(_._2).mkString(",")}")
    }
""", 1)
assert s.count("[instr]") == 2 and "INSTR_CACHE" in s and "cg0" in s
open(p, "w").write(s)
