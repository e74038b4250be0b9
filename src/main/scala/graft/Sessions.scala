package graft

import org.apache.spark.sql.SparkSession

/** Session factory for specs and ad-hoc mains. Verify/Bench build
  * their own sessions (driver contract) but share these conf knobs
  * via `tune`.
  *
  * Generated code. Graft's core is small DML on a long-lived table,
  * where Janino compiles and freshly loaded (still interpreted)
  * generated classes used to dominate the per-op floor. `tune` sets:
  *
  *  - `spark.sql.codegen.cache.maxEntries=1000` (Spark's default is
  *    100). The cache is keyed by source and class loader, so in
  *    local mode the driver's and the executors' copies of a class
  *    are two entries. Measured with an unbounded cache,
  *    one benchmark run (set-up, warm-up, 30 s window) fills 154
  *    entries on `dml_storm` and 206 on `curation_stream`; at 100
  *    entries the LRU evicted classes that the next op compiled again.
  *  - `spark.sql.codegen.useIdInClassName=false`, so a pipeline's
  *    class name does not carry its query's codegen stage number.
  *  - `spark.sql.artifact.isolation.enabled=false`. With per-session
  *    isolation every session, including the clone each streaming
  *    query runs in, gets its own executor class loader, and a class
  *    compiled under one loader is compiled again under the next:
  *    each AvailableNow curation cycle recompiled 66-83 classes, 118
  *    of 136 in two cycles being sources already compiled. Graft adds
  *    no per-session jars or files, so nothing depends on isolation.
  *
  * The literal-stable plans that make a repeated op generate the
  * same source come from [[graft.plans.StableCodegen]], registered by
  * [[GraftExtensions]]. A session configured only with
  * `spark.sql.extensions=graft.GraftExtensions` gets that rule but
  * keeps Spark's 100-entry cache and per-session executor class
  * loaders. The cache size is a static conf of the JVM-wide cache:
  * the first session to compile code fixes it.
  */
object Sessions {
  /** Confs every graft session wants, applied to an existing builder. */
  def tune(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
      // events.parquet carries INT64(TIMESTAMP_NANOS); Spark's reader
      // rejects nanos unless surfaced as long (normalized in Tables.events)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The testdata generator emits naive timestamp[us]
      // (isAdjustedToUTC=false), which Spark 4 would infer as
      // TIMESTAMP_NTZ — a type watermarks/unix_micros reject. Pin
      // Spark-3-style inference: every timestamp column reads as
      // TimestampType, micros-identical under the UTC session TZ, and
      // scan-level filter pushdown stays intact (no cast in the plan).
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // INT96 (Spark's legacy default for TimestampType) writes no
      // usable footer min/max, which would blind the commit-log stats
      // layer (data skipping, DML blast radius, conflict envelopes)
      // on every timestamp column. INT64 micros is the modern parquet
      // spelling and the same domain Catalyst literals use.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      // Codegen reuse (see the object doc): room for every generated
      // class Graft's working set compiles, class names free of the
      // per-query codegen stage number, and one executor class loader
      // for every session of the context.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")

  def local(cores: Int = 4, app: String = "graft"): SparkSession = {
    val s = tune(
      SparkSession.builder().master(s"local[$cores]").appName(app),
      math.max(cores, 4)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
