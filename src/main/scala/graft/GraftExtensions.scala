package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Builder-time registration of every graft Catalyst extension:
  *
  * {{{
  *   SparkSession.builder().withExtensions(new GraftExtensions)...
  *   // or spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * Injects the native as-of join strategy, the ShingleRewriteRule
  * optimizer rule, the literal-stable codegen rule
  * ([[graft.plans.StableCodegen]]), and the custom functions
  * (rolling_hash / word_shingles / vec_* scalars, top_k_items
  * aggregate). The
  * session-scoped alternatives (`AsOfJoinNative.register`,
  * `RollingHash.register`, `WordShingles.register`,
  * `VectorExprs.register`, `TopKItems.register`) do the same against
  * a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // plain spark.sql(...) gains the graft-table SQL surface: DML,
    // DESCRIBE HISTORY / OPTIMIZE / VACUUM / RESTORE, VERSION AS OF
    e.injectParser((session, delegate) =>
      new graft.plans.GraftSqlParser(session, delegate))
    // optimizer rule: fuse the composed-HOF shingle spelling into the
    // native WordShingles kernel (Photon/Gluten-style replacement)
    e.injectOptimizerRule(_ => graft.plans.ShingleRewriteRule)
    // physical rule before whole-stage codegen: constants read from
    // the generated class's references, LIMIT outside codegen, so a
    // repeated op shape reuses its compiled classes
    e.injectColumnar(_ => graft.plans.StableCodegen)
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("rolling_hash"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.RollingHash].getName, "rolling_hash"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.RollingHash(exprs.head)))
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("word_shingles"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.WordShingles].getName, "word_shingles"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.WordShingles(exprs.head,
          exprs(1).eval().asInstanceOf[Number].intValue)))
    // table_changes('t', from[, to]) — Delta's CDF table-valued
    // function: versions as integer args, timestamps as string args
    // (start = changes AT or AFTER the instant, end = last commit at
    // or before it — the same resolution the reader options use).
    // Registered as a real TVF, so it composes inside any query
    // (joins, CTEs), not just as a statement shape.
    e.injectTableFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("table_changes"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.tables.GraftTable].getName, "table_changes"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 2 || exprs.length == 3,
          "table_changes(table, start[, end]) takes 2 or 3 arguments, " +
            s"got ${exprs.length}")
        require(exprs.forall(e => e.foldable && e.deterministic),
          "table_changes arguments must be literals " +
            "(table name, then versions as integers or timestamps as strings)")
        val spark = org.apache.spark.sql.SparkSession.active
        def str(i: Int): String =
          exprs(i).eval().asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
            .toString
        val table = graft.tables.GraftSql.tableByName(spark, str(0))
        def isString(i: Int) = exprs(i).dataType ==
          org.apache.spark.sql.types.StringType
        def long(i: Int): Long =
          exprs(i).eval().asInstanceOf[Number].longValue
        val fromExcl =
          if (isString(1))
            table.versionBeforeTimestamp(
              graft.tables.GraftSql.parseSqlTimestamp(spark, str(1)))
          else long(1) - 1
        val to =
          if (exprs.length < 3) table.latestVersion
          else if (isString(2))
            table.versionAtTimestamp(
              graft.tables.GraftSql.parseSqlTimestamp(spark, str(2)))
          else long(2)
        table.changeFeed(fromExcl, to).queryExecution.analyzed
      }))
    // latest_runs / best_runs — the model-registry serving lookups as
    // real TVFs over the run ledger, composing in SQL (joins, CTEs)
    // exactly like table_changes(). First arg: a registered graft
    // table name or a plain ledger path; optional second arg: the
    // metric name materialized out of the metrics JSON (default auc).
    def registryTvf(name: String,
        read: (org.apache.spark.sql.SparkSession, String, String) =>
          org.apache.spark.sql.DataFrame): Unit =
      e.injectTableFunction((
        new org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          "graft.ml.RiskPipeline", name),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
          require(exprs.length == 1 || exprs.length == 2,
            s"$name(ledger[, metric]) takes 1 or 2 arguments, " +
              s"got ${exprs.length}")
          require(exprs.forall(x => x.foldable && x.deterministic &&
            x.dataType == org.apache.spark.sql.types.StringType &&
            x.eval() != null),
            s"$name arguments must be non-null string literals " +
              "(ledger table name or path, then an optional metric name)")
          val spark = org.apache.spark.sql.SparkSession.active
          def str(i: Int): String = exprs(i).eval()
            .asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
          // resolution contract: a string holding a path separator IS
          // a ledger path; anything else resolves as a registered
          // table name. (A blanket try/catch here would swallow real
          // resolution failures — a corrupt log on a registered name
          // must surface, not silently degrade to a path lookup.)
          val arg0 = str(0)
          val path =
            if (arg0.contains("/") || arg0.contains("\\")) arg0
            else graft.tables.GraftSql.tableByName(spark, arg0)
              .root.toString
          val metric = if (exprs.length == 2) str(1) else "auc"
          read(spark, path, metric).queryExecution.analyzed
        }))
    registryTvf("latest_runs",
      (s, p, m) => graft.ml.RiskPipeline.latestRuns(s, p, m))
    registryTvf("best_runs",
      (s, p, m) => graft.ml.RiskPipeline.bestRuns(s, p, m))
    // shared literal-argument parsing for the retrieval TVFs — plain
    // fractional SQL literals eval to Decimal (not a
    // java.lang.Number), so one Catalyst cast normalizes every
    // numeric literal, and the null check refuses non-numerics loudly
    // instead of an opaque ClassCastException
    def tvfIntArg(fname: String,
        exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
        i: Int, dflt: Int, name: String): Int =
      if (exprs.length > i) {
        require(exprs(i).foldable && exprs(i).deterministic,
          s"$fname's $name must be a numeric literal")
        val v = org.apache.spark.sql.catalyst.expressions.Cast(
          exprs(i), org.apache.spark.sql.types.IntegerType).eval()
        require(v != null, s"$fname's $name must be a numeric literal")
        v.asInstanceOf[Number].intValue
      } else dflt
    def tvfFilterArg(fname: String,
        exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
        i: Int): Option[org.apache.spark.sql.Column] =
      if (exprs.length > i) {
        require(exprs(i).foldable && exprs(i).deterministic &&
          exprs(i).dataType == org.apache.spark.sql.types.StringType &&
          exprs(i).eval() != null,
          s"$fname's filter must be a non-null SQL-text string " +
            "literal (a predicate over the index's stored columns)")
        Some(org.apache.spark.sql.functions.expr(exprs(i).eval()
          .asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
          .toString))
      } else None
    // ann_search('<index path>', array(...), k[, nprobe[, filter]]) —
    // ANN retrieval as a real TVF, so nearest-neighbor lookups compose
    // inside ordinary SQL (joins, CTEs) exactly like table_changes().
    // Dispatches on the index family: an IVF+PQ index answers through
    // the ADC shortlist + exact re-rank, a flat IVF index through the
    // probed-cell exact scan. The optional 5th argument is a
    // PREDICATE as a SQL-text literal (like dedup_probe's threshold),
    // pushed into the cell scan before scoring with selectivity-
    // scaled probe expansion. Returns (vec_id, label, cos_sim).
    e.injectTableFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("ann_search"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        "graft.operators.Similarity", "ann_search"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length >= 2 && exprs.length <= 5,
          "ann_search(index_path, query_vector[, k[, nprobe[, filter]]]) " +
            s"takes 2 to 5 arguments, got ${exprs.length}")
        require(exprs.forall(x => x.foldable && x.deterministic),
          "ann_search arguments must be literals (a path string, an " +
            "array(...) query vector, optional integer k and nprobe, " +
            "then an optional filter predicate as a SQL string)")
        require(exprs.head.dataType ==
          org.apache.spark.sql.types.StringType && exprs.head.eval() != null,
          "ann_search's index path must be a non-null string literal")
        val spark = org.apache.spark.sql.SparkSession.active
        val path = exprs.head.eval()
          .asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
        // the query vector accepts any numeric array literal — one
        // Catalyst cast normalizes to the float[] the index stores
        val arr = org.apache.spark.sql.catalyst.expressions.Cast(
          exprs(1), org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)).eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val qv = arr.toFloatArray().toSeq
        val k = tvfIntArg("ann_search", exprs, 2, 10, "k")
        val nprobe = tvfIntArg("ann_search", exprs, 3, 4, "nprobe")
        val filter = tvfFilterArg("ann_search", exprs, 4)
        graft.operators.Similarity.indexQuery(spark, path, qv,
          k = k, nprobe = nprobe, filter = filter)
          .queryExecution.analyzed
      }))
    // ann_search_batch('<index path>', <queries table|'path'>[, k[,
    // nprobe[, filter[, exclude_self]]]]) — the INDEX-BACKED BATCH
    // serve as a TVF: a whole frame of query vectors (a table or path
    // carrying query_id|vec_id + embedding) retrieves per-query top-k
    // in one distributed plan (Similarity.indexQueryBatch), composing
    // in joins/CTEs — the retrieval join batch inference runs.
    // exclude_self (default true) drops corpus rows whose vec_id
    // equals the query's id — pass false when the batch carries its
    // OWN id space (an id collision there is not an identity).
    // Returns (query_id, vec_id, label, cos_sim, rank).
    e.injectTableFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier(
        "ann_search_batch"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        "graft.operators.Similarity", "ann_search_batch"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length >= 2 && exprs.length <= 6,
          "ann_search_batch(index_path, queries[, k[, nprobe[, " +
            s"filter[, exclude_self]]]]) takes 2 to 6 arguments, " +
            s"got ${exprs.length}")
        require(exprs.take(2).forall(x => x.foldable && x.deterministic &&
          x.dataType == org.apache.spark.sql.types.StringType &&
          x.eval() != null),
          "ann_search_batch's first two arguments must be non-null " +
            "string literals (index path, then a queries table name " +
            "or path)")
        val spark = org.apache.spark.sql.SparkSession.active
        def str(i: Int): String = exprs(i).eval()
          .asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
        // path-vs-table routing is shared with dedup_probe: a
        // separator OR an existing filesystem entry means path (so a
        // single-segment relative dir is never misrouted to a
        // table-not-found error)
        val queries0 =
          graft.tables.GraftSql.sourceFrameAuto(spark, str(1))
        require(queries0.columns.contains("embedding"),
          "ann_search_batch's queries must carry an embedding column")
        val queries =
          if (queries0.columns.contains("query_id")) queries0
          else if (queries0.columns.contains("vec_id"))
            queries0.withColumnRenamed("vec_id", "query_id")
          else throw new IllegalArgumentException(
            "ann_search_batch's queries must carry a query_id (or " +
              "vec_id) column next to embedding")
        val k = tvfIntArg("ann_search_batch", exprs, 2, 10, "k")
        val nprobe = tvfIntArg("ann_search_batch", exprs, 3, 4, "nprobe")
        val filter = tvfFilterArg("ann_search_batch", exprs, 4)
        val exclSelf = if (exprs.length > 5) {
          require(exprs(5).foldable && exprs(5).deterministic &&
            exprs(5).dataType == org.apache.spark.sql.types.BooleanType &&
            exprs(5).eval() != null,
            "ann_search_batch's exclude_self must be a boolean literal")
          exprs(5).eval().asInstanceOf[Boolean]
        } else true
        graft.operators.Similarity.indexQueryBatch(spark, str(0),
          queries.select(org.apache.spark.sql.functions.col("query_id"),
            // any numeric array normalizes to the float[] the index
            // stores — a SQL-built array<double> frame must work, not
            // fail deep in the plan with a kernel type error
            org.apache.spark.sql.functions.col("embedding")
              .cast("array<float>").as("embedding")),
          k = k, nprobe = nprobe, filter = filter,
          excludeSelf = exclSelf)
          .queryExecution.analyzed
      }))
    // dedup_probe('<index path>', <batch table|'path'>[, min_jaccard])
    // — the READ-ONLY dedup screen as a TVF, the ann_search symmetry
    // for the lexical family: returns the (doc_a, doc_b, n_common,
    // jaccard) pairs a batch would surface against the persisted
    // index, composing in joins/CTEs (screen-then-filter, dry-run
    // admission reports) without indexing anything.
    e.injectTableFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("dedup_probe"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        "graft.operators.Dedup", "dedup_probe"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 2 || exprs.length == 3,
          "dedup_probe(index_path, batch[, min_jaccard]) takes 2 or 3 " +
            s"arguments, got ${exprs.length}")
        require(exprs.take(2).forall(x => x.foldable && x.deterministic &&
          x.dataType == org.apache.spark.sql.types.StringType &&
          x.eval() != null),
          "dedup_probe's first two arguments must be non-null string " +
            "literals (index path, then a batch table name or path)")
        require(exprs.length < 3 ||
          (exprs(2).foldable && exprs(2).deterministic),
          "dedup_probe's min_jaccard must be a numeric literal")
        val spark = org.apache.spark.sql.SparkSession.active
        def str(i: Int): String = exprs(i).eval()
          .asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
        val batch = graft.tables.GraftSql.sourceFrameAuto(spark, str(1))
        // plain fractional SQL literals parse as DECIMAL (whose
        // internal Decimal is NOT a java.lang.Number) — one Catalyst
        // cast normalizes every numeric literal to a double
        val mj = if (exprs.length == 3) {
          // the cast returns NULL for a non-numeric literal, and
          // null.asInstanceOf[Double] silently unboxes to 0.0 — check
          // before unboxing so a typo'd threshold fails loudly instead
          // of surfacing every candidate pair
          val v = org.apache.spark.sql.catalyst.expressions.Cast(exprs(2),
            org.apache.spark.sql.types.DoubleType).eval()
          require(v != null,
            "dedup_probe's min_jaccard must be a numeric literal")
          v.asInstanceOf[Double]
        } else 0.6
        graft.operators.Dedup.incrementalProbe(spark, str(0), batch,
          minJaccard = mj).queryExecution.analyzed
      }))
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("top_k_items"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.TopKItemsAgg].getName, "top_k_items"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 3,
          s"top_k_items(col, k, capacity) takes 3 arguments, got ${exprs.length}")
        graft.functions.TopKItemsAgg(exprs(0),
          exprs(1).eval().asInstanceOf[Number].intValue,
          exprs(2).eval().asInstanceOf[Number].intValue).toAggregateExpression()
      }))
  }
}
