package graft.tables

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** INCREMENTALLY MAINTAINED materialized aggregate view over a
  * GraftTable — the lakehouse "gold rollup kept fresh" pattern
  * (reference: the dashboard aggregates recomputed per run in
  * Instructor/02- Databricks_SQL_Scripts.sql, here maintained from
  * the change feed instead of rescanned).
  *
  * The view is `SELECT keys, SUM(v1), [SUM(v2), …,] COUNT(*) GROUP BY
  * keys` over one or more measure columns, held in its own
  * GraftTable. `create` computes it once with a full scan; every
  * `refresh` reads ONLY the row-level change feed since the last
  * reflected source version and folds signed deltas in:
  * insert/update_postimage count +1/+value, delete/update_preimage
  * count −1/−value. SUM and COUNT are abelian-group aggregates, so
  * delta-folding is exact — the sums ride in DECIMAL(38,4), immune
  * to FP reordering, and a maintained view is bit-identical to a
  * recompute. A multi-measure view maintains all its measures from
  * ONE pass over the feed (one delta aggregation, one fold), not one
  * maintenance pipeline per measure. Every measure's NON-NULL count
  * also rides the fold (abelian, same signed deltas): it backs AVG
  * (`avgCols` — [[view]] projects maintained-sum / maintained-count,
  * no new machinery) and keeps SUM recompute-exact in the
  * all-contributions-retired edge (the signed fold cancels to
  * decimal zero; the count knows the group's non-null values are
  * gone, so the view surfaces NULL like a recompute would).
  *
  * `approxCols` measures maintain a per-group HLL SKETCH (mergeable
  * DataSketches binary) backing APPROX_COUNT_DISTINCT outputs: sketch
  * union is abelian, so insert-only feeds fold exactly like SUM; a
  * sketch has no inverse, so deletions route the touched groups
  * through the same affected-group recompute machinery as MIN/MAX —
  * the one lever that makes EVERY non-invertible aggregate
  * maintainable.
  *
  * With `extremes = true` the view also maintains MIN/MAX of every
  * measure — NON-abelian aggregates with no delta inverse, handled by
  * AFFECTED-GROUP RECOMPUTE: a batch's insert-only groups still fold
  * monotonically (new min = least(old, batch min)), while any group a
  * delete/update_preimage row names is recomputed from the source —
  * the deleted value may have BEEN the extreme, and no fold can
  * resurrect the runner-up. The affected set is per GROUP, not per
  * measure: one semi-joined recompute refreshes every measure's
  * extremes together. The recompute fetch is FILE-PRUNED where it can
  * be: a small single-column affected set collects driver-side and
  * prunes the source read through commit-log stats
  * (GraftTable.snapshotCandidates), so on a group-key-clustered
  * source a delete in one group re-reads that group's files, not the
  * fact table; only the affected groups' rows survive the semi-join
  * either way (the affected-key frame is delta-sized, so AQE
  * broadcasts it and the scan never shuffles the corpus); a
  * refresh whose feed holds no deletions never rescans at all.
  *
  * Scale shape (100 TB): refresh cost is O(changed rows) + an
  * overwrite of the view itself (aggregate-sized, not fact-sized) —
  * a broad UPDATE feeds its blast radius through, a trickle append
  * costs a trickle. The reflected source version is a watermark in
  * the view table's carried protocol state, so it is transactional with
  * the view data and survives restarts.
  */
class IncrementalMatView private (spark: SparkSession,
    val source: GraftTable, val mv: GraftTable,
    keys: Seq[String], valueCols: Seq[String], extremes: Boolean,
    derived: Seq[(String, String)] = Nil,
    dims: Seq[(String, String, String, String)] = Nil,
    avgCols: Seq[String] = Nil,
    outputs: Seq[(String, String)] = Nil,
    approxCols: Seq[String] = Nil) {
  import IncrementalMatView._
  require(valueCols.nonEmpty || approxCols.nonEmpty,
    "at least one measure column")
  require(dims.forall(d => d._4 == "left" || d._4 == "inner"),
    "dim join type must be 'left' or 'inner'")
  require(avgCols.forall(valueCols.contains),
    "every AVG measure must be a maintained measure column")
  require(outputs.forall { case (k0, v) =>
    val k = IncrementalMatView.baseKind(k0)
    (k == "cnt" && v.isEmpty) ||
      (k == "sum" && valueCols.contains(v)) ||
      (k == "avg" && avgCols.contains(v)) ||
      (k == "adc" && approxCols.contains(v)) ||
      ((k == "min" || k == "max") && extremes && valueCols.contains(v)) },
    "outputs must name maintained measures with sum/avg/min/max/adc/cnt")

  /** Dimension tables joined into the view:
    * (table, factKey, dimKey, joinType). Loaded once per handle;
    * versions are watermarked per dim so a dim change triggers a
    * full recompute (see [[refresh]]).
    */
  private lazy val dimTables: Seq[(GraftTable, String, String, String)] =
    dims.map { case (p, fk, dk, jt) =>
      (GraftTable.load(spark, p), fk, dk, jt) }

  /** Project DERIVED key/measure columns (name → SQL expr over the
    * source row) onto a source-shaped frame — snapshots AND the
    * change feed run through the same projection, so a derived
    * `day = date_trunc('day', ts)` key or a
    * `revenue = price*(1-discount)` measure folds and recomputes
    * exactly like a physical column. Exprs must be DETERMINISTIC
    * per-row (they re-evaluate on preimages during folding).
    */
  private def prep(df: DataFrame): DataFrame = {
    // dimension joins FIRST (broadcast left join on the fact key —
    // dims are dimension-sized by contract), then derived exprs,
    // which may reference joined dim columns
    // the DECLARED join type is honored on snapshots and the feed
    // alike: an inner join drops unmatched fact rows from create AND
    // from every fold, so maintenance stays exact for either spelling
    val joined = dimTables.foldLeft(df) { case (d, (dt, fk, dk, jt)) =>
      val dim = dt.snapshot()
      d.join(broadcast(dim), d.col(fk) === dim.col(dk), jt)
        .drop(dim.col(dk))
    }
    derived.foldLeft(joined) { case (d, (n, e)) => d.withColumn(n, expr(e)) }
  }

  private val derivedMap = derived.toMap

  private def dec38(c: org.apache.spark.sql.Column) =
    c.cast("decimal(12,4)").cast("decimal(38,4)")

  /** Nullable-normalized frame: the maintained table's schema must be
    * IDENTICAL across create/refresh commits (aggregates flip
    * count/sum nullability between the initial scan and the fold),
    * or a catalog registration pinned at CREATE time refuses later
    * reads. The widening is a pure projection: a non-nullable column
    * routes through an else-less `when(c.isNotNull, c)` — value-
    * identical for every input (matching rows pass through, and a
    * null could only miss the branch to become null again), analyzed
    * as nullable, and NOT nullability-refined away (Spark 4 refines
    * `when(lit(true), c)` and `Dataset.to` back to the child's
    * non-nullable type). Unlike the old `createDataFrame(df.rdd, …)`
    * spelling it keeps the plan inside whole-stage codegen and adds
    * no extra RDD round-trip jobs to every create/refresh (measured
    * 0.85 s / 12 jobs of mv_incremental_lineitem's 5.2 s).
    */
  private def nullableFrame(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map { f =>
      if (f.nullable) col(s"`${f.name}`")
      else when(col(s"`${f.name}`").isNotNull, col(s"`${f.name}`"))
        .as(f.name)
    }.toIndexedSeq: _*)

  private def aggregateOf(df: DataFrame): DataFrame = {
    val base = valueCols.map(v =>
      sum(dec38(col(v))).cast("decimal(38,4)").as(s"m_sum_$v")) :+
      count(lit(1)).as("m_cnt")
    val ext = if (extremes) valueCols.flatMap(v => Seq(
      min(dec38(col(v))).cast("decimal(38,4)").as(s"m_min_$v"),
      max(dec38(col(v))).cast("decimal(38,4)").as(s"m_max_$v")))
    else Nil
    // per-measure NON-NULL COUNT (COUNT(v), not COUNT(*)): an abelian
    // aggregate folding with the same signed deltas as the sums;
    // backs AVG and the NULL-when-all-retired sum semantics
    val nn = valueCols.map(v => count(col(v)).as(s"m_nn_$v"))
    // APPROX-DISTINCT measures: a mergeable HLL sketch (DataSketches
    // binary) per group — union-mergeable (abelian under ∪, so
    // insert-only feeds FOLD like SUM), but NOT invertible, so any
    // deletion routes the group through the affected-group recompute
    // exactly as MIN/MAX do
    val hll = approxCols.map(v => hll_sketch_agg(col(v)).as(s"m_hll_$v"))
    val aggs = base ++ ext ++ nn ++ hll
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Source version the view currently reflects. */
  def reflectedVersion: Long = mv.watermark(SourceVersionKey).getOrElse(-1L)

  /** Each dimension's latest version, captured ONCE per refresh (and
    * once in create): the same snapshot drives both the change check
    * and the watermark recorded in the commit. Re-reading
    * latestVersion at commit time would let a dim commit landing
    * mid-refresh be recorded as reflected without ever being joined —
    * permanent silent staleness under `continuous` or any concurrent
    * dim writer. With the capture, a dim that advances mid-refresh is
    * at worst recorded LOW, and the next refresh recomputes.
    */
  private[tables] def dimVersions: Seq[Long] =
    dimTables.map(_._1.latestVersion)

  private def dimVersionMarks(vs: Seq[Long]): Map[String, Long] =
    vs.zipWithIndex.map { case (v, i) => dimVersionKey(i) -> v }.toMap

  /** The frame the affected-group recompute reads: a stats-pruned
    * candidate read when the affected key set is small
    * (≤ [[IncrementalMatView.AffectedPruneCap]]) — per-key-column
    * `IN`-set conditions, conjoined: the cartesian superset of the
    * affected tuples, valid for FILE pruning (a file holding any
    * affected tuple's rows satisfies every per-column condition) and
    * cheap to evaluate driver-side. A column with a null among its
    * affected values contributes no condition (isin(null) matches
    * nothing, which would wrongly prune that group's files); if every
    * column drops out, the full snapshot at `to` is read. Composes
    * with clustering/partitioning on any prefix of the group key.
    */
  private def recomputeSource(to: Long, affected: DataFrame,
      precollected: Option[Array[org.apache.spark.sql.Row]] = None)
      : DataFrame = {
    // the refresh routing probe already collected the affected head
    // driver-side — reuse it instead of a second collect job
    val head = precollected.getOrElse(
      affected.limit(AffectedPruneCap + 1).collect())
    if (head.isEmpty || head.length > AffectedPruneCap)
      return source.snapshotAt(to)
    val conds = keys.zipWithIndex.flatMap { case (k, i) =>
      val vals = head.map(_.get(i))
      // a derived key prunes through its UNDERLYING expression (the
      // source files have no such column); unevaluable shapes keep
      // conservatively inside snapshotCandidates
      if (vals.contains(null)) None
      else Some(expr(derivedMap.getOrElse(k, k))
        .isin(vals.distinct.toSeq: _*))
    }
    if (conds.isEmpty) source.snapshotAt(to)
    else source.snapshotCandidates(conds.reduce(_ && _), to)
  }

  /** Fold the change feed since [[reflectedVersion]] into the view.
    * Returns the source version now reflected (no-op if unchanged).
    */
  def refresh(): Long = {
    val from = reflectedVersion
    val to = source.latestVersion
    // a changed DIMENSION invalidates folded rows wholesale (old
    // deltas joined the old dim values; no fact delta can repair
    // them) — the honest maintenance is a full recompute, fired even
    // when the FACT is unchanged, and watermarked per dim so the
    // next refresh folds again. Versions are captured ONCE here (see
    // dimVersions) — the same snapshot feeds the check and every
    // commit's recorded watermark.
    val dimVs = dimVersions
    val dimsChanged = dimVs.zipWithIndex.exists { case (v, i) =>
      v > mv.watermark(dimVersionKey(i)).getOrElse(-1L) }
    if (dimsChanged) {
      mv.overwrite(
        nullableFrame(aggregateOf(prep(source.snapshotAt(to)))),
        Map(SourceVersionKey -> to) ++ dimVersionMarks(dimVs))
      applyRetention()
      return to
    }
    if (to <= from) return from
    val feed = prep(source.changeFeed(from, to))
    val sign = when(col("_change_type")
        .isin("insert", "update_postimage"), 1)
      .when(col("_change_type").isin("delete", "update_preimage"), -1)
      .otherwise(0)
    // groups a deletion touches: their MIN/MAX cannot be folded (the
    // retired value may have been the extreme), and neither can an
    // HLL sketch (union has no inverse) — recomputed below. Without
    // extremes or approx measures every group folds; the affected
    // set is empty.
    val needsAffected = extremes || approxCols.nonEmpty
    // ONE routing probe over the change feed (guide §1.2): the
    // distinct affected-key head answers "any affected group?" and,
    // in the common ≤AffectedPruneCap case, doubles as the
    // recompute's prune list driver-side.
    val affected =
      if (!needsAffected) null
      else feed.where(col("_change_type").isin("delete", "update_preimage"))
        .select(keys.map(col): _*)
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // a refresh losing a commit race (routine under CONTINUOUS) must
    // release the affected-set cache instead of stranding one entry
    // per retry
    try {
    val head: Array[org.apache.spark.sql.Row] =
      if (!needsAffected) Array.empty
      else affected.limit(AffectedPruneCap + 1).collect()
    val affectedHead =
      if (head.length <= AffectedPruneCap) Some(head) else None
    val anyAffected = head.nonEmpty
    // NULL-SAFE affected-group routing: a Seq-based join drops
    // null-keyed groups on the floor (null = null is null), which
    // would FOLD a null-keyed group's deletion instead of recomputing
    // it — the retired extreme would survive forever. Null group keys
    // are routine (a dim-joined view's unmatched fact rows, nullable
    // source columns), so every anti/semi join here matches with <=>.
    def affKeyCond(df: DataFrame, aff: DataFrame): org.apache.spark.sql.Column =
      keys.map(k => df(k) <=> aff(s"__aff_$k")).reduce(_ && _)
    // lazy: the no-extremes path holds no affected frame (and never
    // needs one)
    lazy val affRenamed = affected.toDF(keys.map(k => s"__aff_$k"): _*)
    // rows whose group is NOT being recomputed fold as signed deltas
    // (with extremes, all such rows are positive — the negatives are
    // exactly what defines an affected group)
    val foldFeed =
      if (!anyAffected) feed
      else feed.join(affRenamed, affKeyCond(feed, affRenamed), "left_anti")
    val deltaAggs = valueCols.map(v =>
      sum(sign * dec38(col(v))).cast("decimal(38,4)").as(s"m_sum_$v")) ++
      Seq(sum(sign).cast("long").as("m_cnt")) ++ (if (extremes)
      valueCols.flatMap(v => Seq(
        min(when(sign > 0, dec38(col(v))))
          .cast("decimal(38,4)").as(s"m_min_$v"),
        max(when(sign > 0, dec38(col(v))))
          .cast("decimal(38,4)").as(s"m_max_$v")))
    else Nil) ++ valueCols.map(v =>
      sum(when(col(v).isNotNull, sign).otherwise(0))
        .cast("long").as(s"m_nn_$v")) ++ approxCols.map(v =>
      // positive rows only (negatives define affected groups, which
      // never reach this fold) — the delta sketch unions into the
      // stored one
      hll_sketch_agg(when(sign > 0, col(v))).as(s"m_hll_$v"))
    val delta = foldFeed
      .groupBy(keys.map(col): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)
    val mvOld =
      if (!anyAffected) mv.snapshot()
      else {
        val snap = mv.snapshot()
        snap.join(affRenamed, affKeyCond(snap, affRenamed), "left_anti")
      }
    val foldAggs = valueCols.map(v =>
      sum(col(s"m_sum_$v")).cast("decimal(38,4)").as(s"m_sum_$v")) ++
      Seq(sum(col("m_cnt")).cast("long").as("m_cnt")) ++ (if (extremes)
      valueCols.flatMap(v => Seq(
        min(col(s"m_min_$v")).cast("decimal(38,4)").as(s"m_min_$v"),
        max(col(s"m_max_$v")).cast("decimal(38,4)").as(s"m_max_$v")))
    else Nil) ++ valueCols.map(v =>
      sum(col(s"m_nn_$v")).cast("long").as(s"m_nn_$v")) ++
      approxCols.map(v =>
        hll_union_agg(col(s"m_hll_$v")).as(s"m_hll_$v"))
    val folded = mvOld.unionByName(delta)
      .groupBy(keys.map(col): _*)
      .agg(foldAggs.head, foldAggs.tail: _*)
      .where(col("m_cnt") =!= 0)
    val merged =
      if (!anyAffected) folded
      else {
        // the recompute's semi-join keeps only affected groups' rows;
        // a group whose rows all retired simply yields no row. The
        // FETCH is file-pruned where it can be: a small single-column
        // affected set collects driver-side and prunes the source
        // scan through commit-log stats (snapshotCandidates), so on a
        // group-key-clustered source a delete in one group re-reads
        // one group's files, not the fact table; multi-column keys,
        // null keys or large sets fall back to the full scan + the
        // same semi-join (correct, just unpruned)
        val prepped = prep(recomputeSource(to, affected, affectedHead))
        val recomputed = aggregateOf(
          prepped.join(affRenamed, affKeyCond(prepped, affRenamed),
            "left_semi"))
        folded.unionByName(recomputed)
      }
    mv.overwrite(nullableFrame(merged),
      Map(SourceVersionKey -> to) ++ dimVersionMarks(dimVs))
    } finally {
      if (affected != null) affected.unpersist(): Unit
    }
    applyRetention()
    to
  }

  /** RETENTION POLICY for the view's own storage: every refresh
    * overwrites the (aggregate-sized) view table, stranding the
    * previous version's files — a continuously-refreshed view
    * accumulates one dead file set per refresh forever. Declaring
    * `graft.mv.retain.hours` on the view table makes each refresh
    * vacuum past the window after it commits, so the view
    * self-maintains under `continuous` with no separate schedule.
    * Time travel within the window keeps working; the property is
    * ordinary TBLPROPERTIES (visible in SHOW TBLPROPERTIES, settable
    * over SQL). Unset = never vacuum (today's behavior).
    */
  private def applyRetention(): Unit =
    mv.properties.get(RetainHoursProp)
      .flatMap(s => scala.util.Try(s.trim.toDouble).toOption)
      .filter(_ >= 0)
      .foreach(mv.vacuumRetainHours(_))

  /** One output column of the consumable view, on the cross-engine
    * parity recipes: sums/extremes round the decimal BEFORE the
    * double cast; AVG divides the rounded-sum double by the
    * maintained non-null count (both operands engine-identical, so
    * the IEEE quotient is too — the q1 dashboard recipe).
    */
  private def outCol(kind: String, v: String): org.apache.spark.sql.Column =
    kind match {
      // a sum whose every non-null contribution retired surfaces as
      // NULL — what SUM over the all-null remainder recomputes to —
      // instead of the signed fold's decimal zero
      case "sum" =>
        when(col(s"m_nn_$v") > 0,
          round(col(s"m_sum_$v"), 4).cast("double")).as(s"sum_$v")
      // NULL, not NaN, when the group's non-null count folded to 0
      // (every non-null value deleted while null-valued rows keep the
      // group alive): the signed sum cancels to decimal ZERO — not
      // NULL — so an unguarded quotient would emit 0.0/0 = NaN where
      // AVG over the remaining all-null group recomputes to NULL
      case "avg" => when(col(s"m_nn_$v") > 0,
        round(col(s"m_sum_$v"), 4).cast("double") / col(s"m_nn_$v"))
        .as(s"avg_$v")
      case "min" => round(col(s"m_min_$v"), 4).cast("double").as(s"min_$v")
      case "max" => round(col(s"m_max_$v"), 4).cast("double").as(s"max_$v")
      // APPROX_COUNT_DISTINCT from the maintained sketch; a group
      // whose values were all null holds a null sketch — the exact
      // COUNT(DISTINCT) answer there is 0, so surface that (estimate
      // is EXACT while the sketch is in its small-cardinality mode)
      case "adc" => coalesce(
        hll_sketch_estimate(col(s"m_hll_$v")), lit(0L)).as(s"adc_$v")
      case "cnt" => col("m_cnt").as("n_rows")
      case other => throw new IllegalArgumentException(
        s"unknown view output kind '$other'")
    }

  /** The consumable view frame: group keys plus the DECLARED outputs
    * (`outputs` — what a SQL definition selected), or, for API views
    * with no declaration, every maintained aggregate: each measure's
    * sum, the row count, min/max for an extremes view, avg for
    * declared AVG measures. A measure maintained only to back
    * another output (the sum under an AVG or under a MIN/MAX-only
    * SQL column) is internal state and does not surface unless
    * declared.
    */
  def view(): DataFrame = {
    val outs =
      if (outputs.nonEmpty) outputs.map { case (k0, v) =>
        // "kind|alias" honors the select item's declared AS name —
        // the view's column is what the SQL definition said it is
        val k = IncrementalMatView.baseKind(k0)
        IncrementalMatView.outAlias(k0) match {
          case Some(a) => outCol(k, v).as(a)
          case None => outCol(k, v)
        }
      }
      else (valueCols.map(v => outCol("sum", v)) :+ outCol("cnt", "")) ++
        (if (extremes) valueCols.flatMap(v =>
          Seq(outCol("min", v), outCol("max", v))) else Nil) ++
        avgCols.map(v => outCol("avg", v)) ++
        approxCols.map(v => outCol("adc", v))
    mv.snapshot().select((keys.map(col) ++ outs): _*)
  }
}

object IncrementalMatView {
  private val SourceVersionKey = "mvSourceVersion"

  /** Driver-side cap on the affected-group key set collected to
    * stats-prune the recompute fetch; larger sets (a delete storm
    * touching most groups, where pruning buys nothing anyway) fall
    * back to the full-scan + semi-join path.
    */
  private val AffectedPruneCap = 1000

  private val PropSource = "graft.mv.source"
  private val PropKeys = "graft.mv.keys"
  private val PropValues = "graft.mv.values"
  private val PropExtremes = "graft.mv.extremes"
  private val PropDerived = "graft.mv.derived"
  private val PropDims = "graft.mv.dims"
  private val PropAvgs = "graft.mv.avgs"
  private val PropOutputs = "graft.mv.outputs"
  private val PropApprox = "graft.mv.approx"
  private[tables] val RetainHoursProp = "graft.mv.retain.hours"

  private[tables] def dimVersionKey(i: Int): String = s"mvDimVersion$i"

  /** An outputs entry's kind may carry the select item's declared
    * alias as "kind|alias" (SQL `SUM(x) AS total` → ("sum|total",
    * "x")); plain kinds surface under the default sum_x/avg_x/…
    * names.
    */
  private[tables] def baseKind(kind: String): String =
    kind.split("\\|", 2)(0)

  private[tables] def outAlias(kind: String): Option[String] =
    kind.split("\\|", 2) match {
      case Array(_, a) if a.nonEmpty => Some(a)
      case _ => None
    }

  private def encodeDims(d: Seq[(String, String, String, String)]): String = {
    val enc = java.util.Base64.getEncoder
    d.map { case (p, fk, dk, jt) => Seq(p, fk, dk, jt)
      .map(x => enc.encodeToString(x.getBytes("UTF-8"))).mkString(":")
    }.mkString(",")
  }

  private def decodeDims(s: String): Seq[(String, String, String, String)] = {
    val dec = java.util.Base64.getDecoder
    s.split(",").toSeq.filter(_.nonEmpty).map { parts =>
      parts.split(":").map(x => new String(dec.decode(x), "UTF-8")) match {
        case Array(p, fk, dk, jt) => (p, fk, dk, jt)
        case other => throw new IllegalArgumentException(
          s"corrupt dim definition: ${other.mkString(":")}")
      }
    }
  }

  // derived (name -> SQL expr) pairs ride in one property; exprs may
  // hold any character, so each side is base64-coded
  private def encodeDerived(d: Seq[(String, String)]): String = {
    val enc = java.util.Base64.getEncoder
    d.map { case (n, e) =>
      enc.encodeToString(n.getBytes("UTF-8")) + ":" +
        enc.encodeToString(e.getBytes("UTF-8"))
    }.mkString(",")
  }

  private def decodeDerived(s: String): Seq[(String, String)] = {
    val dec = java.util.Base64.getDecoder
    s.split(",").toSeq.filter(_.nonEmpty).map { pair =>
      // limit -1: an empty right side (the outputs ("cnt","") row
      // rides this codec too) must still split into two fields
      val Array(n, e) = pair.split(":", -1)
      (new String(dec.decode(n), "UTF-8"), new String(dec.decode(e), "UTF-8"))
    }
  }

  /** Materialize the view at the source's current version (one full
    * scan) and return the maintained handle. `extremes = true` adds
    * maintained MIN/MAX of every measure (affected-group recompute on
    * deletions — see the class doc). All measures maintain from one
    * pass over the feed.
    */
  /** [[create]] without derived columns or dimensions. */
  def create(spark: SparkSession, source: GraftTable, mvPath: String,
      keys: Seq[String], valueCols: Seq[String],
      extremes: Boolean): IncrementalMatView =
    create(spark, source, mvPath, keys, valueCols, extremes, Nil, Nil)

  /** [[create]] without dimension joins. */
  def create(spark: SparkSession, source: GraftTable, mvPath: String,
      keys: Seq[String], valueCols: Seq[String],
      extremes: Boolean,
      derived: Seq[(String, String)]): IncrementalMatView =
    create(spark, source, mvPath, keys, valueCols, extremes, derived, Nil)

  /** Full form: `derived` adds name→SQL-expr projected columns;
    * `dims` joins dimension tables (path, factKey, dimKey) into the
    * view — fact deltas FOLD as usual through a broadcast left join,
    * and a dimension CHANGE triggers a full recompute at the next
    * refresh (per-dim version watermarks in the view's carried
    * protocol state), because folded rows joined the old dim values and no
    * fact delta can repair them.
    */
  def create(spark: SparkSession, source: GraftTable, mvPath: String,
      keys: Seq[String], valueCols: Seq[String],
      extremes: Boolean,
      derived: Seq[(String, String)],
      dims: Seq[(String, String, String, String)]): IncrementalMatView =
    create(spark, source, mvPath, keys, valueCols, extremes, derived,
      dims, Nil, Nil)

  /** Fullest form: `avgCols` ⊆ `valueCols` additionally maintains the
    * per-measure NON-NULL count (AVG = maintained SUM / that count —
    * both abelian, so AVG folds exactly like SUM); `outputs` declares
    * which (kind, measure) columns [[view]] surfaces (`kind` ∈
    * sum/avg/min/max, plus ("cnt","") for the row count) — empty
    * means every maintained aggregate.
    */
  def create(spark: SparkSession, source: GraftTable, mvPath: String,
      keys: Seq[String], valueCols: Seq[String],
      extremes: Boolean,
      derived: Seq[(String, String)],
      dims: Seq[(String, String, String, String)],
      avgCols: Seq[String],
      outputs: Seq[(String, String)]): IncrementalMatView =
    create(spark, source, mvPath, keys, valueCols, extremes, derived,
      dims, avgCols, outputs, Nil)

  /** [[create]] plus `approxCols`: measures maintained as mergeable
    * per-group HLL sketches backing APPROX_COUNT_DISTINCT outputs —
    * insert feeds FOLD (sketch union is abelian), deletes route the
    * touched groups through the same affected-group recompute as
    * MIN/MAX (a sketch has no inverse). Need not be numeric and need
    * not be sum measures.
    */
  def create(spark: SparkSession, source: GraftTable, mvPath: String,
      keys: Seq[String], valueCols: Seq[String],
      extremes: Boolean,
      derived: Seq[(String, String)],
      dims: Seq[(String, String, String, String)],
      avgCols: Seq[String],
      outputs: Seq[(String, String)],
      approxCols: Seq[String]): IncrementalMatView = {
    val v = source.latestVersion
    val handle = new IncrementalMatView(spark, source, null, keys,
      valueCols, extremes, derived, dims, avgCols, outputs, approxCols)
    // dim versions captured BEFORE the initial scan joins them: a dim
    // committing mid-create is then recorded LOW and the first
    // refresh recomputes (same TOCTOU posture as refresh())
    val dimVs = handle.dimVersions
    val initial = handle.aggregateOf(handle.prep(source.snapshotAt(v)))
    // the watermarks ride the CREATE commit itself — one write
    // job and one commit instead of a create(empty)+overwrite pair
    // (guide §1.2; the pair cost one extra write job per view create)
    val mv = GraftTable.create(spark, mvPath,
      handle.nullableFrame(initial),
      marks = Map(SourceVersionKey -> v) ++
        dimVs.zipWithIndex.map { case (dv, i) =>
          dimVersionKey(i) -> dv }.toMap)
    // the view is SELF-DESCRIBING: its definition rides in its own
    // table properties, so REFRESH MATERIALIZED VIEW (and any later
    // session) reconstructs the maintenance without the caller
    // re-supplying source/keys/measures
    mv.setProperties(Map(
      PropSource -> source.root.toAbsolutePath.toString,
      PropKeys -> keys.mkString(","),
      PropValues -> valueCols.mkString(","),
      PropExtremes -> extremes.toString) ++
      (if (derived.isEmpty) Map.empty[String, String]
       else Map(PropDerived -> encodeDerived(derived))) ++
      (if (dims.isEmpty) Map.empty[String, String]
       else Map(PropDims -> encodeDims(dims))) ++
      (if (avgCols.isEmpty) Map.empty[String, String]
       else Map(PropAvgs -> avgCols.mkString(","))) ++
      (if (outputs.isEmpty) Map.empty[String, String]
       else Map(PropOutputs -> encodeDerived(outputs))) ++
      (if (approxCols.isEmpty) Map.empty[String, String]
       else Map(PropApprox -> approxCols.mkString(","))))
    new IncrementalMatView(spark, source, mv, keys, valueCols,
      extremes, derived, dims, avgCols, outputs, approxCols)
  }

  /** Re-open a maintained view from the definition stored in its own
    * table properties (the form the SQL surface's `REFRESH
    * MATERIALIZED VIEW` uses — no caller-supplied metadata).
    */
  def load(spark: SparkSession, mvPath: String): IncrementalMatView = {
    val mv = GraftTable.load(spark, mvPath)
    val props = mv.properties
    def req(k: String): String = props.getOrElse(k,
      throw new IllegalArgumentException(
        s"$mvPath holds no maintained-view definition ('$k' missing)"))
    new IncrementalMatView(spark,
      GraftTable.load(spark, req(PropSource)), mv,
      req(PropKeys).split(",").toSeq,
      // an approx-only view stores an empty measure list — "" must
      // not round-trip into a phantom measure named ""
      req(PropValues).split(",").toSeq.filter(_.nonEmpty),
      req(PropExtremes).toBoolean,
      props.get(PropDerived).map(decodeDerived).getOrElse(Nil),
      props.get(PropDims).map(decodeDims).getOrElse(Nil),
      props.get(PropAvgs).map(_.split(",").toSeq).getOrElse(Nil),
      props.get(PropOutputs).map(decodeDerived).getOrElse(Nil),
      props.get(PropApprox).map(_.split(",").toSeq).getOrElse(Nil))
  }

  /** CONTINUOUSLY maintained view — the Delta-Live-Tables shape: a
    * streaming query over the source's registered CDC stream drives
    * `refresh()` once per micro-batch, so the view tracks the source
    * without a scheduler. The stream is only the refresh TRIGGER
    * (its rows are never acted on, so no read job runs — change
    * detection is commit-log metadata); the refresh itself reads the
    * change feed from the view's own transactional watermark exactly
    * as the batch path does. That watermark also makes the loop
    * crash-safe for free: a replayed epoch re-runs `refresh()`,
    * which no-ops when the reflected version is already current —
    * no exactly-once plumbing needed on the stream side.
    */
  def continuous(spark: SparkSession, mvPath: String, checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("10 seconds"),
      beforeEpoch: Option[() => Unit] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val view = load(spark, mvPath)
    spark.readStream.format("graft-table")
      .option("path", view.source.root.toString)
      // CDC mode: DML/rewrite commits surface as ordinary batches
      // instead of refusing the stream — the right posture for a
      // trigger that must fire on updates and deletes too
      .option("mode", "cdc")
      .load()
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      // beforeEpoch runs ahead of every refresh — the cross-session
      // registry's lease heartbeat rides here; its throw terminates
      // the loop at an epoch boundary (refresh is watermark-
      // idempotent, so that is always a safe stop point)
      .foreachBatch { (_: DataFrame, _: Long) =>
        beforeEpoch.foreach(_.apply()); view.refresh(); () }
      .start()
  }

  /** Single-measure convenience form of [[create]]. */
  def create(spark: SparkSession, source: GraftTable, mvPath: String,
      keys: Seq[String], valueCol: String,
      extremes: Boolean = false): IncrementalMatView =
    create(spark, source, mvPath, keys, Seq(valueCol), extremes)

  /** Re-open an existing maintained view. */
  def load(spark: SparkSession, source: GraftTable, mvPath: String,
      keys: Seq[String], valueCols: Seq[String],
      extremes: Boolean): IncrementalMatView =
    new IncrementalMatView(spark, source,
      GraftTable.load(spark, mvPath), keys, valueCols, extremes)

  /** Single-measure convenience form of [[load]]. */
  def load(spark: SparkSession, source: GraftTable, mvPath: String,
      keys: Seq[String], valueCol: String,
      extremes: Boolean = false): IncrementalMatView =
    load(spark, source, mvPath, keys, Seq(valueCol), extremes)
}
