package graft.streaming

import graft.Tables
import graft.Tables.{asDouble, dec}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming analytics over `events` (SURVEY.md §2.E), mirroring the
  * reference's unified batch/streaming reads
  * (Instructor/01-Fraud-Delta.py:175-201) and Auto Loader flow.
  *
  * Each op has (a) a batch-equivalent DataFrame the DuckDB oracle can
  * check and (b) a Structured Streaming twin (same logic on
  * readStream) spec-tested for parity — Spark's unified Dataset API
  * makes the twin share the transformation code.
  */
object Streams {

  /** Last curation epoch's per-stage wall times (seconds), KEYED BY
    * checkpoint (one checkpoint = one pipeline) — the scale-probe
    * DIAGNOSTIC: admit = screening + cluster fold + verdict
    * materialization (its screen/cluster split rides in from
    * Dedup.lastAdmitStages), append = kept-join + exactly-once
    * curated append. Keyed so concurrent pipelines never read each
    * other's batch timings; not part of any contract.
    */
  private val epochStages =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, Double]]()

  private[graft] def lastEpochStages(checkpoint: String): Map[String, Double] =
    Option(epochStages.get(checkpoint)).getOrElse(Map.empty)

  /** Tumbling 1-hour event-time window aggregate (batch form;
    * date_trunc is the oracle-portable spelling of window()).
    * Batch/stream parity holds under whole-hour-offset session
    * timezones (graft pins UTC in Sessions.tune): date_trunc cuts
    * on the session-TZ wall clock while window() tumbles from the
    * epoch — a fractional-offset TZ (e.g. +5:30) would shift the
    * two bucketings against each other.
    */
  def windowedAgg(spark: SparkSession, sfDir: String): DataFrame =
    windowedAggOf(Tables.events(spark, sfDir))

  def windowedAggOf(events: DataFrame): DataFrame =
    events
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        asDouble(sum(dec(col("value")))).as("sum_value"))

  /** The streaming twin: watermarked tumbling window, append mode. */
  def windowedAggStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        asDouble(sum(dec(col("value")))).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** 30-minute-gap sessionization, batch form: lag → gap flag →
    * running session index → per-session rollup. Two window passes
    * over a single shuffle on user_id.
    */
  def sessionize(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val flagged = ev
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull, 1)
          .when(unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 30L * 60 * 1000000, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    flagged.groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        asDouble(sum(dec(col("value")))).as("sum_value"))
  }

  case class Ev(user_id: Long, event_id: Long, ts: java.time.Instant, value: Double)
  case class SessionState(start: Long, end: Long, n: Long, sum: Double)
  case class SessionOut(user_id: Long, session_start: java.time.Instant,
      session_end: java.time.Instant, n_events: Long)

  private def micros(i: java.time.Instant): Long =
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  private def fromMicros(us: Long): java.time.Instant =
    java.time.Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L)

  /** Streaming sessionization twin: custom per-key state via
    * flatMapGroupsWithState (the reference pattern for state Spark's
    * windows can't express). Emits a session when the 30-min gap
    * passes; state is O(1) per key. Instant (µs precision) end to
    * end — java.sql.Timestamp would truncate to ms and drift from
    * the batch result.
    *
    * CLOSE-BY-SUCCESSOR posture (NoTimeout, a documented trade): a
    * session emits only when a LATER event for the same key lands
    * past the gap — a key that goes permanently quiet keeps its last
    * session open in state (never emitted, state retained), which is
    * what makes the emitted set a pure function of the event set and
    * lets the batch twin (whose "open" tail sessions this operator's
    * gate scenario aligns with) oracle it exactly. A production
    * deployment that needs idle sessions flushed adds
    * EventTimeTimeout against the watermark — that emission is
    * WALL-CLOCK/watermark-dependent and no longer batch-replayable,
    * which is why the oracle posture keeps NoTimeout.
    */
  def sessionizeStream(events: Dataset[Ev]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = 30L * 60 * 1000000
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, evs: Iterator[Ev], state: GroupState[SessionState]) => {
          // ONE sessionization over the whole batch PLUS the open
          // state, treated as proto-sessions (each event a singleton,
          // the state an interval) merged in start order under the
          // gap rule. A session is emitted CLOSED only when the next
          // proto-session starts more than the gap after it ends —
          // since starts are ascending, nothing later can bridge back
          // to it. This keeps chain-bridging correct: late stragglers
          // within the gap of each other and of the open session's
          // (possibly backward-widened) start all collapse into one
          // session, exactly as the batch twin would merge them.
          val items = (state.getOption.toSeq ++ evs.map(e =>
              SessionState(micros(e.ts), micros(e.ts), 1, e.value)))
            .sortBy(s => (s.start, s.end))
          val out = Seq.newBuilder[SessionOut]
          var cur: Option[SessionState] = None
          items.foreach { s =>
            cur match {
              case Some(c) if s.start - c.end <= gapUs =>
                // bounds only widen (an event inside the open
                // interval must never move its end backward)
                cur = Some(SessionState(math.min(c.start, s.start),
                  math.max(c.end, s.end), c.n + s.n, c.sum + s.sum))
              case Some(c) =>
                out += SessionOut(uid, fromMicros(c.start), fromMicros(c.end), c.n)
                cur = Some(s)
              case None =>
                cur = Some(s)
            }
          }
          cur.foreach(state.update)
          out.result().iterator
        })
  }

  /** Session windows via Spark's native session_window operator —
    * the built-in counterpart of `sessionize`. NOT bit-identical
    * semantics: session_window's end is last-event-ts + gap (vs
    * sessionize's max event ts), and an exactly-gap-sized pause
    * still merges in `sessionize` (split needs gap STRICTLY
    * exceeded) while session_window's half-open windows make it
    * split — each form has its own oracle.
    */
  def sessionWindow(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        asDouble(sum(dec(col("value")))).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))

  /** Stream-stream INTERVAL JOIN, batch form: each purchase event
    * joined to the same user's view events in the preceding hour —
    * the attribution join every event pipeline runs. One shuffle on
    * user_id; the time band rides the join condition.
    */
  def intervalJoin(spark: SparkSession, sfDir: String): DataFrame =
    intervalJoinOf(Tables.events(spark, sfDir))

  private def viewsOf(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))

  private def purchasesOf(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))

  def intervalJoinOf(events: DataFrame): DataFrame =
    viewsOf(events).join(purchasesOf(events),
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("view_ts") &&
          col("purchase_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        col("view_ts"), col("purchase_ts"), col("value"))

  /** The streaming twin: watermarked stream-stream inner join with
    * the event-time band bounding join state (Spark drops view state
    * older than the watermark minus the interval). Inner interval
    * joins emit exactly the batch result once both sides arrive.
    */
  def intervalJoinStream(views: DataFrame, purchases: DataFrame): DataFrame =
    views.withWatermark("view_ts", "2 hours")
      .join(purchases.withWatermark("purchase_ts", "2 hours"),
        expr("""user_id = p_user AND
                purchase_ts >= view_ts AND
                purchase_ts <= view_ts + INTERVAL 1 HOUR"""))
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        col("view_ts"), col("purchase_ts"), col("value"))

  /** Ingestion DEDUP, batch form: at-least-once delivery re-delivers
    * events, so the pipeline keeps one row per event_id before
    * aggregating (the doubled input simulates redelivery; duplicate
    * rows are bit-identical, so the keep-any semantics of
    * dropDuplicates stays deterministic).
    */
  def dedupEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    ev.unionByName(ev)
      .dropDuplicates("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** The streaming twin: dropDuplicatesWithinWatermark keyed on
    * event_id — redelivered events inside the watermark window are
    * suppressed with bounded state (the exactly-once ingest guard).
    */
  def dedupEventsStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming read over a GraftTable (Delta streaming-source shape,
    * append-only tables): a file stream over the table's data
    * directory — appends surface as new files; checkpointing gives
    * exactly-once. (COW rewrites would surface rewritten files too —
    * append-only is the supported streaming contract, as with Delta
    * sources without CDF; `changesSince` is the version-aware
    * primitive.)
    */
  def followTable(spark: SparkSession, tableRoot: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    // reader-feature gate (matching filesAddedIn / the registered
    // scan): this surface lists raw data files — it can neither mask
    // deletion-vector tombstones nor translate mapped column names,
    // so reading such a table here would resurrect deleted rows /
    // yield nulls. Checked at stream CONSTRUCTION only — a directory
    // listing has no per-batch commit hook, so the append-only
    // contract (no COW rewrites, no deleteMor, no renames while the
    // stream runs) remains the caller's, as with Delta's plain file
    // streams. The `graft-table` source is the enforced path.
    val t = graft.tables.GraftTable.load(spark, tableRoot)
    val v = t.latestVersion
    if (t.hasDvs(v))
      throw new UnsupportedOperationException(
        "followTable cannot read a table with active deletion vectors; " +
          "run purgeDvs()/compact() first or use the graft-table source")
    if (t.hasColumnMapping(v))
      throw new UnsupportedOperationException(
        "followTable cannot read a table with active column mapping " +
          "(RENAME/DROP COLUMN); use the graft-table source")
    spark.readStream.schema(schema).parquet(s"$tableRoot/files")
  }

  /** EXACTLY-ONCE streaming sink into a GraftTable: foreachBatch +
    * idempotent transactional append (`appendIfNew`, the Delta
    * txnAppId/txnVersion pattern). A replayed epoch after a restart
    * or sink-side failure commits nothing — the batch-id watermark
    * lives in the commit log, so the guarantee survives restarts.
    * Together with the `graft-table` source this closes the loop:
    * GraftTable → stream → GraftTable is end-to-end exactly-once.
    * The checkpoint path doubles as the transaction APP ID (Delta's
    * txnAppId): a second query with its own checkpoint gets its own
    * watermark, and a restart from the SAME checkpoint replays
    * against the same watermark — both without cross-query skips.
    */
  def streamToTable(stream: DataFrame, table: graft.tables.GraftTable,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, id: Long) =>
        table.appendIfNew(df, id, appId = checkpoint); ()
      }
      .start()

  /** Incremental file ingest (Auto Loader demo analog): Structured
    * Streaming file source over a directory; AvailableNow processes
    * exactly the new files since the last checkpoint and stops —
    * the "scheduled one-shot job" deployment mode from the demo.
    */
  def incrementalIngest(spark: SparkSession, rawDir: String,
      checkpoint: String, outTable: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val in = spark.readStream.schema(schema).parquet(rawDir)
    val q = in.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .format("parquet")
      .option("path", outTable)
      .start()
    q.awaitTermination()
  }

  /** CONTINUOUS CURATION — the complete training-data front door,
    * wired from the incremental pieces: arriving document files
    * stream in (AvailableNow cycle), every micro-batch is SCREENED
    * against the persisted dedup index, folded into the maintained
    * clustering, and only ADMITTED docs (no near-dup, or the cluster
    * survivor) append to the curated corpus table. Three exactly-once
    * layers compose, all keyed by the stream's epoch id: the index
    * appends (batch-keyed appendIfNew inside admitBatch), the cluster
    * merge (idempotent upsert), and the curated append (txn
    * watermark) — a crash at ANY point replays to the same state.
    *
    * `maxFilesPerTrigger` paces ADMISSION: the default takes the
    * whole backlog as one epoch (admission granularity = arrival
    * cycle, what the driver scenario's oracle replays); a bound
    * splits a backlog into bounded micro-batches, each admitted —
    * and exactly-once-keyed — on its own epoch id, so a 1M-file
    * backlog never becomes one giant batch. Verdicts are per-batch
    * correct either way (the clustering folds incrementally); note
    * the survivorship caveat on [[graft.operators.Dedup.admitBatch]]
    * — with UNORDERED arrival, splitting a cycle can admit both
    * members of a near-dup pair whose smaller id arrives later
    * (each was the survivor at its own admission time).
    *
    * `firstAdmittedWins` (DEFAULT since r14 — the safe survivorship
    * mode): each batch screens against the curated table's
    * pre-append ids and a cluster with an already-admitted member
    * never admits another, whatever the arrival order — the curated
    * table holds at most one member per cluster across out-of-order
    * cycles. Pass `false` for the legacy global-min rule (verdicts a
    * pure function of the pair set, independent of arrival order —
    * what a relational replay oracle can check), which double-admits
    * when a smaller-id near-dup arrives after its partner.
    *
    * `qualityGate` (a boolean Column over the incoming docs' own
    * columns — length floors, langid/quality-score thresholds):
    * failing docs get audited `reject` verdicts and never enter the
    * dedup index or the curated table — the quality-BEFORE-dedup
    * admission order every C4/Gopher-style pipeline runs (see
    * [[graft.operators.Dedup.admitBatch]]'s gate contract).
    *
    * `ivfIndexPath` (a BUILT IVF/IVF+PQ index whose schema the
    * arriving docs' `embedding` column feeds): every micro-batch
    * additionally screens SEMANTICALLY against the index — map-side
    * centroid assignment, within-cell cosine ≥ `semanticTau`
    * verdicts, pairs folded into the same clustering, batch vectors
    * ingested exactly-once per epoch — so semantic near-dups drop at
    * the gate instead of accumulating until the nightly SemDeDup
    * pass (see [[graft.operators.Dedup.admitBatch]]'s semantic
    * contract).
    */
  /** One spelling of a checkpoint location: the REAL path where the
    * filesystem can resolve it (symlinked respellings of one physical
    * directory must share an identity — the Spark stream under them
    * already shares its batch-id sequence), else the normalized
    * absolute path.
    */
  private def canonicalPath(p: String): String = {
    val path = java.nio.file.Paths.get(p)
    try path.toRealPath().toString
    catch {
      case _: java.io.IOException =>
        path.toAbsolutePath.normalize.toString
    }
  }

  /** The curation pipeline's identity for a checkpoint: the CANONICAL
    * path (respelling the same location — relative, ./-segmented, or
    * symlinked — must not change the ownership identity or any
    * watermark namespace — the exportStream lesson). Returns
    * (pipelineId, curated-append appId) — the appId is the id without
    * the ':' prefix.
    */
  private[graft] def curationPipelineId(checkpoint: String): (String, String) = {
    val canonical = canonicalPath(checkpoint)
    (":" + canonical, canonical)
  }

  def curationStream(spark: SparkSession, rawDir: String,
      checkpoint: String, indexPath: String, clustersPath: String,
      curated: graft.tables.GraftTable,
      maxFilesPerTrigger: Int = Int.MaxValue,
      firstAdmittedWins: Boolean = true,
      auditPath: Option[String] = None,
      qualityGate: Option[org.apache.spark.sql.Column] = None,
      ivfIndexPath: Option[String] = None,
      semanticTau: Double = 0.3): Long = {
    val schema = curated.snapshot().schema
    val cp = java.nio.file.Paths.get(checkpoint)
    java.nio.file.Files.createDirectories(cp)
    val (pipelineId, curatedAppId) =
      curationPipelineId(checkpoint)
    val q = spark.readStream.schema(schema)
      // the explicit option (even at the take-everything default)
      // pins the pacing so a session default or future source change
      // can never silently re-split a cycle
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(rawDir)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", cp.resolve("stream").toString)
      .foreachBatch { (df: DataFrame, id: Long) =>
        val e0 = System.nanoTime()
        val batch = df.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // a lost commit race inside the admission releases the
        // arrival cache too — Spark retries the epoch, and a strand
        // per retry is exactly the admitBatch failure-path lesson
        try {
        // firstAdmittedWins: the curated table's PRE-APPEND ids are
        // this batch's admitted set — at most one member per cluster
        // survives across epochs, whatever the arrival order (see
        // admitBatch's survivorship contract)
        val adm =
          if (firstAdmittedWins)
            Some(curated.snapshot().select(col("doc_id")))
          else None
        // with an audit path, verdicts additionally persist to the
        // audit GraftTable — its own exactly-once layer on the same
        // epoch id (a replayed epoch logs nothing twice)
        // per-checkpoint watermark scope for BOTH the audit and the
        // index appends: each pipeline (one checkpoint = one epoch-id
        // sequence from 0) keys its own exactly-once ledgers, so two
        // curationStreams sharing one index never mistake each
        // other's batch 0 for a replay (which would silently skip an
        // index append — lost signatures, near-dups admitted forever)
        // the verdicts frame from the logged variant arrives
        // PERSISTED — release it on EVERY exit (a throw in the kept
        // join / append / bookkeeping below would otherwise strand it
        // per streaming retry, the same failure-path leak class the
        // arrival-cache finally closes)
        var verdicts: Option[DataFrame] = None
        try {
        verdicts = Some(auditPath match {
          case Some(ap) => graft.operators.Dedup.admitBatchLogged(
            spark, indexPath, clustersPath, ap, batch, batchId = id,
            admitted = adm,
            auditAppId = s"audit$pipelineId",
            pipelineId = pipelineId, gate = qualityGate,
            ivfIndexPath = ivfIndexPath, semanticTau = semanticTau)
          case None => graft.operators.Dedup.admitBatch(spark,
            indexPath, clustersPath, batch, batchId = id, admitted = adm,
            pipelineId = pipelineId, gate = qualityGate,
            ivfIndexPath = ivfIndexPath, semanticTau = semanticTau)
        })
        val e1 = System.nanoTime()
        val kept = batch.join(
          verdicts.get.where(col("action") === "keep")
            .select(col("doc_id")),
          Seq("doc_id"))
        curated.appendIfNew(kept, id, appId = curatedAppId)
        val e2 = System.nanoTime()
        epochStages.put(checkpoint,
          graft.operators.Dedup.lastAdmitStages(pipelineId) ++
            Map("admit_sec" -> (e1 - e0) / 1e9,
              "append_sec" -> (e2 - e1) / 1e9))
        } finally {
          // no-op for the unlogged (lazy) variant
          verdicts.foreach(_.unpersist(): Unit)
        }
        } finally batch.unpersist()
        ()
      }
      .start()
    q.awaitTermination()
    curated.latestVersion
  }

  /** Driver scenario for [[curationStream]]: the 80% corpus arrives
    * as cycle 1 (screened against an empty index — intra-batch
    * near-dups already drop), the 20% as cycle 2, then an empty
    * replay cycle. The curated table must hold exactly the docs that
    * were SURVIVORS at their admission time: cycle-1 docs that are
    * minima of their component over the 80%-internal pair graph,
    * cycle-2 docs that are minima over the full pair graph — the
    * oracle replays both transitive closures relationally.
    */
  def curationScenario(spark: SparkSession, sfDir: String): DataFrame = {
    import java.nio.file.Files
    // a half-corpus slice keeps the integration scenario's bench
    // cost proportionate (the steady-state per-batch number is
    // dedup_admission's); the oracle mirrors the slice
    val docs = Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") % 2 === 0)
    val stage = Files.createTempDirectory("graft_curate_")
    val raw = stage.resolve("raw").toString
    val curated = graft.tables.GraftTable.create(spark,
      stage.resolve("curated").toString, docs.limit(0))
    val cp = stage.resolve("cp").toString
    val idx = stage.resolve("idx").toString
    val clusters = stage.resolve("clusters").toString
    // the scenario opts INTO the legacy global-min rule: its verdicts
    // are a pure function of the pair set (arrival-order-free), which
    // is what the DuckDB oracle replays relationally; the
    // firstAdmittedWins default is covered by StreamingSpec
    graft.sources.Ingest.stageBatch(
      docs.filter(col("doc_id") % 5 =!= 0), raw, "b1")
    curationStream(spark, raw, cp, idx, clusters, curated,
      firstAdmittedWins = false)
    graft.sources.Ingest.stageBatch(
      docs.filter(col("doc_id") % 5 === 0), raw, "b2")
    curationStream(spark, raw, cp, idx, clusters, curated,
      firstAdmittedWins = false)
    curationStream(spark, raw, cp, idx, clusters, curated,
      firstAdmittedWins = false) // replay
    curated.snapshot().select(col("doc_id"), col("n_chars"))
  }

  /** STREAMING shard export — the pipeline exit
    * ([[graft.operators.TextAnalysis.exportShardsIngest]]) as a
    * Structured Streaming sink: each AvailableNow micro-batch of
    * arriving docs lands its per-doc shard assignments exactly-once
    * under the stream's OWN epoch id (the engine's batch ids are
    * monotone per checkpoint, exactly the exporter's id contract), so
    * a sink-side crash replays the epoch into appendIfNew watermarks
    * that skip what already landed — the assignments table
    * accumulates to the one-shot [[graft.operators.TextAnalysis
    * .exportShards]] over everything that ever arrived (spec). The
    * doc_id-MONOTONE arrival contract carries over: each staged cycle
    * must sit above the previous one's max doc_id (the exporter
    * refuses loudly otherwise), the natural shape for an
    * append-only upstream that assigns increasing ids.
    */
  def exportStream(spark: SparkSession, rawDir: String,
      checkpoint: String, exportPath: String,
      shardTokens: Long = 2048L, bucketSize: Long = 4096L,
      maxFilesPerTrigger: Int = Int.MaxValue,
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : Unit = {
    val cp = java.nio.file.Paths.get(checkpoint)
    java.nio.file.Files.createDirectories(cp)
    // the pipeline identity derives from the CANONICAL checkpoint
    // path, not the raw string: respelling the same location
    // (relative vs absolute, trailing slash, ./ segments) must not
    // change the ownership identity or the appendIfNew watermark
    // namespace — that would lock a restarted export out of its own
    // state table
    val pipelineId = ":" + canonicalPath(checkpoint)
    // a continuous pipeline starting BEFORE the first file lands
    // passes the schema explicitly — batch inference over an empty
    // raw dir has nothing to infer from (and re-lists the dir on
    // every restart)
    val sch = schema.getOrElse(spark.read.parquet(rawDir).schema)
    val q = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(rawDir)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", cp.resolve("stream").toString)
      .foreachBatch { (df: DataFrame, id: Long) =>
        // an empty epoch (a cycle with no new files) must not reach
        // the exporter's empty-batch refusal — skipping it is safe
        // because an empty batch assigns nothing and advances nothing
        if (!df.isEmpty)
          graft.operators.TextAnalysis.exportShardsIngest(spark,
            exportPath, df, id, shardTokens, bucketSize,
            pipelineId = pipelineId): Unit
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** STREAMING EPOCH EXPORT — per-epoch training-order regeneration
    * under the exactly-once sink contract: epoch REQUESTS (rows
    * carrying an `epoch` id — the trainer's "give me epoch k" signal)
    * arrive as a file stream, and each requested epoch lands the FULL
    * seed-reshuffled export of the corpus
    * ([[graft.operators.TextAnalysis.exportShardsShuffled]] at
    * seed = epoch — an independent deterministic permutation per
    * epoch) into one assignments GraftTable, tagged by epoch.
    * Exactly-once is per EPOCH, not per stream batch: every epoch
    * rides its OWN `appendIfNew` watermark namespace, so a replayed
    * request re-lands nothing AND out-of-order requests (epoch 5
    * before 3) both land — a shared monotone watermark would silently
    * drop the late one. A crash between two epochs of one micro-batch
    * replays the cycle; the landed epoch skips, the missing one
    * lands. Scale shape: each epoch is the one-shot shuffled pack
    * (corpus-scaled hash-range fan-out re-sized per request CYCLE —
    * a long-lived stream over a growing corpus keeps its serial
    * in-bucket windows ~constant), the request stream adds only the
    * engine's epoch machinery. CORPUS SNAPSHOT semantics: each epoch
    * permutes the corpus AS OF its landing cycle — epochs landed at
    * different corpus states permute different corpora (correct
    * under the per-epoch watermarks; the per-epoch `epoch_meta`
    * ledger records which state each epoch saw). Note a plain
    * parquet-backed `docs` frame PINS its file listing at
    * construction — a caller re-invoking the stream over a growing
    * corpus passes a fresh frame per invocation (a GraftTable
    * snapshot likewise reflects the version it was loaded at).
    */
  def epochExportStream(spark: SparkSession, requestsDir: String,
      checkpoint: String, docs: DataFrame, exportPath: String,
      shardTokens: Long = 2048L, tokenizer: String = "ws",
      hashBuckets: Long = 0L): Unit = {
    import graft.tables.GraftTable
    val cp = java.nio.file.Paths.get(checkpoint)
    java.nio.file.Files.createDirectories(cp)
    val asgPath = java.nio.file.Paths.get(exportPath, "assignments")
      .toString
    // one pipeline (canonical checkpoint identity) OWNS an epoch-
    // export path: the per-epoch watermarks ('graft-epoch-export:<e>')
    // are table-global, so a SECOND pipeline's epoch k would silently
    // skip behind the owner's landed epoch — a trainer would read
    // pipeline A's permutation as pipeline B's data (the silent-
    // corruption class exportShardsIngest refuses). An ownerless
    // path is claimable ONLY while nothing has landed — adopting a
    // path with landed epochs would bless exactly that corruption
    // for whoever touches it first, so it refuses with the manual
    // migration step instead.
    locally {
      import spark.implicits._
      val pid = canonicalPath(checkpoint)
      val ownerPath = java.nio.file.Paths.get(exportPath, "owner")
      val hasOwner = java.nio.file.Files.exists(
        ownerPath.resolve("_graft_log"))
      if (!hasOwner &&
          java.nio.file.Files.exists(
            java.nio.file.Paths.get(asgPath, "_graft_log"))) {
        val landed = GraftTable.load(spark, asgPath)
          .rowCount.getOrElse(
            GraftTable.load(spark, asgPath).snapshot().count())
        require(landed == 0L,
          s"epochExportStream: the export at $exportPath has landed " +
            "epochs but no owner marker — claiming it blind could " +
            "serve another pipeline's permutation as this one's " +
            "data; the original owner must create <path>/owner (a " +
            "one-row GraftTable with its canonical checkpoint in a " +
            "'pipeline' column) to migrate")
      }
      val ownerT = GraftTable.createIfAbsent(spark,
        ownerPath.toString, Seq(pid).toDF("pipeline"))
      val owners = ownerT.snapshot().select(col("pipeline"))
        .distinct().collect().map(_.getString(0))
      require(owners.sameElements(Array(pid)),
        s"epochExportStream: the epoch export at $exportPath is " +
          s"owned by pipeline '${owners.mkString(",")}' — a second " +
          "pipeline must export to its own path (its epochs would " +
          "silently skip behind the owner's landed epoch watermarks)")
    }
    // request-file contract: `epoch` must be physical INT64 (what
    // stageBatch lands). A foreign writer emitting INT32 fails the
    // vectorized read INSIDE the stream and the poisoned file
    // replays on every restart — unlike a null epoch (skipped
    // below), a wrong physical type is not detectable row-wise, so
    // the contract is documented rather than silently widened.
    val q = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("epoch",
          org.apache.spark.sql.types.LongType))))
      .parquet(requestsDir)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", cp.resolve("stream").toString)
      .foreachBatch { (reqs: DataFrame, _: Long) =>
        // a null epoch in a request file must not wedge the stream
        // (the failed micro-batch would replay the same poisoned file
        // on every restart) — skip it; a null requests nothing
        val epochs = reqs.where(col("epoch").isNotNull)
          .select(col("epoch")).distinct()
          .collect().map(_.getLong(0)).sorted
        if (epochs.nonEmpty) {
          // re-size the hash-range fan-out per CYCLE, not per
          // process: a long-lived epoch series re-invokes this
          // stream with a fresh docs frame as the corpus grows, and
          // each invocation's bucket count must match ITS corpus or
          // the serial in-bucket windows degrade proportionally. The
          // count is LAZY: at most one column-pruned scan per cycle,
          // and a pure-replay cycle (every requested epoch already
          // landed) pays none — its meta repair reads landed rows,
          // never the live corpus.
          lazy val nDocs = docs.count()
          lazy val hb = if (hashBuckets == 0L)
            graft.operators.TextAnalysis.autoHashBuckets(nDocs)
          else hashBuckets
          import spark.implicits._
          val metaT = GraftTable.createIfAbsent(spark,
            java.nio.file.Paths.get(exportPath, "epoch_meta").toString,
            Seq.empty[(Long, Long, Long)]
              .toDF("epoch", "hash_buckets", "n_docs"))
          epochs.foreach { e =>
            // schema-only frame for the create (bucket count is
            // value-level, schema-invariant — 1L avoids forcing the
            // lazy corpus count on a replay)
            val t = GraftTable.createIfAbsent(spark, asgPath,
              graft.operators.TextAnalysis
                .exportShardsShuffled(docs.limit(0), shardTokens,
                  seed = e, tokenizer, 1L)
                .withColumn("epoch", lit(e)).limit(0))
            val landedBefore =
              t.lastStreamBatchId(s"graft-epoch-export:$e") >= 0L
            if (!landedBefore)
              t.appendIfNew(graft.operators.TextAnalysis
                  .exportShardsShuffled(docs, shardTokens, seed = e,
                    tokenizer, hb)
                  .withColumn("epoch", lit(e)), 0L,
                appId = s"graft-epoch-export:$e"): Unit
            // the per-epoch META row — which corpus state the epoch's
            // LANDED content reflects (the ops/debug glance, and the
            // observable the recount spec pins). A replayed epoch
            // must NOT stamp the replay cycle's corpus: if the
            // assignments landed in an earlier cycle (a crash between
            // the two appends), the truthful
            // state is re-derived from the landed rows themselves —
            // each doc lands once per epoch, so the epoch's row count
            // IS the corpus size its permutation covered.
            if (metaT.lastStreamBatchId(s"graft-epoch-meta:$e") < 0L) {
              val (mHb, mN) =
                if (!landedBefore) (hb, nDocs)
                else {
                  val n = GraftTable.load(spark, asgPath)
                    .snapshotCandidates(col("epoch") === e)
                    .where(col("epoch") === e).count()
                  // the landed corpus size is re-derivable from the
                  // rows (each doc lands once per epoch), but the
                  // LANDING cycle's bucket-count MODE is not: the
                  // replay cycle running auto does not prove the
                  // landing cycle wasn't pinned (and vice versa) —
                  // the bucketing is value-invisible, so the rows
                  // carry no witness either way. The repair records
                  // -1 = unknown unconditionally rather than attest
                  // a fan-out the landing cycle may never have used.
                  (-1L, n)
                }
              metaT.appendIfNew(
                Seq((e, mHb, mN))
                  .toDF("epoch", "hash_buckets", "n_docs"),
                0L, appId = s"graft-epoch-meta:$e"): Unit
            }
          }
        }
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** Per-(epoch, shard) manifest over a landed epoch export. */
  def epochManifest(spark: SparkSession, exportPath: String): DataFrame =
    graft.tables.GraftTable.load(spark,
        java.nio.file.Paths.get(exportPath, "assignments").toString)
      .snapshot()
      .groupBy(col("epoch"), col("shard_id"))
      .agg(count(lit(1)).cast("int").as("n_docs"),
        sum(col("n_tokens")).as("shard_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))

  private val epochExportStages =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** Driver scenario for [[epochExportStream]]: epochs 0 and 1
    * requested across two cycles, plus a replay cycle re-requesting
    * epoch 1 (re-lands nothing); the per-(epoch, shard) manifest must
    * equal the two one-shot seeded exports — the oracle replays both
    * permutations and unions them.
    */
  def epochExportScenario(spark: SparkSession, sfDir: String,
      shardTokens: Long = 2048L): DataFrame = {
    val stage = epochExportStages.computeIfAbsent(
      s"$sfDir:$shardTokens", { _ =>
        import spark.implicits._
        val docs = Tables.load(spark, sfDir, "documents")
        val p = java.nio.file.Files.createTempDirectory("graft_epochs_")
        val reqs = p.resolve("reqs").toString
        val cp = p.resolve("cp").toString
        val exp = p.resolve("export").toString
        // requests land whole via the SHARED write-then-move staging
        // (Ingest.stageBatch — the file-source discipline every
        // streaming scenario here uses)
        def request(name: String, epochs: Long*): Unit =
          graft.sources.Ingest.stageBatch(
            epochs.toSeq.toDF("epoch"), reqs, name)
        request("c1", 0L)
        epochExportStream(spark, reqs, cp, docs, exp, shardTokens)
        request("c2", 1L)
        epochExportStream(spark, reqs, cp, docs, exp, shardTokens)
        // the replay cycle: a fresh request FILE re-naming epoch 1 —
        // the stream consumes it, the epoch watermark skips it
        request("c3", 1L)
        epochExportStream(spark, reqs, cp, docs, exp, shardTokens)
        p
      })
    epochManifest(spark, stage.resolve("export").toString)
  }

  private val exportStreamStages =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** Driver scenario for [[exportStream]]: the corpus arrives as 3
    * doc_id-monotone cycles plus an empty replay cycle; the
    * accumulated assignments must equal the one-shot export, so the
    * manifest shares the `text_export_shards` oracle. Staged once per
    * process (the `sqlLifecycleStages` convention) so repeated
    * invocations time the manifest serve.
    */
  def exportStreamScenario(spark: SparkSession, sfDir: String,
      shardTokens: Long = 2048L): DataFrame = {
    val stage = exportStreamStages.computeIfAbsent(
      s"$sfDir:$shardTokens", { _ =>
        val docs = Tables.load(spark, sfDir, "documents")
        val p = java.nio.file.Files.createTempDirectory("graft_expstr_")
        val raw = p.resolve("raw").toString
        val cp = p.resolve("cp").toString
        val exp = p.resolve("export").toString
        graft.sources.Ingest.stageBatch(
          docs.where(col("doc_id") < 170), raw, "b1")
        exportStream(spark, raw, cp, exp, shardTokens)
        graft.sources.Ingest.stageBatch(
          docs.where(col("doc_id") >= 170 && col("doc_id") < 340),
          raw, "b2")
        exportStream(spark, raw, cp, exp, shardTokens)
        graft.sources.Ingest.stageBatch(
          docs.where(col("doc_id") >= 340), raw, "b3")
        exportStream(spark, raw, cp, exp, shardTokens)
        // a cycle with nothing new: no epoch fires, nothing lands
        exportStream(spark, raw, cp, exp, shardTokens)
        p
      })
    graft.operators.TextAnalysis.shardManifest(
      graft.tables.GraftTable.load(spark,
        stage.resolve("export").resolve("assignments").toString)
        .snapshot())
  }

  private val packStreamStages =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** STREAMING sequence packing — [[exportStream]] run at budget =
    * seqLen (a seqLen-token shard boundary and a training-sequence
    * cut are the same arithmetic, so the exactly-once export sink IS
    * the pack's continuation state) with the per-sequence manifest
    * served from the accumulated assignments
    * ([[graft.operators.TextAnalysis.packIngestManifest]]). Scenario:
    * 3 doc_id-monotone cycles + one empty cycle; the manifest must
    * equal the one-shot [[graft.operators.TextAnalysis.seqManifest]],
    * whose oracle it shares.
    */
  def packStreamScenario(spark: SparkSession, sfDir: String,
      seqLen: Long = 512L): DataFrame = {
    val stage = packStreamStages.computeIfAbsent(s"$sfDir:$seqLen",
      { _ =>
        val docs = Tables.load(spark, sfDir, "documents")
        val p = java.nio.file.Files.createTempDirectory("graft_packstr_")
        val raw = p.resolve("raw").toString
        val cp = p.resolve("cp").toString
        val pack = p.resolve("pack").toString
        graft.sources.Ingest.stageBatch(
          docs.where(col("doc_id") < 170), raw, "b1")
        exportStream(spark, raw, cp, pack, shardTokens = seqLen)
        graft.sources.Ingest.stageBatch(
          docs.where(col("doc_id") >= 170 && col("doc_id") < 340),
          raw, "b2")
        exportStream(spark, raw, cp, pack, shardTokens = seqLen)
        graft.sources.Ingest.stageBatch(
          docs.where(col("doc_id") >= 340), raw, "b3")
        exportStream(spark, raw, cp, pack, shardTokens = seqLen)
        // a cycle with nothing new: no epoch fires, nothing lands
        exportStream(spark, raw, cp, pack, shardTokens = seqLen)
        p
      })
    graft.operators.TextAnalysis.packIngestManifest(spark,
      stage.resolve("pack").toString, seqLen)
  }

  /** STREAMING twin of the evolving autoloader
    * (graft.sources.Ingest.incrementalLoadEvolving — Auto Loader's
    * cloudFiles schemaLocation/schemaEvolutionMode/_rescued_data
    * trio): one call = one Auto-Loader "run" — a Structured Streaming
    * AvailableNow cycle that sinks exactly-once into a GraftTable.
    *
    * Schema detection mirrors Auto Loader's restart model: BEFORE the
    * stream starts, the driver reads only the NEW files' parquet
    * footers (O(new files) metadata, no data I/O) against the tracked
    * `schema.json`; `addNewColumns` evolves it additively (the
    * restarted-stream-picks-up-the-new-schema behavior, minus the
    * crash), `rescue` freezes it, `failOnNewColumns` throws WITHOUT
    * advancing anything — the cycle replays after the operator
    * reacts. The stream then reads with the batch's merged schema and
    * applies the SAME projection kernel as the batch loader
    * (Ingest.evolveAndProject): tracked columns pass/null/try_cast,
    * everything unconvertible or frozen-out lands in `_rescued_data`.
    *
    * Exactly-once is two independent ledgers that only ever err
    * toward replay: the stream checkpoint dedups source FILES, and
    * the sink appends via `appendIfNew` (txnAppId/batch-id watermark)
    * so a replayed epoch after a sink-side crash is a no-op. The sink
    * table evolves additively with the feed (`evolve = true`).
    * Ordering is schema → stream → detection ledger: any crash
    * between steps re-runs against an already-evolved schema
    * (idempotent union), never drops rows under a stale one.
    *
    * Returns the sink table's version after the cycle.
    */
  def incrementalIngestEvolving(spark: SparkSession, rawDir: String,
      checkpoint: String, sink: graft.tables.GraftTable,
      mode: String = "addNewColumns"): Long = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import graft.sources.Ingest
    val cp = Paths.get(checkpoint)
    Files.createDirectories(cp)
    val schemaFile = cp.resolve("schema.json")
    val detectLedger = cp.resolve("schema_seen.txt")
    val seen = Ingest.readLedger(detectLedger)
    val all = Ingest.listParquet(rawDir)
    val fresh = all.filterNot(seen)
    val tracked = Ingest.readTrackedSchema(schemaFile)
    if (fresh.isEmpty && tracked.isEmpty)
      throw new IllegalArgumentException(s"no parquet files in $rawDir")
    if (fresh.isEmpty) return sink.latestVersion // nothing new: no-op
    // footer-only schema detection over the new files
    val incoming = spark.read.option("mergeSchema", "true")
      .parquet(fresh: _*).schema
    // failOnNewColumns throws HERE — no schema published, no ledger
    // advanced, no stream started: the cycle replays cleanly
    val (evolved, projection) =
      Ingest.evolveAndProject(tracked, incoming, mode)
    Ingest.publishSchema(cp, schemaFile, evolved)
    // ADMITTED-FILES staging closes the detection/stream race: the
    // stream reads a checkpoint-owned dir that only ever holds files
    // the detection pass ALREADY saw (hard-linked here, name salted
    // by source path so distinct staging dirs never collide). A file
    // landing in rawDir after the listing above is simply invisible
    // until the next cycle detects it — it can never be consumed
    // under a stale projection.
    val admitted = cp.resolve("admitted")
    Files.createDirectories(admitted)
    fresh.foreach { f =>
      val src = Paths.get(f)
      val salt = java.security.MessageDigest.getInstance("MD5")
        .digest(f.getBytes("UTF-8")).take(6)
        .map("%02x".format(_)).mkString
      val target = admitted.resolve(s"$salt-${src.getFileName}")
      // hard-link where the filesystem allows it, copy otherwise:
      // besides UnsupportedOperationException, a raw dir and
      // checkpoint on DIFFERENT filesystems throws FileSystemException
      // (EXDEV) — any IOException from the link attempt falls back
      // (a copy failure then propagates honestly)
      if (!Files.exists(target))
        try Files.createLink(target, src)
        catch {
          case _: UnsupportedOperationException | _: java.io.IOException =>
            Files.copy(src, target)
        }
    }
    // the stream reads the admitted dir with the batch's merged
    // schema: its checkpoint has already consumed every older
    // admitted file, so this schema is only ever applied to the new
    // files it matches (a column missing from an individual footer
    // reads null, Spark parquet semantics)
    val in = spark.readStream.schema(incoming).parquet(admitted.toString)
    // sink watermark namespace: the CANONICAL checkpoint path — a
    // respelled checkpoint (relative vs absolute, ./-segmented,
    // symlinked) resolves to the same Spark stream checkpoint and
    // batch-id sequence, so a raw-string appId would split the
    // exactly-once namespace and re-land a replayed batch under the
    // new spelling (the exportStream lesson)
    val appId = canonicalPath(checkpoint)
    val q = in.select(projection: _*).writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        cp.resolve("stream").toString)
      .foreachBatch { (df: DataFrame, id: Long) =>
        sink.appendIfNew(df, id, appId = appId, evolve = true); ()
      }
      .start()
    q.awaitTermination()
    Files.write(detectLedger, (seen ++ fresh).toSeq.sorted.asJava)
    sink.latestVersion
  }
}
