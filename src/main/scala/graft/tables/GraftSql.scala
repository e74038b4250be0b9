package graft.tables

import org.apache.spark.sql.{Column, DataFrame, GraftPlans, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical._

/** SQL-string DML over catalog-registered graft tables — the
  * reference's day-one surface (`DELETE FROM loans WHERE ...`,
  * Instructor/01-Fraud-Delta.py:159; `MERGE INTO` :218-241; SQL
  * UPDATE). Spark's own parser produces DeleteFromTable /
  * UpdateTable / MergeIntoTable logical plans but its analyzer only
  * accepts them for DSv2 writable tables, so `GraftSql.sql`
  * intercepts those three BEFORE analysis, resolves the target
  * through the session catalog (any `CREATE TABLE ... USING
  * graft-table` table), rewrites the parsed expressions into the
  * GraftTable clause API, and executes the transactional
  * copy-on-write DML. Every other statement passes straight to
  * `spark.sql` — so this is a drop-in `sql()` for mixed workloads.
  *
  * All heavy lifting stays in [[GraftTable]]'s file-granular COW
  * paths; the dispatcher itself is O(statement) parsing.
  */
object GraftSql {

  // Delta's table-utility SQL surface (all used by the reference:
  // DESCRIBE HISTORY 01-Fraud-Delta.py:214, OPTIMIZE/ZORDER :288-289,
  // VACUUM/RESTORE are the same family). Spark's parser has no
  // grammar for these, so they dispatch on shape before parsing.
  private val DescribeHistoryLimit =
    """(?is)\s*DESCRIBE\s+HISTORY\s+([\w.`]+)\s+LIMIT\s+(\d+)\s*""".r
  private val DescribeHistory =
    """(?is)\s*DESCRIBE\s+HISTORY\s+([\w.`]+)\s*""".r
  private val OptimizeWhereZorder =
    """(?is)\s*OPTIMIZE\s+([\w.`]+)\s+WHERE\s+(.+?)\s+ZORDER\s+BY\s*\(([^)]+)\)\s*""".r
  private val OptimizeZorder =
    """(?is)\s*OPTIMIZE\s+([\w.`]+)\s+ZORDER\s+BY\s*\(([^)]+)\)\s*""".r
  private val OptimizeWhere =
    """(?is)\s*OPTIMIZE\s+([\w.`]+)\s+WHERE\s+(.+?)\s*""".r
  private val Optimize =
    """(?is)\s*OPTIMIZE\s+([\w.`]+)\s*""".r
  private val CopyInto =
    """(?is)\s*COPY\s+INTO\s+([\w.`]+)\s+FROM\s+'([^']+)'(?:\s+FILEFORMAT\s*=\s*PARQUET)?\s*""".r
  private val VacuumRetainHoursDry =
    """(?is)\s*VACUUM\s+([\w.`]+)\s+RETAIN\s+(\d+(?:\.\d+)?)\s+HOURS\s+DRY\s+RUN\s*""".r
  private val VacuumRetainHours =
    """(?is)\s*VACUUM\s+([\w.`]+)\s+RETAIN\s+(\d+(?:\.\d+)?)\s+HOURS\s*""".r
  private val VacuumRetainDry =
    """(?is)\s*VACUUM\s+([\w.`]+)\s+RETAIN\s+(\d+)\s+VERSIONS\s+DRY\s+RUN\s*""".r
  private val VacuumDry =
    """(?is)\s*VACUUM\s+([\w.`]+)\s+DRY\s+RUN\s*""".r
  private val VacuumRetain =
    """(?is)\s*VACUUM\s+([\w.`]+)\s+RETAIN\s+(\d+)\s+VERSIONS\s*""".r
  private val Vacuum =
    """(?is)\s*VACUUM\s+([\w.`]+)\s*""".r
  private val RestoreVersion =
    """(?is)\s*RESTORE\s+TABLE\s+([\w.`]+)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*""".r
  private val RestoreTimestamp =
    """(?is)\s*RESTORE\s+TABLE\s+([\w.`]+)\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*""".r
  private val ShallowClone =
    """(?is)\s*CREATE\s+TABLE\s+([\w.`]+)\s+SHALLOW\s+CLONE\s+([\w.`]+)\s+LOCATION\s+'([^']+)'\s*""".r
  private val ShallowCloneVersion =
    """(?is)\s*CREATE\s+TABLE\s+([\w.`]+)\s+SHALLOW\s+CLONE\s+([\w.`]+)\s+VERSION\s+AS\s+OF\s+(\d+)\s+LOCATION\s+'([^']+)'\s*""".r
  // DEEP CLONE: self-contained copy — survives source VACUUM, DML
  // never crosses (plain `CLONE` = Delta's default, which is deep)
  private val DeepClone =
    """(?is)\s*CREATE\s+TABLE\s+([\w.`]+)\s+(?:DEEP\s+)?CLONE\s+([\w.`]+)\s+LOCATION\s+'([^']+)'\s*""".r
  private val DeepCloneVersion =
    """(?is)\s*CREATE\s+TABLE\s+([\w.`]+)\s+(?:DEEP\s+)?CLONE\s+([\w.`]+)\s+VERSION\s+AS\s+OF\s+(\d+)\s+LOCATION\s+'([^']+)'\s*""".r
  // Delta's guarded selective overwrite (`INSERT INTO t REPLACE WHERE
  // cond SELECT ...`): delete the cond slice, insert the query's rows
  // (each validated against cond), one atomic commit
  private val InsertReplaceWhere =
    """(?is)\s*INSERT\s+INTO\s+([\w.`]+)\s+REPLACE\s+WHERE\s+(.+?)\s+(SELECT\b.+)""".r
  // column mapping DDL (Delta ALTER TABLE analogs): O(1) metadata
  // commits on the graft log, no files rewritten
  private val RenameColumnSql =
    """(?is)\s*ALTER\s+TABLE\s+([\w.`]+)\s+RENAME\s+COLUMN\s+`?([\w]+)`?\s+TO\s+`?([\w]+)`?\s*""".r
  private val DropColumnSql =
    """(?is)\s*ALTER\s+TABLE\s+([\w.`]+)\s+DROP\s+COLUMN\s+`?([\w]+)`?\s*""".r
  // constraint / properties / detail DDL (Delta table-utility analogs)
  private val AddConstraintSql =
    """(?is)\s*ALTER\s+TABLE\s+([\w.`]+)\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.+)\)\s*""".r
  private val DropConstraintSql =
    """(?is)\s*ALTER\s+TABLE\s+([\w.`]+)\s+DROP\s+CONSTRAINT\s+(\w+)\s*""".r
  private val SetTblPropsSql =
    """(?is)\s*ALTER\s+TABLE\s+([\w.`]+)\s+SET\s+TBLPROPERTIES\s*\((.+)\)\s*""".r
  private val ShowTblPropsSql =
    """(?is)\s*SHOW\s+TBLPROPERTIES\s+([\w.`]+)\s*""".r
  private val DescribeDetail =
    """(?is)\s*DESCRIBE\s+DETAIL\s+([\w.`]+)\s*""".r
  private val ShowPartitionsSql =
    """(?is)\s*SHOW\s+PARTITIONS\s+([\w.`]+)\s*""".r
  private val FsckTable =
    """(?is)\s*FSCK\s+TABLE\s+([\w.`]+)\s*""".r
  // CTAS with a physical layout (v1 CreatableRelationProvider cannot
  // receive partitioning/bucketing, so these dispatch on shape)
  private val CreatePartitionedCtas =
    """(?is)\s*CREATE\s+TABLE\s+([\w.`]+)\s+USING\s+`?graft-table`?\s+PARTITIONED\s+BY\s*\(([^)]+)\)\s+LOCATION\s+'([^']+)'\s+AS\s+(SELECT\b.+)""".r
  private val CreateBucketedCtas =
    """(?is)\s*CREATE\s+TABLE\s+([\w.`]+)\s+USING\s+`?graft-table`?\s+CLUSTERED\s+BY\s*\(([^)]+)\)\s+INTO\s+(\d+)\s+BUCKETS\s+LOCATION\s+'([^']+)'\s+AS\s+(SELECT\b.+)""".r
  // incrementally maintained aggregate view (Databricks SQL's
  // CREATE/REFRESH MATERIALIZED VIEW shape, restricted to the
  // maintainable grammar: keys, SUM/MIN/MAX(col), COUNT(*))
  private val CreateMatView =
    """(?is)\s*CREATE\s+MATERIALIZED\s+VIEW\s+([\w.`]+)\s+LOCATION\s+'([^']+)'\s+AS\s+SELECT\s+(.+?)\s+FROM\s+([\w.`]+)((?:\s+(?:LEFT\s+)?JOIN\s+[\w.`]+\s+ON\s+[\w.`]+\s*=\s*[\w.`]+)*)\s+GROUP\s+BY\s+(.+?)\s*""".r
  private val MvJoinClause =
    """(?is)(LEFT\s+)?JOIN\s+([\w.`]+)\s+ON\s+([\w.`]+)\s*=\s*([\w.`]+)""".r
  private val RefreshMatView =
    """(?is)\s*REFRESH\s+MATERIALIZED\s+VIEW\s+([\w.`]+)\s*""".r
  // Delta-Live-Tables-style continuous maintenance: start/stop a
  // background CDC-triggered refresh loop for a maintained view
  private val RefreshMatViewContinuous =
    """(?is)\s*REFRESH\s+MATERIALIZED\s+VIEW\s+([\w.`]+)\s+CONTINUOUS(?:\s+EVERY\s+'([^']+)')?\s*""".r
  private val StopRefreshMatView =
    """(?is)\s*STOP\s+REFRESH\s+MATERIALIZED\s+VIEW\s+([\w.`]+)\s*""".r
  // index-maintenance SQL (the ops spelling of Dedup.maintainIndex /
  // Similarity.maintainIndex and their lease-arbitrated continuous
  // loops): targets are PATHS (indexes are path-rooted state, not
  // catalog tables)
  private val MaintainDedupIndexContinuous =
    """(?is)\s*MAINTAIN\s+DEDUP\s+INDEX\s+'([^']+)'((?:\s+(?:CLUSTERS|CURATED)\s+'[^']+')*)\s+CONTINUOUS(?:\s+EVERY\s+'([^']+)')?\s*""".r
  private val MaintainDedupIndex =
    """(?is)\s*MAINTAIN\s+DEDUP\s+INDEX\s+'([^']+)'((?:\s+(?:CLUSTERS|CURATED)\s+'[^']+')*)\s*""".r
  private val MaintainAnnIndexContinuous =
    """(?is)\s*MAINTAIN\s+ANN\s+INDEX\s+'([^']+)'((?:\s+(?:REBALANCE\s+THRESHOLD|RECALL\s+(?:FLOOR|NPROBE|QUERIES))\s+[0-9.eE+-]+)*)\s+CONTINUOUS(?:\s+EVERY\s+'([^']+)')?\s*""".r
  private val MaintainAnnIndex =
    """(?is)\s*MAINTAIN\s+ANN\s+INDEX\s+'([^']+)'((?:\s+(?:REBALANCE\s+THRESHOLD|RECALL\s+(?:FLOOR|NPROBE|QUERIES))\s+[0-9.eE+-]+)*)\s*""".r
  private val AnnMaintOpt =
    """(?is)(REBALANCE\s+THRESHOLD|RECALL\s+(?:FLOOR|NPROBE|QUERIES))\s+([0-9.eE+-]+)""".r
  private val StopMaintainIndex =
    """(?is)\s*STOP\s+MAINTAIN\s+INDEX\s+'([^']+)'\s*""".r
  private val MaintainOpt = """(?is)(CLUSTERS|CURATED)\s+'([^']+)'""".r
  // index CREATION + INGESTION SQL (closing the loop with MAINTAIN:
  // the SQL-first operator can now build, feed, maintain and — via
  // the ann_search() TVF — query an index without touching the Scala
  // API). Index targets are PATHS; the source is a registered table
  // name or a quoted path (graft table if a log exists, else parquet)
  private val CreateDedupIndex =
    """(?is)\s*CREATE\s+DEDUP\s+INDEX\s+'([^']+)'\s+ON\s+(?:'([^']+)'|([\w.`]+))\s*""".r
  private val CreateAnnIndex =
    """(?is)\s*CREATE\s+ANN\s+INDEX\s+'([^']+)'\s+ON\s+(?:'([^']+)'|([\w.`]+))(\s+USING\s+IVF_PQ)?\s*""".r
  private val IngestDedupIndex =
    """(?is)\s*INGEST\s+INTO\s+DEDUP\s+INDEX\s+'([^']+)'\s+FROM\s+(?:'([^']+)'|([\w.`]+))(?:\s+BATCH\s+(\d+))?\s*""".r
  private val IngestAnnIndex =
    """(?is)\s*INGEST\s+INTO\s+ANN\s+INDEX\s+'([^']+)'\s+FROM\s+(?:'([^']+)'|([\w.`]+))(?:\s+BATCH\s+(\d+))?\s*""".r
  // the pipeline exit as a statement, all three forms:
  //   BATCH <id>  → exactly-once incremental export
  //     (TextAnalysis.exportShardsIngest); the batch's per-doc
  //     assignments are the result rows
  //   (no BATCH)  → one-shot pack (exportShards) — lands the per-doc
  //     assignments as a GraftTable at <to>/assignments and returns
  //     the per-shard MANIFEST rows (the trainer's artifact)
  //   SHUFFLED    → one-shot in training order (exportShardsShuffled:
  //     the deterministic md5 permutation that breaks adjacent-doc
  //     correlation before packing)
  // BUDGET = tokens per shard; BUCKET SIZE = docs per prefix-sum
  // bucket (the scale knob for the distributed cumsum's panes);
  // TOKENIZER ws|bpe = the budget-accounting measure (one-shot forms
  // only — an incremental export's stored offsets are measure-bound);
  // SEED reparameterizes the SHUFFLED permutation (epoch reshuffle);
  // MATERIALIZE additionally lands the shard CONTENT under
  // <to>/shards (parquet partitioned by shard_id, training order
  // inside each file) — the artifact a trainer consumes
  // BUCKET COUNT pins the SHUFFLED form's hash-range fan-out (0/absent
  // = auto-sized to the corpus — see TextAnalysis.hashBucketWidth);
  // the doc_id-ordered forms size their fan-out by BUCKET SIZE instead
  private val ExportShardsSql =
    """(?is)\s*EXPORT\s+SHARDS\s+TO\s+'([^']+)'\s+FROM\s+(?:'([^']+)'|([\w.`]+))(?:\s+BUDGET\s+(\d+))?(?:\s+BUCKET\s+SIZE\s+(\d+))?(?:\s+TOKENIZER\s+(\w+))?(?:\s+BATCH\s+(\d+))?(\s+SHUFFLED)?(?:\s+SEED\s+(\d+))?(?:\s+BUCKET\s+COUNT\s+(\d+))?(\s+MATERIALIZE)?\s*""".r
  // the MIXTURE form of the pipeline exit: per-domain weights
  // (repetition with an md5 coin for the fractional part —
  // TextAnalysis.mixtureResample) feed the per-copy shuffled pack
  // (exportShardsMixture); DEFAULT is the weight of unlisted domains,
  // SEED redraws both the coin and the permutation (epoch reshuffle).
  // Inherently one-shot and hash-ordered, so BATCH / SHUFFLED /
  // BUCKET SIZE never appear in this spelling; BUCKET COUNT pins the
  // hash-range fan-out (absent = auto-sized to the copy count) and
  // MATERIALIZE additionally lands each copy's shard CONTENT under
  // <to>/shards in training order — the artifact a trainer reads
  private val ExportShardsMixtureSql =
    """(?is)\s*EXPORT\s+SHARDS\s+TO\s+'([^']+)'\s+FROM\s+(?:'([^']+)'|([\w.`]+))(?:\s+BUDGET\s+(\d+))?(?:\s+TOKENIZER\s+(\w+))?\s+MIXTURE\s*\(([^)]*)\)(?:\s+DEFAULT\s+([0-9.]+))?(?:\s+SEED\s+(\d+))?(?:\s+BUCKET\s+COUNT\s+(\d+))?(\s+MATERIALIZE)?\s*""".r
  private val MixtureWeight = """(?is)'([^']+)'\s+([0-9.]+)""".r
  // sequence packing as a statement: the per-doc span frame (the
  // attention-mask/provenance metadata), with MANIFEST the
  // per-sequence rollup (both pure queries, no landing), with
  // MATERIALIZE TO the training batches themselves — sequence rows
  // with assembled token content land at the path and the statement
  // returns the manifest RE-DERIVED from the landed text — and with
  // MATERIALIZE TO ... IDS the token-ID form (arrays of vocabulary
  // ids instead of text; VOCAB SIZE caps the induced vocabulary,
  // UNK = 0) — the form that accepts ANY tokenizer, since id slicing
  // needs no textual re-assembly: ws|bpe land whole-token ids,
  // TOKENIZER vp lands SUBWORD ids (segment ids under the induced
  // gram vocabulary). VOCAB FROM <table|'path'> supplies an
  // externally-trained (token, id) table instead of inducing one —
  // a production tokenizer's vocab drives the pack without
  // re-induction (grams for vp, whole tokens for ws|bpe). SCOPE: a
  // plain (token, id) table applies by GREEDY LONGEST MATCH
  // (WordPiece-style inference) — for a BPE-trained vocabulary that
  // can segment differently than the tokenizer itself would; carry
  // the merge pairs as left/right columns (bpeInduct's shape, or an
  // exported merges.txt joined on) and the pack applies them in
  // MERGE ORDER instead, reproducing the tokenizer's own ids.
  // MIXTURE composes the epochs-per-domain resample + per-copy
  // shuffle INTO the token-ID pack (packTokensMixtureMaterialize —
  // the complete loader artifact); it requires MATERIALIZE + IDS and
  // takes the mixture form's DEFAULT/SEED knobs
  private val PackSequencesSql =
    """(?is)\s*PACK\s+SEQUENCES\s+FROM\s+(?:'([^']+)'|([\w.`]+))(?:\s+LENGTH\s+(\d+))?(?:\s+TOKENIZER\s+(\w+))?(?:\s+MIXTURE\s*\(([^)]*)\))?(?:\s+DEFAULT\s+([0-9.]+))?(?:\s+SEED\s+(\d+))?(\s+MANIFEST)?(?:\s+MATERIALIZE\s+TO\s+'([^']+)')?(\s+IDS)?(?:\s+VOCAB\s+SIZE\s+(\d+))?(?:\s+VOCAB\s+FROM\s+(?:'([^']+)'|([\w.`]+)))?(?:\s+BATCH\s+(\d+))?\s*""".r
  // index INTROSPECTION: one metrics row per index — the ops glance
  // (family, size, skew) without touching the Scala API
  private val DescribeAnnIndex =
    """(?is)\s*DESCRIBE\s+ANN\s+INDEX\s+'([^']+)'\s*""".r
  // the export ledger as a statement: one row per landed batch
  // (id, running token offset, doc-id watermark, owning pipeline) —
  // the ops glance over a continuous export's exactly-once state
  private val DescribeExport =
    """(?is)\s*DESCRIBE\s+EXPORT\s+'([^']+)'\s*""".r
  // the materialized-pack ledger: ONE summary row from the
  // _pack_summary.json sidecar the materializers land next to the
  // sequence files — O(1), never a corpus aggregate
  private val DescribePack =
    """(?is)\s*DESCRIBE\s+PACK\s+'([^']+)'\s*""".r
  private val DescribeDedupIndex =
    """(?is)\s*DESCRIBE\s+DEDUP\s+INDEX\s+'([^']+)'\s*""".r
  // ADMISSION as a statement — the whole screen-verdict-ingest cycle
  // (Dedup.admitBatch: lexical probe, optional quality GATE, optional
  // SEMANTIC screen against a built ANN index, exactly-once appends
  // under BATCH) from pure SQL; the verdict frame IS the result rows
  private val AdmitIntoDedupIndex =
    """(?is)\s*ADMIT\s+INTO\s+DEDUP\s+INDEX\s+'([^']+)'\s+CLUSTERS\s+'([^']+)'\s+FROM\s+(?:'([^']+)'|([\w.`]+))(?:\s+GATE\s*\((.+?)\))?(?:\s+SEMANTIC\s+INDEX\s+'([^']+)')?(?:\s+AUDIT\s+'([^']+)')?(?:\s+BATCH\s+(\d+))?\s*""".r

  /** Land a one-shot export's per-doc assignments at
    * `<to>/assignments` in the SAME 5-column layout the incremental
    * form writes (batch_id = -1 marks the one-shot rows), idempotently
    * (a re-run overwrites). Returns the landed table's snapshot, so a
    * caller's manifest aggregates over the committed files instead of
    * re-running the assignment pipeline.
    */
  private def landOneShotAssignments(spark: SparkSession, toPath: String,
      assigned: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val landed = assigned.withColumn("batch_id", lit(-1L))
    val t = GraftTable.createIfAbsent(spark,
      java.nio.file.Paths.get(toPath, "assignments").toString,
      landed.limit(0))
    t.overwrite(landed): Unit
    t.snapshot().select(col("doc_id"), col("n_tokens"),
      col("tokens_before"), col("shard_id"))
  }

  /** The one-shot DESCRIBE EXPORT ledger row — O(files) commit-log
    * metadata plus at most ONE file's rows, never a corpus aggregate
    * (the introspection-statement contract DESCRIBE DETAIL/INDEX
    * already honor): max_doc comes straight from the footer stats,
    * and end_offset reads only the file(s) holding the global max
    * tokens_before — the prefix sum is monotone in export order, so
    * the last-positioned row's tokens_before + n_tokens IS the corpus
    * token total. Tables without usable stats (active deletion
    * vectors, stats beyond double precision) fall back to the full
    * aggregate — correctness never rides the fast path; an EMPTY
    * assignments table refuses with a descriptive message instead of
    * surfacing null aggregates.
    * Stats travel as doubles, exact through 2⁵³ — far above any real
    * doc id or token offset (100 TB of text ≈ 2·10¹³ tokens).
    * Returns (ledger frame, files read, files total) so specs pin
    * the pruning.
    */
  private[graft] def oneShotExportLedger(spark: SparkSession,
      asgPath: String, preloaded: Option[GraftTable] = None)
      : (DataFrame, Int, Int) = {
    import spark.implicits._
    val t = preloaded.getOrElse(GraftTable.load(spark, asgPath))
    val mkRow = (endOffset: Long, maxDoc: Long) =>
      Seq((-1L, endOffset, maxDoc, ""))
        .toDF("batch_id", "end_offset", "max_doc", "pipeline")
    // the full aggregate — also the guard rail under the fast path:
    // footer stats travel as DOUBLES, so a max above 2⁵³ can round UP
    // past the true value and the pruned filter comes back EMPTY on a
    // non-empty table — that must fall through here, never NPE or
    // mis-report "zero rows"
    def fullAggregate(): (DataFrame, Int, Int) = {
      val snap = t.snapshot()
      val r = snap.agg(
        org.apache.spark.sql.functions.max(
          col("tokens_before") + col("n_tokens")),
        org.apache.spark.sql.functions.max(col("doc_id"))).head()
      require(!r.isNullAt(0) && !r.isNullAt(1),
        s"DESCRIBE EXPORT: the landed assignments at $asgPath hold " +
          "zero rows — nothing to describe (run the export first)")
      (mkRow(r.getLong(0), r.getLong(1)), -1, -1)
    }
    (t.columnMaxStat("doc_id"), t.columnMaxStat("tokens_before")) match {
      // the fast path REPORTS md directly, so md must be exact —
      // doubles are exact through 2⁵³ only; above that the full
      // aggregate is the truthful spelling (the tokens_before stat
      // is only a pruning bound, but an inexact one can also come
      // back rounded UP past the true max and empty the filter —
      // the null guard below catches that side)
      case (Some(md), Some(mtb))
          if md.abs < statExactCeiling && mtb.abs < statExactCeiling =>
        val (pruned, read, total) = t.snapshotCandidatesWithCount(
          col("tokens_before") >= org.apache.spark.sql.functions
            .lit(mtb.toLong))
        val r = pruned.agg(org.apache.spark.sql.functions.max(
          col("tokens_before") + col("n_tokens"))).head()
        if (r.isNullAt(0)) fullAggregate()
        else (mkRow(r.getLong(0), md.toLong), read, total)
      case _ => fullAggregate()
    }
  }

  /** Doubles represent integers exactly through 2⁵³ — and a stat
    * EQUAL to 2⁵³ is already ambiguous (a true 2⁵³+1 rounds down to
    * it), so the guard is strict: stats at or above it must not be
    * REPORTED as values (pruning with them is still safe only when a
    * null-result guard backstops the read).
    */
  private val statExactCeiling: Double = 9007199254740992d

  /** The DESCRIBE EXPORT ledger for an EPOCH-export layout
    * ([[graft.streaming.Streams.epochExportStream]]'s epoch-tagged
    * assignments): one row per landed epoch — (batch_id = epoch,
    * end_offset = that epoch's token total, max_doc, pipeline = the
    * owner marker). O(epochs) metadata + at most one file's rows per
    * epoch: each epoch lands as one append so every file is
    * single-epoch, per-file footer stats give each epoch's max
    * tokens_before and max doc_id directly, and only the file holding
    * the epoch's last-positioned row is read for its `+ n_tokens`
    * (the prefix sum is monotone per epoch). Stats-less tables fall
    * back to one grouped aggregate. Returns (frame, files read,
    * files total) so specs pin the pruning.
    */
  private[graft] def epochExportLedger(spark: SparkSession,
      path: String, preloaded: Option[GraftTable] = None)
      : (DataFrame, Int, Int) = {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val asgPath = java.nio.file.Paths.get(path, "assignments").toString
    val t = preloaded.getOrElse(GraftTable.load(spark, asgPath))
    // the zero-landed state refuses like the one-shot leg — a crash
    // between the placeholder create and the first epoch append must
    // not print a silent empty ledger
    require(!t.rowCount.contains(0L),
      s"DESCRIBE EXPORT: the landed assignments at $asgPath hold " +
        "zero rows — nothing to describe (run the export first)")
    val ownerPath = java.nio.file.Paths.get(path, "owner")
    // headOption shape: a crash between the owner table's zero-row
    // placeholder create and its first pipeline append leaves a log
    // with no rows — describe with an empty marker, don't fault
    val owner =
      if (java.nio.file.Files.exists(ownerPath.resolve("_graft_log")))
        GraftTable.load(spark, ownerPath.toString).snapshot()
          .select(col("pipeline")).limit(1).collect()
          .headOption.map(_.getString(0)).getOrElse("")
      else ""
    (t.perKeyMaxStat("epoch", "tokens_before"),
        t.perKeyMaxStat("epoch", "doc_id")) match {
      // reported stats (max_doc) must be double-exact — above 2⁵³
      // the grouped aggregate is the truthful spelling
      case (Some(maxTb), Some(maxDoc))
          if maxTb.valuesIterator.forall(_.abs < statExactCeiling) &&
            maxDoc.valuesIterator.forall(_.abs < statExactCeiling) =>
        var read = 0; var total = 0
        // footer stats are DOUBLES: a per-epoch max above 2⁵³ can
        // round UP past the true value, the pruned filter comes back
        // empty, and the null aggregate must fall through to the
        // grouped full aggregate — never NPE on getLong
        val fastRows = maxTb.toSeq.sortBy(_._1).map { case (e, m) =>
          val (pruned, r, tot) = t.snapshotCandidatesWithCount(
            col("epoch") === e &&
              col("tokens_before") >= lit(m.toLong))
          read += r; total = tot
          val endRow = pruned.where(col("epoch") === e &&
              col("tokens_before") >= lit(m.toLong))
            .agg(org.apache.spark.sql.functions.max(
              col("tokens_before") + col("n_tokens"))).head()
          if (endRow.isNullAt(0)) None
          else Some((e, endRow.getLong(0), maxDoc(e).toLong, owner))
        }
        if (fastRows.forall(_.isDefined))
          (fastRows.flatten
            .toDF("batch_id", "end_offset", "max_doc", "pipeline")
            .orderBy(col("batch_id")), read, total)
        else (t.snapshot().groupBy(col("epoch").as("batch_id"))
          .agg(org.apache.spark.sql.functions.max(
            col("tokens_before") + col("n_tokens")).as("end_offset"),
            org.apache.spark.sql.functions.max(col("doc_id"))
              .as("max_doc"))
          .withColumn("pipeline", lit(owner))
          .select(col("batch_id"), col("end_offset"), col("max_doc"),
            col("pipeline"))
          .orderBy(col("batch_id")), -1, -1)
      case _ =>
        (t.snapshot().groupBy(col("epoch").as("batch_id"))
          .agg(org.apache.spark.sql.functions.max(
            col("tokens_before") + col("n_tokens")).as("end_offset"),
            org.apache.spark.sql.functions.max(col("doc_id"))
              .as("max_doc"))
          .withColumn("pipeline", lit(owner))
          .select(col("batch_id"), col("end_offset"), col("max_doc"),
            col("pipeline"))
          .orderBy(col("batch_id")), -1, -1)
    }
  }

  /** Parse a MIXTURE clause's weight list — one definition for both
    * mixture spellings (EXPORT SHARDS and PACK SEQUENCES). A typo
    * must refuse, not silently drop the pair: neither an unparseable
    * tail nor a duplicated domain (the last pair would silently win
    * through the map).
    */
  private def parseMixtureWeights(weightsTxt: String,
      stmt: String): Map[String, Double] = {
    val pairs = MixtureWeight.findAllMatchIn(weightsTxt)
      .map(m => m.group(1) -> m.group(2).toDouble).toSeq
    val weights = pairs.toMap
    require(weights.nonEmpty,
      s"$stmt needs at least one 'domain' weight pair")
    val rest = MixtureWeight.replaceAllIn(weightsTxt, "")
    require(rest.replaceAll("[,\\s]", "").isEmpty,
      s"$stmt: cannot parse weight list at '${rest.trim}' " +
        "(expected 'domain' <weight> pairs)")
    require(weights.size == pairs.size,
      s"$stmt: duplicate domain in the weight list (" +
        pairs.map(_._1).diff(weights.keys.toSeq).distinct
          .mkString(",") + ")")
    weights
  }

  /** The gram vocabulary a `TOKENIZER vp` statement induces from its
    * own source — ONE definition for every SQL spelling (PACK
    * SEQUENCES and EXPORT SHARDS must never induce two different
    * vocabularies for the same source).
    */
  private def statementVpGrams(src: DataFrame): Seq[String] =
    graft.operators.TextAnalysis.vocabInductFrame(src)
      .select(col("gram")).collect().map(_.getString(0)).toIndexedSeq

  /** Resolve a TVF source string that may be EITHER a registered
    * table name or a filesystem path (ann_search_batch, dedup_probe):
    * an explicit separator routes to path resolution (graft table
    * when a `_graft_log` exists, plain parquet otherwise); a
    * separator-free name resolves as a REGISTERED table first — a
    * same-named directory incidentally present in the driver's cwd
    * must never silently shadow a user's view — and only a name the
    * catalog does NOT know falls back to the filesystem probe (which
    * is what keeps a single-segment relative directory
    * ('queries_dir') from dying on a confusing table-not-found
    * error).
    */
  private[graft] def sourceFrameAuto(spark: SparkSession,
      src: String): DataFrame =
    if (src.contains("/") || src.contains("\\"))
      indexSourceFrame(spark, src, null)
    else if (spark.catalog.tableExists(src))
      // a registered graft table resolves through the shared ident
      // path; anything else the catalog knows (a TEMP VIEW, a plain
      // parquet catalog table — neither has a graft commit log)
      // resolves as its plain frame — either way the catalog name
      // wins over incidental same-named cwd content. The fallback
      // catches exactly the two NOT-A-GRAFT-TABLE shapes (the ident
      // path throws AnalysisException for views, IllegalArgument for
      // non-graft providers) — anything else (corrupt log, storage
      // failure) propagates with its real cause instead of being
      // masked behind spark.table's second-hand error.
      try indexSourceFrame(spark, null, src)
      catch {
        case _: org.apache.spark.sql.AnalysisException |
            _: IllegalArgumentException => spark.table(src)
      }
    else if (java.nio.file.Files.exists(java.nio.file.Paths.get(src)))
      indexSourceFrame(spark, src, null)
    else indexSourceFrame(spark, null, src)

  /** Resolve a CREATE/INGEST INDEX source: quoted path → graft table
    * (a `_graft_log` exists) or plain parquet dir; bare identifier →
    * registered table. Shared with the dedup_probe() TVF (same
    * resolution contract as the index statements).
    */
  private[graft] def indexSourceFrame(spark: SparkSession, path: String,
      ident: String): DataFrame =
    if (path != null) {
      if (java.nio.file.Files.exists(
          java.nio.file.Paths.get(path, "_graft_log")))
        GraftTable.load(spark, path).snapshot()
      else spark.read.parquet(path)
    } else tableByName(spark, ident).snapshot()

  /** Parse MAINTAIN ANN INDEX's option tail into normalized
    * (OPTION NAME → value) pairs.
    */
  private def annMaintOpts(opts: String): Map[String, Double] =
    AnnMaintOpt.findAllMatchIn(Option(opts).getOrElse(""))
      .map(x => x.group(1).toUpperCase.replaceAll("\\s+", " ")
        -> x.group(2).toDouble).toMap

  /** Continuous-refresh arbitration: a JVM-local query map PLUS a
    * heartbeat lease file under each view root, so double-start
    * refusal and `STOP REFRESH` work ACROSS sessions and stale
    * crash debris expires ([[ContinuousRegistry]]).
    */
  private[graft] val continuousRegistry = new ContinuousRegistry

  def sql(spark: SparkSession, text: String): DataFrame = text match {
    case CreateDedupIndex(idxPath, srcPath, srcIdent) =>
      // seed WITHOUT probing (bulk back-fill shape) and WITHOUT an
      // epoch watermark: batchId -1 appends plainly, so a later
      // curation pipeline's own epoch 0 is never mistaken for a
      // replay of the seed
      graft.operators.Dedup.incrementalIndex(spark, idxPath,
        indexSourceFrame(spark, srcPath, srcIdent))
      emptyResult(spark)
    case CreateAnnIndex(idxPath, srcPath, srcIdent, usingPq) =>
      val src = indexSourceFrame(spark, srcPath, srcIdent)
      if (usingPq != null)
        graft.operators.Similarity.ivfPqIndexBuild(spark, idxPath, src)
      else graft.operators.Similarity.ivfIndexBuild(spark, idxPath, src)
      emptyResult(spark)
    case IngestDedupIndex(idxPath, srcPath, srcIdent, batchTxt) =>
      // BATCH arms the same per-table exactly-once watermarks as the
      // API path — a replayed statement re-lands nothing
      graft.operators.Dedup.incrementalIndex(spark, idxPath,
        indexSourceFrame(spark, srcPath, srcIdent),
        batchId = Option(batchTxt).map(_.toLong).getOrElse(-1L))
      emptyResult(spark)
    case IngestAnnIndex(idxPath, srcPath, srcIdent, batchTxt) =>
      // family-dispatching: an IVF+PQ index additionally encodes
      graft.operators.Similarity.indexIngest(spark, idxPath,
        indexSourceFrame(spark, srcPath, srcIdent),
        batchId = Option(batchTxt).map(_.toLong).getOrElse(-1L))
      emptyResult(spark)
    case ExportShardsMixtureSql(toPath, srcPath, srcIdent, budgetTxt,
        tokTxt, weightsTxt, defTxt, seedTxt, bucketCntTxt, mixMat) =>
      val weights = parseMixtureWeights(weightsTxt,
        "EXPORT SHARDS MIXTURE")
      val budget = Option(budgetTxt).map(_.toLong).getOrElse(2048L)
      val defW = Option(defTxt).map(_.toDouble).getOrElse(1.0)
      val seed = Option(seedTxt).map(_.toLong).getOrElse(0L)
      val tok = Option(tokTxt).map(_.toLowerCase).getOrElse("ws")
      require(tok != "vp",
        "EXPORT SHARDS MIXTURE: TOKENIZER vp applies to the plain " +
          "one-shot form (the mixture takes ws|bpe)")
      val hb = Option(bucketCntTxt).map(_.toLong).getOrElse(0L)
      val src = indexSourceFrame(spark, srcPath, srcIdent)
      if (mixMat != null) {
        // land each copy's shard CONTENT under <to>/shards, then the
        // per-copy assignments RE-DERIVED from the landed text (the
        // write-receipt pattern — the assignment pipeline runs once)
        val manifest = graft.operators.TextAnalysis
          .exportShardsMixtureMaterialize(src, weights,
            java.nio.file.Paths.get(toPath, "shards").toString,
            shardTokens = budget, defaultWeight = defW, seed = seed,
            tokenizer = tok, hashBuckets = hb)
        landOneShotAssignments(spark, toPath,
          graft.operators.TextAnalysis.materializedMixtureAssignments(
            spark, java.nio.file.Paths.get(toPath, "shards").toString,
            tok))
        manifest
      } else {
        val assigned = graft.operators.TextAnalysis.exportShardsMixture(
          src, weights, shardTokens = budget, defaultWeight = defW,
          seed = seed, tokenizer = tok, hashBuckets = hb)
        // land the PER-COPY assignments in the shared one-shot layout
        // (the helper lands every column of the frame, so rep rides
        // along for provenance), manifest over the landed table — the
        // assignment pipeline runs exactly once
        graft.operators.TextAnalysis.shardManifest(
          landOneShotAssignments(spark, toPath, assigned))
          .withColumnRenamed("n_docs", "n_copies")
      }
    case PackSequencesSql(srcPath, srcIdent, lenTxt, tokTxt, mixTxt,
        defTxt, seedTxt, manifest, matPath, ids, vsTxt, vfPath,
        vfIdent, batchTxt) =>
      val len = Option(lenTxt).map(_.toLong).getOrElse(512L)
      val tok = Option(tokTxt).map(_.toLowerCase).getOrElse("ws")
      val src = indexSourceFrame(spark, srcPath, srcIdent)
      require(ids == null || matPath != null,
        "PACK SEQUENCES: IDS lands token-id sequence content — give " +
          "it a MATERIALIZE TO '<path>' target")
      require(vsTxt == null || ids != null,
        "PACK SEQUENCES: VOCAB SIZE parameterizes the IDS form's " +
          "induced vocabulary — add IDS")
      require((vfPath == null && vfIdent == null) || ids != null,
        "PACK SEQUENCES: VOCAB FROM supplies the IDS form's (token, " +
          "id) table — add IDS")
      require(vsTxt == null || (vfPath == null && vfIdent == null),
        "PACK SEQUENCES: VOCAB SIZE caps an INDUCED vocabulary and " +
          "VOCAB FROM supplies a trained one — pick one")
      require(mixTxt != null || (defTxt == null && seedTxt == null),
        "PACK SEQUENCES: DEFAULT and SEED parameterize the MIXTURE " +
          "form — add MIXTURE ('domain' <w>, ...)")
      // an externally-trained (token, id) vocabulary: grams for the
      // vp measure, whole tokens for ws|bpe — the pack encodes
      // against it instead of re-inducing. left/right MERGE-PAIR
      // columns survive the projection: a table carrying them is a
      // BPE tokenizer spec and routes the vp encode through the
      // merge-order kernel (stripping them here would silently
      // downgrade to greedy longest-match)
      val suppliedVocab: Option[DataFrame] =
        if (vfPath != null || vfIdent != null) {
          val vf = indexSourceFrame(spark, vfPath, vfIdent)
          val keep = Seq("token", "id") ++
            Seq("left", "right").filter(vf.columns.contains)
          Some(vf.select(keep.map(col): _*))
        } else None
      if (batchTxt != null) {
        // the INCREMENTAL token pack: exactly-once fragments under a
        // pinned vocabulary, offsets continuing from the stored total
        require(matPath != null && ids != null,
          "PACK SEQUENCES: BATCH is the incremental token-ID form — " +
            "give it MATERIALIZE TO '<path>' IDS")
        require(mixTxt == null,
          "PACK SEQUENCES: the mixture pack is one-shot by contract " +
            "(a per-batch mixture would re-draw the permutation) — " +
            "drop MIXTURE or BATCH")
        require(manifest == null,
          "PACK SEQUENCES: the BATCH form returns the batch's landed " +
            "fragment slice — drop MANIFEST")
        // default VOCAB SIZE must MATCH the one-shot IDS form (vp 64,
        // whole-token 512): the two spellings of "the same pack" pin
        // compatible vocabularies unless the caller overrides
        return graft.operators.TextAnalysis.packTokensIngest(spark,
          matPath, src, batchTxt.toLong, seqLen = len,
          tokenizer = tok, vocab = suppliedVocab,
          vocabSize = Option(vsTxt).map(_.toInt).getOrElse(
            if (tok == "vp") 64 else 512))
      }
      if (mixTxt != null) {
        // the COMPLETE loader artifact from SQL: resample → per-copy
        // shuffle → fixed-length token-ID sequences in one statement
        require(matPath != null && ids != null,
          "PACK SEQUENCES MIXTURE lands the mixture token pack — " +
            "give it MATERIALIZE TO '<path>' IDS")
        require(manifest == null,
          "PACK SEQUENCES: MATERIALIZE already returns the manifest " +
            "re-derived from the landed content — drop MANIFEST")
        require(tok != "vp",
          "PACK SEQUENCES MIXTURE: the vp measure has no " +
            "content-array spelling (IDS content takes ws|bpe)")
        return graft.operators.TextAnalysis
          .packTokensMixtureMaterialize(src,
            parseMixtureWeights(mixTxt, "PACK SEQUENCES MIXTURE"),
            matPath, seqLen = len,
            vocabSize = Option(vsTxt).map(_.toInt).getOrElse(512),
            defaultWeight =
              Option(defTxt).map(_.toDouble).getOrElse(1.0),
            seed = Option(seedTxt).map(_.toLong).getOrElse(0L),
            tokenizer = tok, vocab = suppliedVocab)
      }
      // TOKENIZER vp = the greedy-encode measure under the gram
      // vocabulary INDUCED from this statement's own source (the
      // metadata forms; the IDS content form encodes per-doc segment
      // id arrays instead — packTokensMaterialize's vp branch)
      val vpGrams: Seq[String] =
        if (tok == "vp" && matPath == null) statementVpGrams(src)
        else Nil
      if (matPath != null) {
        require(manifest == null,
          "PACK SEQUENCES: MATERIALIZE already returns the manifest " +
            "re-derived from the landed content — drop MANIFEST")
        if (ids != null)
          graft.operators.TextAnalysis.packTokensMaterialize(src,
            matPath, seqLen = len, tokenizer = tok,
            vocabSize = Option(vsTxt).map(_.toInt).getOrElse(
              if (tok == "vp") 64 else 512),
            vocab = suppliedVocab)
        else {
          require(tok == "ws",
            "PACK SEQUENCES MATERIALIZE assembles content by slicing " +
              "whitespace tokens — a subword measure needs token-id " +
              "slicing: add IDS (or use the metadata-only forms)")
          graft.operators.TextAnalysis.packSequencesMaterialize(src,
            matPath, seqLen = len)
        }
      } else if (manifest != null)
        graft.operators.TextAnalysis.seqManifest(src, seqLen = len,
          tokenizer = tok, vpGrams = vpGrams)
      else graft.operators.TextAnalysis.packSequences(src, seqLen = len,
        tokenizer = tok, vpGrams = vpGrams)
    case ExportShardsSql(toPath, srcPath, srcIdent, budgetTxt, bucketTxt,
        tokTxt, batchTxt, shuffled, seedTxt, bucketCntTxt, mat) =>
      val budget = Option(budgetTxt).map(_.toLong).getOrElse(2048L)
      val bucket = Option(bucketTxt).map(_.toLong).getOrElse(4096L)
      val tok = Option(tokTxt).map(_.toLowerCase).getOrElse("ws")
      val hb = Option(bucketCntTxt).map(_.toLong).getOrElse(0L)
      val src = indexSourceFrame(spark, srcPath, srcIdent)
      require(seedTxt == null || shuffled != null,
        "EXPORT SHARDS: SEED reparameterizes the SHUFFLED permutation " +
          "— it has no meaning for the doc_id-ordered forms")
      require(bucketCntTxt == null || shuffled != null,
        "EXPORT SHARDS: BUCKET COUNT pins the SHUFFLED form's " +
          "hash-range fan-out — the doc_id-ordered forms size their " +
          "buckets by BUCKET SIZE")
      if (batchTxt != null) {
        require(shuffled == null,
          "EXPORT SHARDS: SHUFFLED is a one-shot training-order form — " +
            "the incremental BATCH export is doc_id-ordered by contract")
        require(tokTxt == null,
          "EXPORT SHARDS: TOKENIZER applies to the one-shot forms — " +
            "an incremental export's stored offsets are bound to the " +
            "measure they accumulated under")
        require(mat == null,
          "EXPORT SHARDS: MATERIALIZE is a one-shot form — an " +
            "incremental export materializes at the end of the " +
            "sequence, not per batch")
        graft.operators.TextAnalysis.exportShardsIngest(spark, toPath,
          src, batchTxt.toLong, shardTokens = budget,
          bucketSize = bucket)
      } else if (mat != null) {
        require(shuffled == null || bucketTxt == null,
          "EXPORT SHARDS SHUFFLED buckets by hash range — BUCKET SIZE " +
            "applies only to the doc_id-ordered forms")
        require(tok != "vp",
          "EXPORT SHARDS MATERIALIZE: TOKENIZER vp applies to the " +
            "plain one-shot form (the content forms take ws|bpe)")
        val manifest = graft.operators.TextAnalysis
          .exportShardsMaterialize(src,
            java.nio.file.Paths.get(toPath, "shards").toString,
            shardTokens = budget, bucketSize = bucket, tokenizer = tok,
            shuffled = shuffled != null,
            seed = Option(seedTxt).map(_.toLong).getOrElse(0L),
            hashBuckets = hb)
        // ALSO land the assignments table in the shared one-shot
        // layout, derived from the landed content (data-local — the
        // assignment pipeline is never re-run)
        landOneShotAssignments(spark, toPath,
          graft.operators.TextAnalysis.materializedAssignments(spark,
            java.nio.file.Paths.get(toPath, "shards").toString))
        manifest
      } else {
        require(shuffled == null || bucketTxt == null,
          "EXPORT SHARDS SHUFFLED buckets by hash range — BUCKET SIZE " +
            "applies only to the doc_id-ordered forms")
        // TOKENIZER vp (the greedy-encode measure) rides the plain
        // one-shot only, with the grams induced from this statement's
        // own source — the SQL-level spelling of the Scala vpGrams
        // argument; the other forms name their supported measures
        require(tok != "vp" || shuffled == null,
          "EXPORT SHARDS: TOKENIZER vp applies to the plain one-shot " +
            "form (SHUFFLED/MIXTURE/BATCH/MATERIALIZE take ws|bpe)")
        val vpGrams: Seq[String] =
          if (tok == "vp") statementVpGrams(src) else Nil
        val assigned =
          if (shuffled != null) graft.operators.TextAnalysis
            .exportShardsShuffled(src, shardTokens = budget,
              seed = Option(seedTxt).map(_.toLong).getOrElse(0L),
              tokenizer = tok, hashBuckets = hb)
          else graft.operators.TextAnalysis
            .exportShards(src, shardTokens = budget, bucketSize = bucket,
              tokenizer = tok, vpGrams = vpGrams)
        // the manifest aggregates over the LANDED table, so the
        // assignment pipeline runs exactly once (the overwrite)
        graft.operators.TextAnalysis.shardManifest(
          landOneShotAssignments(spark, toPath, assigned))
      }
    case DescribeAnnIndex(path) =>
      val cents = graft.operators.Similarity.loadCents(spark, path)
      val t = GraftTable.load(spark,
        java.nio.file.Paths.get(path, "assignments").toString)
      val rows = t.rowCount.getOrElse(t.snapshot().count())
      import spark.implicits._
      Seq((if (graft.operators.Similarity.isPqIndex(path)) "ivf_pq"
           else "ivf_flat",
        cents.size, rows, graft.operators.Similarity.cellSkew(spark, path)))
        .toDF("family", "cells", "num_vectors", "cell_skew")
    case DescribeExport(path) =>
      import spark.implicits._
      val stPath = java.nio.file.Paths.get(path, "state").toString
      val asgPath = java.nio.file.Paths.get(path, "assignments").toString
      if (java.nio.file.Files.exists(
          java.nio.file.Paths.get(stPath, "_graft_log"))) {
        val st = GraftTable.load(spark, stPath).snapshot()
        (if (st.columns.contains("pipeline")) st
         else st.withColumn("pipeline",
           org.apache.spark.sql.functions.lit("")))
          .select(col("batch_id"), col("end_offset"), col("max_doc"),
            col("pipeline"))
          .orderBy(col("batch_id"))
      } else {
        require(java.nio.file.Files.exists(
          java.nio.file.Paths.get(asgPath, "_graft_log")),
          s"DESCRIBE EXPORT: no export at $path (neither a state " +
            "ledger nor landed assignments)")
        // load ONCE; both ledgers take the handle (this statement's
        // whole point is O(files) metadata cost)
        val asgT = GraftTable.load(spark, asgPath)
        if (asgT.snapshot().columns.contains("epoch"))
          epochExportLedger(spark, path, Some(asgT))._1
        else oneShotExportLedger(spark, asgPath, Some(asgT))._1
      }
    case DescribePack(path) =>
      graft.operators.TextAnalysis.describePack(spark, path)
    case DescribeDedupIndex(path) =>
      def count(sub: String): Long = {
        val t = GraftTable.load(spark,
          java.nio.file.Paths.get(path, sub).toString)
        t.rowCount.getOrElse(t.snapshot().count())
      }
      import spark.implicits._
      Seq((count("sigs"), count("shingles")))
        .toDF("num_sig_rows", "num_shingle_postings")
    case AdmitIntoDedupIndex(idxPath, clustersPath, srcPath, srcIdent,
        gateText, semPath, auditPath, batchTxt) =>
      val batchId = Option(batchTxt).map(_.toLong).getOrElse(-1L)
      val gate = Option(gateText)
        .map(g => org.apache.spark.sql.functions.expr(g))
      val out = Option(auditPath) match {
        case Some(ap) =>
          // the audited form persists the verdict ledger exactly-once
          // per batch id — its watermark needs one, so AUDIT requires
          // BATCH (the API contract, surfaced as a statement error)
          require(batchId >= 0L,
            "ADMIT INTO ... AUDIT requires a BATCH <id> (the audit " +
              "ledger's exactly-once watermark is batch-keyed)")
          graft.operators.Dedup.admitBatchLogged(spark, idxPath,
            clustersPath, ap, indexSourceFrame(spark, srcPath, srcIdent),
            batchId = batchId, gate = gate,
            ivfIndexPath = Option(semPath))
        case None =>
          graft.operators.Dedup.admitBatch(spark, idxPath,
            clustersPath, indexSourceFrame(spark, srcPath, srcIdent),
            batchId = batchId, gate = gate,
            ivfIndexPath = Option(semPath))
      }
      // a gated/logged admission returns its own persisted frame and
      // the SQL caller has no handle to release it — unpersist here;
      // the plan recomputes deterministically from the COMMITTED
      // clusters/audit state plus the source on consumption (no-op
      // for the ungated direct path)
      out.unpersist()
      out
    case MaintainDedupIndexContinuous(path, opts, every) =>
      val m = MaintainOpt.findAllMatchIn(Option(opts).getOrElse(""))
        .map(x => x.group(1).toUpperCase -> x.group(2)).toMap
      graft.operators.Dedup.continuousMaintain(spark, path,
        interval = Option(every).getOrElse("10 seconds"),
        clustersPath = m.get("CLUSTERS"), curatedPath = m.get("CURATED"))
      emptyResult(spark)
    case MaintainDedupIndex(path, opts) =>
      val m = MaintainOpt.findAllMatchIn(Option(opts).getOrElse(""))
        .map(x => x.group(1).toUpperCase -> x.group(2)).toMap
      graft.operators.Dedup.maintainIndex(spark, path,
        clustersPath = m.get("CLUSTERS"), curatedPath = m.get("CURATED"))
      emptyResult(spark)
    case MaintainAnnIndexContinuous(path, opts, every) =>
      val m = annMaintOpts(opts)
      graft.operators.Similarity.continuousMaintain(spark, path,
        interval = Option(every).getOrElse("10 seconds"),
        rebalanceSkewThreshold = m.getOrElse("REBALANCE THRESHOLD", 4.0),
        recallFloor = m.getOrElse("RECALL FLOOR", -1.0))
      emptyResult(spark)
    case MaintainAnnIndex(path, opts) =>
      // the cycle's observed state IS the statement's result row:
      // skew, sampled recall (when a RECALL FLOOR armed the probe),
      // and whether a rebalance ran
      val m = annMaintOpts(opts)
      val st = graft.operators.Similarity.maintainIndexStats(spark, path,
        rebalanceSkewThreshold = m.getOrElse("REBALANCE THRESHOLD", 4.0),
        recallFloor = m.getOrElse("RECALL FLOOR", -1.0),
        recallNprobe = m.getOrElse("RECALL NPROBE", 4.0).toInt,
        recallQueries = m.getOrElse("RECALL QUERIES", 16.0).toInt)
      import spark.implicits._
      Seq((st.rebalanced, st.cellSkew, st.recall))
        .toDF("rebalanced", "cell_skew", "recall")
    case StopMaintainIndex(path) =>
      // one registry for both index families, keyed by the index root
      continuousRegistry.stop(
        java.nio.file.Paths.get(path).toAbsolutePath.toString): Unit
      emptyResult(spark)
    case DescribeHistoryLimit(ident, n) =>
      tableByName(spark, ident).history(n.toInt)
    case DescribeHistory(ident) => tableByName(spark, ident).history()
    case OptimizeWhereZorder(ident, cond, keys) =>
      // Delta's selective re-cluster: only predicate-touched files
      // rewrite, Morton-ordered by the keys
      val ks = keys.split(",").map(_.trim.stripPrefix("`").stripSuffix("`"))
      tableByName(spark, ident).clusterByZOrderWhere(
        org.apache.spark.sql.functions.expr(cond), 8, ks.toIndexedSeq: _*)
      refreshName(spark, ident)
      emptyResult(spark)
    case OptimizeZorder(ident, keys) =>
      val ks = keys.split(",").map(_.trim.stripPrefix("`").stripSuffix("`"))
      tableByName(spark, ident).clusterByZOrder(8, ks.toIndexedSeq: _*)
      refreshName(spark, ident)
      emptyResult(spark)
    case OptimizeWhere(ident, cond) =>
      // Delta's selective OPTIMIZE: only predicate-touched files
      // rewrite (partition predicates prune exactly)
      tableByName(spark, ident)
        .compactWhere(org.apache.spark.sql.functions.expr(cond))
      refreshName(spark, ident)
      emptyResult(spark)
    case Optimize(ident) =>
      tableByName(spark, ident).compactToSize()
      refreshName(spark, ident)
      emptyResult(spark)
    case CopyInto(ident, dir) =>
      // idempotent file-level ingestion (warehouse COPY INTO analog)
      tableByName(spark, ident).copyInto(dir)
      refreshName(spark, ident)
      emptyResult(spark)
    case VacuumRetainHoursDry(ident, h) =>
      tableByName(spark, ident).vacuumDryRunHours(h.toDouble)
    case VacuumRetainHours(ident, h) =>
      tableByName(spark, ident).vacuumRetainHours(h.toDouble)
      emptyResult(spark)
    case VacuumRetainDry(ident, n) =>
      tableByName(spark, ident).vacuumDryRun(n.toInt)
    case VacuumDry(ident) =>
      tableByName(spark, ident).vacuumDryRun()
    case VacuumRetain(ident, n) =>
      tableByName(spark, ident).vacuum(n.toInt)
      emptyResult(spark)
    case Vacuum(ident) =>
      tableByName(spark, ident).vacuum()
      emptyResult(spark)
    case RestoreVersion(ident, v) =>
      tableByName(spark, ident).restore(v.toLong)
      refreshName(spark, ident)
      emptyResult(spark)
    case RestoreTimestamp(ident, ts) =>
      val t = tableByName(spark, ident)
      t.restore(t.versionAtTimestamp(parseSqlTimestamp(spark, ts)))
      refreshName(spark, ident)
      emptyResult(spark)
    case ShallowCloneVersion(newIdent, srcIdent, v, location) =>
      val src = tableByName(spark, srcIdent)
      GraftTable.shallowClone(spark, src.root.toString, location, v.toLong)
      spark.sql(s"CREATE TABLE $newIdent USING `graft-table` " +
        s"OPTIONS (path '$location')")
      emptyResult(spark)
    case ShallowClone(newIdent, srcIdent, location) =>
      // zero-copy writable fork + catalog registration in one step
      val src = tableByName(spark, srcIdent)
      GraftTable.shallowClone(spark, src.root.toString, location)
      spark.sql(s"CREATE TABLE $newIdent USING `graft-table` " +
        s"OPTIONS (path '$location')")
      emptyResult(spark)
    case DeepCloneVersion(newIdent, srcIdent, v, location) =>
      val src = tableByName(spark, srcIdent)
      GraftTable.deepClone(spark, src.root.toString, location, v.toLong)
      spark.sql(s"CREATE TABLE $newIdent USING `graft-table` " +
        s"OPTIONS (path '$location')")
      emptyResult(spark)
    case DeepClone(newIdent, srcIdent, location) =>
      val src = tableByName(spark, srcIdent)
      GraftTable.deepClone(spark, src.root.toString, location)
      spark.sql(s"CREATE TABLE $newIdent USING `graft-table` " +
        s"OPTIONS (path '$location')")
      emptyResult(spark)
    case InsertReplaceWhere(ident, condText, query) =>
      // the regex split the statement at the FIRST `SELECT`, which is
      // wrong when the predicate itself holds a subquery (`k IN
      // (SELECT ...)`): walk every SELECT position and take the first
      // prefix that parses as an expression
      val full = condText + " " + query
      // singleExpression grammar rejects IN (SELECT ...) — parse the
      // predicate through a probe WHERE clause instead, which accepts
      // the full boolean grammar including subqueries
      def parsePredicate(c: String): Option[Expression] =
        try Some(stockParser.parseExpression(c))
        catch {
          case _: Exception =>
            try stockParser.parsePlan(s"SELECT * FROM __rw_probe__ WHERE $c")
              .collectFirst { case f: Filter => f.condition }
            catch { case _: Exception => None }
        }
      val (condExpr, queryText) = "(?i)\\bSELECT\\b".r
        .findAllMatchIn(full).map(_.start).flatMap { i =>
          val c = full.substring(0, i).trim
          if (c.isEmpty) None
          else parsePredicate(c).map((_, full.substring(i)))
        }.nextOption().getOrElse(throw new IllegalArgumentException(
          s"cannot split REPLACE WHERE predicate from its query in: $full"))
      val target = targetByName(spark, ident)
      target.table.replaceWhere(rewriteTarget(condExpr, target),
        spark.sql(queryText))
      refresh(spark, target)
      emptyResult(spark)
    case RenameColumnSql(ident, oldName, newName) =>
      tableByName(spark, ident).renameColumn(oldName, newName)
      refreshName(spark, ident)
      emptyResult(spark)
    case DropColumnSql(ident, colName) =>
      tableByName(spark, ident).dropColumn(colName)
      refreshName(spark, ident)
      emptyResult(spark)
    case AddConstraintSql(ident, name, pred) =>
      tableByName(spark, ident).addConstraint(name, pred)
      emptyResult(spark)
    case DropConstraintSql(ident, name) =>
      tableByName(spark, ident).dropConstraint(name)
      emptyResult(spark)
    case SetTblPropsSql(ident, pairs) =>
      tableByName(spark, ident).setProperties(parsePropPairs(pairs))
      emptyResult(spark)
    case ShowTblPropsSql(ident) =>
      import spark.implicits._
      tableByName(spark, ident).properties.toSeq.sorted
        .toDF("key", "value")
    case DescribeDetail(ident) =>
      tableByName(spark, ident).detail()
    case ShowPartitionsSql(ident) =>
      tryTable(spark, ident) match {
        // a graft table answers from commit metadata — including the
        // clean "not a partitioned table" error (falling through to
        // spark.sql would re-enter the injected parser and loop)
        case Some(t) => t.partitionsInfo()
        case None => sqlParsed(spark, text) // non-graft: Spark's own
      }
    case FsckTable(ident) =>
      tableByName(spark, ident).fsck()
    case CreatePartitionedCtas(ident, cols, location, query) =>
      GraftTable.create(spark, location, spark.sql(query),
        partitionBy = splitIdents(cols))
      spark.sql(s"CREATE TABLE $ident USING `graft-table` " +
        s"OPTIONS (path '$location')")
      emptyResult(spark)
    case CreateBucketedCtas(ident, cols, n, location, query) =>
      GraftTable.create(spark, location, spark.sql(query),
        bucketBy = splitIdents(cols), numBuckets = n.toInt)
      spark.sql(s"CREATE TABLE $ident USING `graft-table` " +
        s"OPTIONS (path '$location')")
      emptyResult(spark)
    case CreateMatView(ident, location, selectList, srcIdent, joins,
        groupBy) =>
      val (keys, values, extremes, derived, avgs, outputs, approxes) =
        parseMvDefinition(selectList, groupBy)
      val dims =
        if (joins == null || joins.trim.isEmpty) Nil
        else parseMvJoins(spark, joins)
      IncrementalMatView.create(spark, tableByName(spark, srcIdent),
        location, keys, values, extremes, derived, dims, avgs, outputs,
        approxes)
      spark.sql(s"CREATE TABLE $ident USING `graft-table` " +
        s"OPTIONS (path '$location')")
      emptyResult(spark)
    case RefreshMatViewContinuous(ident, every) =>
      // start the CDC-stream-driven refresh loop
      // (IncrementalMatView.continuous): the view then tracks its
      // source with no scheduler and no manual REFRESH. The
      // checkpoint lives under the view root (vacuum only reclaims
      // files/cdc/dv entries, so it is inert to table maintenance)
      val root = tableByName(spark, ident).root.toAbsolutePath.toString
      // the registry refuses a double-start (live local query OR a
      // fresh lease from ANOTHER session), expires stale crash
      // debris, and heartbeats the lease per refresh epoch
      continuousRegistry.start(spark, root,
        Option(every).map(_.trim).filter(_.nonEmpty).getOrElse("1 second"))
      emptyResult(spark)
    case StopRefreshMatView(ident) =>
      val root = tableByName(spark, ident).root.toAbsolutePath.toString
      // owning session: synchronous stop + lease release. Any other
      // session: the lease is released and the owner self-terminates
      // at its next heartbeat (cross-session STOP).
      continuousRegistry.stop(root)
      refreshName(spark, ident)
      emptyResult(spark)
    case RefreshMatView(ident) =>
      // the view is self-describing: source/keys/measures ride in its
      // table properties, written at CREATE
      IncrementalMatView
        .load(spark, tableByName(spark, ident).root.toString).refresh()
      refreshName(spark, ident)
      emptyResult(spark)
    case _ => sqlParsed(spark, text)
  }

  /** Split a select/group-by list on TOP-LEVEL commas only (commas
    * inside parentheses or single-quoted strings stay put — the
    * `date_trunc('day', ts)` case a naive split breaks on).
    */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; var inQuote = false; var start = 0
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' => inQuote = !inQuote
        case '(' if !inQuote => depth += 1
        case ')' if !inQuote => depth -= 1
        case ',' if !inQuote && depth == 0 =>
          out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start)
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  private def normExpr(e: String): String =
    e.toLowerCase.replaceAll("\\s+", "").replaceAll("`", "")

  /** Does a select-item expression contain an aggregate call?
    * (Conservative textual check — used only to produce a clear
    * refusal for items that fell through the single-aggregate
    * grammar.)
    */
  private def containsAggregate(e: String): Boolean =
    """(?i)\b(sum|min|max|avg|count)\s*\(""".r.findFirstIn(e).isDefined

  /** The maintainable grammar for CREATE MATERIALIZED VIEW:
    * group keys — bare columns or `expr AS alias` (echoed in GROUP BY
    * by alias or by the same expression text) — plus `SUM(col|expr AS
    * alias)`, `AVG(col|expr AS alias)` (maintained as the SUM +
    * non-null-COUNT pair, quotient projected at read), `MIN`/`MAX`
    * of a column or of an already-aggregated expression, and
    * `COUNT(*)`. Derived keys/measures (a `date_trunc('day', ts)`
    * bucket, a `price*(1-discount)` revenue) become per-row
    * projections the maintenance applies to snapshots AND the change
    * feed alike. Returns (keys in GROUP BY order, measure names,
    * extremes?, derived name→expr pairs, AVG measure names, declared
    * view outputs in select order). A MIN/MAX- or AVG-only measure
    * still maintains its internal sum (the class's uniform state) —
    * the declared outputs keep it off the consumable view.
    */
  private def parseMvDefinition(sel: String, groupByRaw: String)
      : (Seq[String], Seq[String], Boolean, Seq[(String, String)],
         Seq[String], Seq[(String, String)], Seq[String]) = {
    val AggRe = """(?is)\s*(APPROX_COUNT_DISTINCT|SUM|MIN|MAX|COUNT|AVG)\s*\((.+)\)\s*(?:AS\s+`?(\w+)`?\s*)?""".r
    val AliasRe = """(?is)\s*(.+?)\s+AS\s+`?(\w+)`?\s*""".r
    val BareRe = """(?is)\s*`?(\w+)`?\s*""".r
    def fail(item: String): Nothing = throw new IllegalArgumentException(
      "CREATE MATERIALIZED VIEW supports group keys (bare or expr AS " +
        "alias), SUM/AVG(col|expr AS alias), MIN/MAX(col|aggregated " +
        "expr), APPROX_COUNT_DISTINCT(col|expr AS alias) and " +
        s"COUNT(*); cannot maintain '$item'")
    // the greedy inner capture of AggRe can swallow past a ')' on
    // malformed/compound items (SUM(a) + SUM(b)); an unbalanced
    // capture means the item was not a single aggregate call
    def balanced(e: String): Boolean = {
      var d = 0; var q = false; var ok = true
      e.foreach {
        case '\'' => q = !q
        case '(' if !q => d += 1
        case ')' if !q => d -= 1; if (d < 0) ok = false
        case _ =>
      }
      ok && d == 0 && !q
    }
    val values = scala.collection.mutable.LinkedHashSet.empty[String]
    val derived = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // norm(expr or alias or bare col) -> canonical key/measure name
    val byNorm = scala.collection.mutable.HashMap.empty[String, String]
    val keyCandidates = scala.collection.mutable.LinkedHashSet.empty[String]
    val avgs = scala.collection.mutable.LinkedHashSet.empty[String]
    val approxes = scala.collection.mutable.LinkedHashSet.empty[String]
    val outputs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var extremes = false
    // resolve an aggregate's operand to its measure name in `target`
    // (sum measures or approx-distinct measures — the two maintained
    // state families), registering a derived measure (alias
    // required) on first sight; a measure already registered by the
    // OTHER family joins this one under its existing name
    def measureInto(target: scala.collection.mutable.LinkedHashSet[String],
        fn: String, inner: String, alias: String): String =
      inner match {
        case BareRe(c) => target += c; byNorm(normExpr(c)) = c; c
        case e => byNorm.get(normExpr(e)) match {
          case Some(m) if values.contains(m) || approxes.contains(m) =>
            target += m; m // already a measure
          case _ =>
            val a = Option(alias).getOrElse(fail(
              s"$fn($e) — a derived measure needs an AS alias"))
            target += a; derived(a) = e.trim; byNorm(normExpr(e)) = a; a
        }
      }
    def measureOf(fn: String, inner: String, alias: String): String =
      measureInto(values, fn, inner, alias)
    // an explicit alias on the select item names the view's output
    // column verbatim (it rides the stored kind as "sum|alias"), so
    // the consumable view matches the declared SQL instead of
    // silently renaming `SUM(x) AS total` to sum_x
    def out(kind: String, alias: String): String =
      if (alias == null) kind else s"$kind|$alias"
    splitTopLevel(sel).foreach {
      case AggRe(fn, inner, alias) if balanced(inner) => fn.toUpperCase match {
        case "COUNT" =>
          if (inner.trim != "*") fail(s"COUNT($inner)")
          outputs += ((out("cnt", alias), ""))
        case "SUM" =>
          outputs += ((out("sum", alias), measureOf("SUM", inner, alias)))
        case "AVG" =>
          val m = measureOf("AVG", inner, alias)
          avgs += m
          outputs += ((out("avg", alias), m))
        case "APPROX_COUNT_DISTINCT" =>
          outputs += ((out("adc", alias),
            measureInto(approxes, "APPROX_COUNT_DISTINCT", inner, alias)))
        case mm => // MIN | MAX
          extremes = true
          outputs += ((out(mm.toLowerCase, alias),
            measureOf(mm, inner, alias)))
      }
      case AliasRe(e, alias) =>
        // a compound aggregate (SUM(a)+SUM(b) AS z) falls through the
        // single-aggregate pattern to here — treating it as a derived
        // KEY would only fail later with an opaque Catalyst
        // aggregate-in-projection error; refuse with the grammar's
        // own message instead
        if (containsAggregate(e)) fail(s"$e AS $alias")
        keyCandidates += alias; derived(alias) = e.trim
        byNorm(normExpr(e)) = alias; byNorm(normExpr(alias)) = alias
      case BareRe(c) =>
        keyCandidates += c; byNorm(normExpr(c)) = c
      case other => fail(other)
    }
    val keys = splitTopLevel(groupByRaw).map { g =>
      byNorm.getOrElse(normExpr(g), throw new IllegalArgumentException(
        s"GROUP BY item '$g' does not match any selected key " +
          "(bare column or aliased expression)"))
    }
    require(keys.nonEmpty && keys.forall(k => keyCandidates.contains(k)),
      "every GROUP BY item must be selected as a key")
    require(values.nonEmpty || approxes.nonEmpty,
      "CREATE MATERIALIZED VIEW needs at least one SUM/AVG/MIN/MAX/" +
        "APPROX_COUNT_DISTINCT measure")
    // EXACT repeats of one select item (COUNT(*) twice, the same
    // AVG listed twice) collapse to one output column; two DISTINCT
    // items that would surface under the same column name (SUM(x) AS
    // a, MIN(x) AS a) are refused — a view emitting duplicate names
    // makes every downstream name-based select ambiguous
    val uniqueOuts = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[(String, String)]
      outputs.foreach(seen += _)
      seen.toSeq
    }
    def displayName(o: (String, String)): String = o._1.split("\\|", 2) match {
      case Array(_, a) => a
      case Array(k) => if (k == "cnt") "n_rows" else s"${k}_${o._2}"
    }
    val names = keys ++ uniqueOuts.map(displayName)
    names.groupBy(identity).collectFirst { case (n, ds) if ds.size > 1 =>
      throw new IllegalArgumentException(
        s"duplicate output column '$n' in CREATE MATERIALIZED VIEW " +
          "select list; alias the items apart")
    }
    (keys, values.toSeq, extremes, derived.toSeq, avgs.toSeq, uniqueOuts,
      approxes.toSeq)
  }

  /** Parse the maintainable JOIN chain: `[LEFT] JOIN dim ON a = b`
    * repeated — each dim must be a registered graft table, each ON
    * a single equality whose sides orient by schema (exactly one
    * side must be a column of the dim). Returns the
    * (dimPath, factKey, dimKey) triples IncrementalMatView takes.
    */
  private def parseMvJoins(spark: SparkSession,
      joins: String): Seq[(String, String, String, String)] =
    MvJoinClause.findAllMatchIn(joins).map { m =>
      // the DECLARED spelling carries through: bare JOIN maintains
      // inner semantics (unmatched fact rows drop), LEFT JOIN keeps
      // them under null dim columns
      val joinType = if (m.group(1) == null) "inner" else "left"
      val dimT = tableByName(spark, m.group(2))
      def base(c: String) = c.split("\\.").last.replace("`", "")
      val (a, b) = (base(m.group(3)), base(m.group(4)))
      val dimCols = dimT.snapshot().columns.map(_.toLowerCase).toSet
      val (fk, dk) =
        if (dimCols.contains(b.toLowerCase) &&
            !dimCols.contains(a.toLowerCase)) (a, b)
        else if (dimCols.contains(a.toLowerCase) &&
            !dimCols.contains(b.toLowerCase)) (b, a)
        else throw new IllegalArgumentException(
          s"cannot orient JOIN ON ${m.group(3)} = ${m.group(4)}: " +
            s"exactly one side must be a column of ${m.group(2)}")
      (dimT.root.toString, fk, dk, joinType)
    }.toSeq

  private def splitIdents(s: String): Seq[String] =
    s.split(",").toSeq.map(_.trim.stripPrefix("`").stripSuffix("`"))
      .filter(_.nonEmpty)

  /** TBLPROPERTIES pair list → map. Keys/values may be single-quoted,
    * double-quoted, or bare identifiers (`'k'='v'`, `k = 'v'`,
    * `"k"="v"`). The WHOLE string must be consumed by the pair
    * grammar (`\G` anchors each match at the previous end) — leftover
    * tokens throw instead of silently committing a no-op property
    * set the operator believes took effect.
    */
  private def parsePropPairs(s: String): Map[String, String] = {
    val pair = ("""\G\s*(?:'([^']*)'|"([^"]*)"|([\w.-]+))\s*=""" +
      """\s*(?:'([^']*)'|"([^"]*)"|([\w.+-]+))\s*(?:,|$)""").r
    val ms = pair.findAllMatchIn(s).toList
    val consumed = ms.lastOption.map(_.end).getOrElse(0)
    if (ms.isEmpty || s.substring(consumed).trim.nonEmpty)
      throw new IllegalArgumentException(
        s"cannot parse TBLPROPERTIES pairs at: '${s.substring(consumed).trim}'")
    ms.map { m =>
      def pick(i: Int, j: Int, k: Int) =
        Option(m.group(i)).orElse(Option(m.group(j))).getOrElse(m.group(k))
      pick(1, 2, 3) -> pick(4, 5, 6)
    }.toMap
  }

  /** Parser-injection hooks ([[graft.plans.GraftSqlParser]]). */
  private[graft] def isUtilityStatement(text: String): Boolean = text match {
    case DescribeHistoryLimit(_, _) |
         DescribeHistory(_) | OptimizeZorder(_, _) | OptimizeWhere(_, _) |
         Optimize(_) | CopyInto(_, _) |
         VacuumRetainHoursDry(_, _) | VacuumRetainHours(_, _) |
         VacuumRetainDry(_, _) | VacuumDry(_) |
         VacuumRetain(_, _) | Vacuum(_) | RestoreVersion(_, _) |
         RestoreTimestamp(_, _) | ShallowClone(_, _, _) |
         ShallowCloneVersion(_, _, _, _) |
         DeepClone(_, _, _) | DeepCloneVersion(_, _, _, _) |
         InsertReplaceWhere(_, _, _) |
         RenameColumnSql(_, _, _) | DropColumnSql(_, _) |
         AddConstraintSql(_, _, _) | DropConstraintSql(_, _) |
         SetTblPropsSql(_, _) | ShowTblPropsSql(_) |
         DescribeDetail(_) | CreatePartitionedCtas(_, _, _, _) |
         CreateBucketedCtas(_, _, _, _, _) |
         ShowPartitionsSql(_) | FsckTable(_) |
         CreateMatView(_, _, _, _, _, _) | RefreshMatView(_) |
         RefreshMatViewContinuous(_, _) | StopRefreshMatView(_) |
         MaintainDedupIndexContinuous(_, _, _) | MaintainDedupIndex(_, _) |
         MaintainAnnIndexContinuous(_, _, _) | MaintainAnnIndex(_, _) |
         StopMaintainIndex(_) |
         CreateDedupIndex(_, _, _) | CreateAnnIndex(_, _, _, _) |
         IngestDedupIndex(_, _, _, _) | IngestAnnIndex(_, _, _, _) |
         DescribeAnnIndex(_) | DescribeDedupIndex(_) |
         DescribeExport(_) | DescribePack(_) |
         ExportShardsMixtureSql(_, _, _, _, _, _, _, _, _, _) |
         PackSequencesSql(_, _, _, _, _, _, _, _, _, _, _, _, _, _) |
         ExportShardsSql(_, _, _, _, _, _, _, _, _, _, _) |
         AdmitIntoDedupIndex(_, _, _, _, _, _, _, _) => true
    case _ => false
  }

  /** Best-effort table resolution (None = not a graft table). */
  private def tryTable(spark: SparkSession,
      ident: String): Option[GraftTable] =
    try Some(tableByName(spark, ident)) catch { case _: Exception => None }

  /** Timestamp string → epoch millis through Catalyst's own Cast in
    * the SESSION time zone — the SAME conversion `SELECT ...
    * TIMESTAMP AS OF` takes, so previewing with SELECT and then
    * RESTOREing "the same" literal resolves the same version even
    * when the JVM default zone differs from spark.sql.session.timeZone.
    */
  private[graft] def parseSqlTimestamp(spark: SparkSession,
      s: String): Long = {
    val micros = org.apache.spark.sql.catalyst.expressions.Cast(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(s),
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.TimestampType,
      Some(spark.sessionState.conf.sessionLocalTimeZone)).eval()
    require(micros != null, s"cannot parse timestamp '$s'")
    micros.asInstanceOf[Long] / 1000L
  }

  private[graft] def isDescribeHistory(text: String): Boolean = text match {
    case DescribeHistory(_) => true
    case _ => false
  }

  /** Fixed result schema for utility statements that RETURN rows
    * (None = statement returns nothing) — the injected parser's
    * command node needs the schema before execution.
    */
  private[graft] def resultSchema(text: String):
      Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types._
    text match {
      case DescribeHistoryLimit(_, _) | DescribeHistory(_) =>
        Some(historySchema)
      case VacuumRetainHoursDry(_, _) | VacuumRetainDry(_, _) |
           VacuumDry(_) => Some(StructType(Seq(
        StructField("path", StringType),
        StructField("size_bytes", LongType, nullable = false))))
      case DescribeDetail(_) => Some(StructType(Seq(
        StructField("format", StringType),
        StructField("location", StringType),
        StructField("version", LongType, nullable = false),
        StructField("num_files", LongType, nullable = false),
        StructField("size_bytes", LongType, nullable = false),
        StructField("partition_columns", StringType),
        StructField("num_constraints", LongType, nullable = false),
        StructField("properties", StringType),
        StructField("has_deletion_vectors", BooleanType, nullable = false),
        StructField("has_column_mapping", BooleanType, nullable = false),
        StructField("num_rows", LongType))))
      case ShowTblPropsSql(_) => Some(StructType(Seq(
        StructField("key", StringType),
        StructField("value", StringType))))
      case ShowPartitionsSql(_) => Some(StructType(Seq(
        StructField("partition", StringType),
        StructField("num_files", LongType, nullable = false),
        StructField("num_rows", LongType))))
      case FsckTable(_) => Some(StructType(Seq(
        StructField("issue", StringType),
        StructField("path", StringType))))
      // the CONTINUOUS form must match FIRST (its one-shot prefix
      // also matches the plain pattern) and returns nothing
      case MaintainAnnIndexContinuous(_, _, _) => None
      case MaintainAnnIndex(_, _) => Some(StructType(Seq(
        StructField("rebalanced", BooleanType, nullable = false),
        StructField("cell_skew", DoubleType, nullable = false),
        StructField("recall", DoubleType))))
      case AdmitIntoDedupIndex(_, _, _, _, _, _, _, _) => Some(StructType(Seq(
        StructField("doc_id", LongType),
        StructField("canonical_id", LongType),
        StructField("action", StringType))))
      case DescribeAnnIndex(_) => Some(StructType(Seq(
        StructField("family", StringType),
        StructField("cells", IntegerType, nullable = false),
        StructField("num_vectors", LongType, nullable = false),
        StructField("cell_skew", DoubleType, nullable = false))))
      case DescribeDedupIndex(_) => Some(StructType(Seq(
        StructField("num_sig_rows", LongType, nullable = false),
        StructField("num_shingle_postings", LongType, nullable = false))))
      case DescribeExport(_) => Some(StructType(Seq(
        StructField("batch_id", LongType),
        StructField("end_offset", LongType),
        StructField("max_doc", LongType),
        StructField("pipeline", StringType))))
      case DescribePack(_) => Some(StructType(Seq(
        StructField("form", StringType),
        StructField("tokenizer", StringType),
        StructField("seq_len", LongType),
        StructField("vocab_size", LongType),
        StructField("n_sequences", LongType),
        StructField("filled_tokens", LongType),
        StructField("ids_sum", LongType))))
      // the MIXTURE form must match FIRST (its prefix also resembles
      // the plain export spelling)
      case ExportShardsMixtureSql(_, _, _, _, _, _, _, _, _, _) =>
        Some(StructType(Seq(
          StructField("shard_id", LongType),
          StructField("n_copies", IntegerType, nullable = false),
          StructField("shard_tokens", LongType),
          StructField("first_doc", LongType),
          StructField("last_doc", LongType))))
      case PackSequencesSql(_, _, _, _, mixTxt, _, _, manifest, matPath, ids, _, _, _, batchTxt) =>
        if (batchTxt != null) Some(StructType(Seq(
          StructField("seq_id", LongType),
          StructField("doc_id", LongType),
          StructField("tokens_before", LongType),
          StructField("frag_tokens", LongType),
          StructField("carry_in", BooleanType))))
        else if (ids != null && matPath != null) Some(StructType(Seq(
          StructField("seq_id", LongType),
          // the mixture form counts training COPIES
          StructField(if (mixTxt != null) "n_copies" else "n_docs",
            IntegerType, nullable = false),
          StructField("filled_tokens", LongType),
          StructField("n_carry_in", LongType),
          StructField("ids_sum", LongType),
          StructField("first_doc", LongType),
          StructField("last_doc", LongType))))
        else if (manifest != null || matPath != null) Some(StructType(Seq(
          StructField("seq_id", LongType),
          StructField("n_docs", IntegerType, nullable = false),
          StructField("filled_tokens", LongType),
          StructField("n_carry_in", LongType),
          StructField("first_doc", LongType),
          StructField("last_doc", LongType))))
        else Some(StructType(Seq(
          StructField("doc_id", LongType),
          StructField("n_tokens", LongType),
          StructField("tokens_before", LongType),
          StructField("start_seq", LongType),
          StructField("start_offset", LongType),
          StructField("end_seq", LongType),
          StructField("n_seqs", LongType))))
      case ExportShardsSql(_, _, _, _, _, _, batchTxt, _, _, _, _) =>
        if (batchTxt != null) Some(StructType(Seq(
          StructField("doc_id", LongType),
          StructField("n_tokens", LongType),
          StructField("tokens_before", LongType),
          StructField("shard_id", LongType))))
        else Some(StructType(Seq(
          StructField("shard_id", LongType),
          StructField("n_docs", IntegerType, nullable = false),
          StructField("shard_tokens", LongType),
          StructField("first_doc", LongType),
          StructField("last_doc", LongType))))
      case _ => None
    }
  }

  /** Schema of DESCRIBE HISTORY output (mirrors GraftTable.history). */
  private[graft] def historySchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("timestamp", TimestampType),
      StructField("operation", StringType),
      StructField("num_files", LongType, nullable = false),
      StructField("operation_metrics",
        MapType(StringType, LongType, valueContainsNull = false))))
  }

  private[graft] def utilityTargetIsGraft(spark: SparkSession,
      text: String): Boolean = {
    // the layout-CTAS forms name `USING graft-table` explicitly —
    // there is no pre-existing target to resolve
    text match {
      case CreatePartitionedCtas(_, _, _, _) |
           CreateBucketedCtas(_, _, _, _, _) => return true
      // index maintenance targets a PATH (no catalog ident to
      // resolve); the statement shape is unambiguously graft's
      case MaintainDedupIndexContinuous(_, _, _) | MaintainDedupIndex(_, _) |
           MaintainAnnIndexContinuous(_, _, _) | MaintainAnnIndex(_, _) |
           StopMaintainIndex(_) |
           DescribeAnnIndex(_) | DescribeDedupIndex(_) |
           DescribeExport(_) | DescribePack(_) => return true
      // admission/export with a QUOTED source is shape-claimed; the
      // bare-identifier source resolves below like CREATE/INGEST INDEX
      case AdmitIntoDedupIndex(_, _, p, _, _, _, _, _) if p != null =>
        return true
      case ExportShardsMixtureSql(_, p, _, _, _, _, _, _, _, _) if p != null =>
        return true
      case PackSequencesSql(p, _, _, _, _, _, _, _, _, _, _, _, _, _) if p != null =>
        return true
      case ExportShardsSql(_, p, _, _, _, _, _, _, _, _, _) if p != null =>
        return true
      // index create/ingest with a QUOTED source path is shape-claimed
      // (no catalog ident to resolve); the bare-identifier form below
      // requires the source to resolve as a registered graft table
      case CreateDedupIndex(_, p, _) if p != null => return true
      case CreateAnnIndex(_, p, _, _) if p != null => return true
      case IngestDedupIndex(_, p, _, _) if p != null => return true
      case IngestAnnIndex(_, p, _, _) if p != null => return true
      case _ =>
    }
    val ident = text match {
      case DescribeHistoryLimit(i, _) => Some(i)
      case DescribeHistory(i) => Some(i)
      case OptimizeZorder(i, _) => Some(i)
      case OptimizeWhere(i, _) => Some(i)
      case Optimize(i) => Some(i)
      case CopyInto(i, _) => Some(i)
      case VacuumRetainHoursDry(i, _) => Some(i)
      case VacuumRetainHours(i, _) => Some(i)
      case VacuumRetainDry(i, _) => Some(i)
      case VacuumDry(i) => Some(i)
      case VacuumRetain(i, _) => Some(i)
      case Vacuum(i) => Some(i)
      case RestoreVersion(i, _) => Some(i)
      case RestoreTimestamp(i, _) => Some(i)
      case ShallowClone(_, srcIdent, _) => Some(srcIdent)
      case ShallowCloneVersion(_, srcIdent, _, _) => Some(srcIdent)
      case DeepCloneVersion(_, srcIdent, _, _) => Some(srcIdent)
      case DeepClone(_, srcIdent, _) => Some(srcIdent)
      case InsertReplaceWhere(i, _, _) => Some(i)
      case RenameColumnSql(i, _, _) => Some(i)
      case DropColumnSql(i, _) => Some(i)
      case AddConstraintSql(i, _, _) => Some(i)
      case DropConstraintSql(i, _) => Some(i)
      case SetTblPropsSql(i, _) => Some(i)
      case ShowTblPropsSql(i) => Some(i)
      case DescribeDetail(i) => Some(i)
      case ShowPartitionsSql(i) => Some(i)
      case FsckTable(i) => Some(i)
      // the view's SOURCE must be a graft table; the view ident is new
      case CreateMatView(_, _, _, srcIdent, _, _) => Some(srcIdent)
      case CreateDedupIndex(_, _, i) => Some(i)
      case CreateAnnIndex(_, _, i, _) => Some(i)
      case IngestDedupIndex(_, _, i, _) => Some(i)
      case IngestAnnIndex(_, _, i, _) => Some(i)
      case AdmitIntoDedupIndex(_, _, _, i, _, _, _, _) => Some(i)
      case ExportShardsMixtureSql(_, _, i, _, _, _, _, _, _, _) => Some(i)
      case PackSequencesSql(_, i, _, _, _, _, _, _, _, _, _, _, _, _) => Some(i)
      case ExportShardsSql(_, _, i, _, _, _, _, _, _, _, _) => Some(i)
      case RefreshMatViewContinuous(i, _) => Some(i)
      case StopRefreshMatView(i) => Some(i)
      case RefreshMatView(i) => Some(i)
      case _ => None
    }
    ident.exists(i =>
      try { tableByName(spark, i); true } catch { case _: Exception => false })
  }

  /** Can `plan`'s relation be resolved to a registered graft table? */
  private[graft] def tryResolveTarget(spark: SparkSession,
      plan: LogicalPlan): Boolean =
    try { resolveTarget(spark, plan); true }
    catch { case _: Exception => false }

  /** Replace every graft RelationTimeTravel node with the versioned
    * snapshot's plan (pre-analysis; the analyzer only accepts time
    * travel for DSv2 tables).
    */
  private[graft] def substituteTimeTravel(spark: SparkSession,
      plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case t: org.apache.spark.sql.catalyst.analysis.RelationTimeTravel
          if tryResolveTarget(spark, t.relation) =>
        val target = resolveTarget(spark, t.relation)
        // TIMESTAMP AS OF evaluates the (constant) expression through
        // Catalyst's own Cast, then resolves to the latest commit at
        // or before it — Delta's semantics
        val version = t.version.map(_.toLong).orElse(t.timestamp.map { e =>
          val micros = org.apache.spark.sql.catalyst.expressions.Cast(
            e, org.apache.spark.sql.types.TimestampType,
            Some(spark.sessionState.conf.sessionLocalTimeZone)).eval()
          require(micros != null, s"cannot evaluate TIMESTAMP AS OF: $e")
          target.table.versionAtTimestamp(micros.asInstanceOf[Long] / 1000L)
        }).getOrElse(throw new IllegalArgumentException(
          "time travel needs VERSION AS OF or TIMESTAMP AS OF"))
        target.table.snapshotAt(version).queryExecution.logical
    }

  private def targetByName(spark: SparkSession, ident: String): Target = {
    val parts = ident.split("\\.").toSeq
      .map(_.stripPrefix("`").stripSuffix("`"))
    resolveTarget(spark,
      UnresolvedRelation(parts,
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Collections.emptyMap()), false))
  }

  private[graft] def tableByName(spark: SparkSession,
      ident: String): GraftTable =
    targetByName(spark, ident).table

  /** Stock Spark grammar, NOT the session's parser: with the
    * GraftSqlParser injected, using the session parser here would
    * re-wrap DML into GraftSqlCommand and recurse infinitely
    * (command.run → GraftSql.sql → session parser → command...).
    */
  private lazy val stockParser: org.apache.spark.sql.catalyst.parser.ParserInterface =
    new org.apache.spark.sql.execution.SparkSqlParser()

  private def sqlParsed(spark: SparkSession, text: String): DataFrame =
    stockParser.parsePlan(text) match {
      case p if p.collectFirst({
          case t: org.apache.spark.sql.catalyst.analysis.RelationTimeTravel => t
        }).isDefined =>
        // SELECT ... FROM t VERSION AS OF n: the analyzer only accepts
        // time travel for DSv2 tables, so substitute the versioned
        // graft relation's plan before analysis
        GraftPlans.ofRows(spark, substituteTimeTravel(spark, p))
      case d: DeleteFromTable =>
        val target = resolveTarget(spark, d.table)
        val cond = rewriteTarget(d.condition, target)
        // graft.enableDeletionVectors=true (Delta's table-property
        // switch): DML tombstones rows instead of rewriting files
        if (dvMode(target.table)) target.table.deleteMor(cond)
        else target.table.delete(cond)
        refresh(spark, target)
        emptyResult(spark)
      case u: UpdateTable =>
        val target = resolveTarget(spark, u.table)
        val set = u.assignments.map(a =>
          attrName(a.key) -> rewriteTarget(a.value, target)).toMap
        val cond = u.condition.map(rewriteTarget(_, target))
          .getOrElse(org.apache.spark.sql.functions.lit(true))
        if (dvMode(target.table)) target.table.updateMor(cond, set)
        else target.table.update(cond, set)
        refresh(spark, target)
        emptyResult(spark)
      case m: MergeIntoTable =>
        mergeInto(spark, m)
        emptyResult(spark)
      case i: InsertIntoStatement if tryResolveTarget(spark, i.table) =>
        insertInto(spark, i)
        emptyResult(spark)
      case _ => spark.sql(text)
    }

  // ---- INSERT INTO / INSERT OVERWRITE ----------------------------------

  /** Plain SQL `INSERT INTO t VALUES (...)` / `INSERT INTO t SELECT
    * ...` / `INSERT OVERWRITE t ...` on a registered graft table —
    * the reference's day-one write surface (01-Fraud-Delta.py:188-189
    * drives a streaming demo with exactly this statement in a loop).
    * Routed onto the TRANSACTIONAL paths: append for INSERT INTO,
    * overwrite for INSERT OVERWRITE (overwritePartitions when the
    * table is partitioned and the session runs
    * spark.sql.sources.partitionOverwriteMode=dynamic — Spark's own
    * INSERT OVERWRITE contract), replaceWhere for INSERT
    * OVERWRITE with a static PARTITION spec. Identity columns are
    * engine-assigned, generated columns computed when omitted —
    * the same write-time semantics as the Scala API.
    */
  private def insertInto(spark: SparkSession,
      i: InsertIntoStatement): Unit = {
    val target = resolveTarget(spark, i.table)
    val t = target.table
    require(!i.ifPartitionNotExists,
      "INSERT ... IF NOT EXISTS is not supported on graft tables")
    val df0 = GraftPlans.ofRows(spark, i.query)
    val schema = t.snapshot().schema
    def fieldOf(c: String) = schema.fields
      .find(_.name.equalsIgnoreCase(c))
      .getOrElse(throw new IllegalArgumentException(
        s"INSERT references unknown column '$c' " +
          s"(columns: ${schema.fieldNames.mkString(", ")})"))
    // static PARTITION (k=v) values ride as literal columns; dynamic
    // entries (PARTITION (k)) just mean "k comes from the query"
    val static = i.partitionSpec.toSeq.collect { case (k, Some(v)) =>
      val f = fieldOf(k)
      f.name -> org.apache.spark.sql.functions.lit(v).cast(f.dataType)
    }
    val staticNames = static.map(_._1.toLowerCase).toSet
    val idCols = t.identityColumn.toSet
    def isId(n: String) = idCols.exists(_.equalsIgnoreCase(n))
    val genCols = t.generatedColumns.keySet
    def isGen(n: String) = genCols.exists(_.equalsIgnoreCase(n))
    // target columns the query's output maps onto, in order
    val aligned: DataFrame =
      if (i.userSpecifiedCols.nonEmpty || i.byName) {
        val names =
          if (i.userSpecifiedCols.nonEmpty) i.userSpecifiedCols
          else df0.columns.toSeq
        require(names.length == df0.columns.length,
          s"INSERT column list has ${names.length} column(s) but the " +
            s"query produces ${df0.columns.length}")
        val fields = names.map(fieldOf)
        fields.find(f => isId(f.name)).foreach(f =>
          throw new IllegalArgumentException(
            s"identity column ${f.name} is GENERATED ALWAYS and cannot " +
              "be inserted"))
        val named = df0.select(df0.columns.zip(fields).map {
          case (c, f) => col(s"`$c`").cast(f.dataType).as(f.name)
        }.toIndexedSeq: _*)
        // unmentioned columns: generated/identity are engine-computed;
        // anything else gets a typed NULL (SQL default semantics)
        val mentioned = fields.map(_.name.toLowerCase).toSet ++ staticNames
        schema.fields.filterNot(f => mentioned.contains(f.name.toLowerCase) ||
            isId(f.name) || isGen(f.name))
          .foldLeft(named)((d, f) => d.withColumn(f.name,
            org.apache.spark.sql.functions.lit(null).cast(f.dataType)))
      } else {
        // positional: the query must cover the insertable columns —
        // every column minus identity/static-partition values, with
        // generated columns either all supplied or all omitted
        val full = schema.fields.toSeq.filterNot(f =>
          isId(f.name) || staticNames.contains(f.name.toLowerCase))
        val noGen = full.filterNot(f => isGen(f.name))
        val cols =
          if (df0.columns.length == full.length) full
          else if (df0.columns.length == noGen.length) noGen
          else throw new IllegalArgumentException(
            s"INSERT query produces ${df0.columns.length} column(s); " +
              s"table expects ${full.length}" +
              (if (noGen.length != full.length) s" (or ${noGen.length} " +
                "with generated columns omitted)" else ""))
        df0.select(df0.columns.zip(cols).map { case (c, f) =>
          col(s"`$c`").cast(f.dataType).as(f.name)
        }.toIndexedSeq: _*)
      }
    val withStatic = static.foldLeft(aligned) { case (d, (n, v)) =>
      d.withColumn(n, v)
    }
    if (!i.overwrite) t.append(withStatic)
    else if (static.isEmpty) {
      // Spark's partitionOverwriteMode=dynamic (the daily-reload
      // idiom): INSERT OVERWRITE on a partitioned table replaces
      // ONLY the partitions the incoming rows land in — a full-table
      // overwrite here would silently drop every other partition
      val dynamic = t.partitionColumns.nonEmpty &&
        spark.conf.get("spark.sql.sources.partitionOverwriteMode",
          "STATIC").equalsIgnoreCase("dynamic")
      if (dynamic) t.overwritePartitions(withStatic)
      else t.overwrite(withStatic)
    } else {
      // INSERT OVERWRITE ... PARTITION (k=v): replace exactly that
      // slice — replaceWhere validates every incoming row against it
      val cond = static.map { case (n, v) => col(s"`$n`") <=> v }
        .reduce(_ && _)
      t.replaceWhere(cond, withStatic)
    }
    refresh(spark, target)
  }

  // ---- target/source resolution ---------------------------------------

  private case class Target(table: GraftTable, quals: Set[String],
      catalogName: Option[String] = None)

  /** Unwrap optional alias, load the graft table behind the catalog
    * entry, and collect the identifiers that qualify its columns.
    */
  private def resolveTarget(spark: SparkSession, plan: LogicalPlan): Target =
    plan match {
      case SubqueryAlias(ident, child) =>
        val t = resolveTarget(spark, child)
        Target(t.table, t.quals + ident.name.toLowerCase, t.catalogName)
      case u: UnresolvedRelation =>
        val parts = u.multipartIdentifier
        val ident = parts match {
          case Seq(t) => TableIdentifier(t)
          case Seq(db, t) => TableIdentifier(t, Some(db))
          case _ => throw new IllegalArgumentException(
            s"unsupported table identifier ${parts.mkString(".")}")
        }
        val meta = spark.sessionState.catalog.getTableMetadata(ident)
        require(meta.provider.exists(_.equalsIgnoreCase("graft-table")),
          s"${parts.mkString(".")} is not a graft-table (provider=${meta.provider})")
        val path = meta.storage.properties.get("path")
          .orElse(meta.storage.locationUri.map(_.getPath))
          .getOrElse(throw new IllegalArgumentException(
            s"no path for graft table ${parts.mkString(".")}"))
        Target(GraftTable.load(spark, GraftTable.localPath(path)),
          Set(parts.last.toLowerCase), Some(parts.mkString(".")))
      case other => throw new IllegalArgumentException(
        s"unsupported DML target: ${other.nodeName}")
    }

  /** Source side of MERGE: a named table (any catalog table) or a
    * parenthesized subquery, with its alias set for rewrites.
    */
  private def resolveSource(spark: SparkSession,
      plan: LogicalPlan): (DataFrame, Set[String]) = plan match {
    case SubqueryAlias(ident, child) =>
      val (df, quals) = resolveSource(spark, child)
      (df, quals + ident.name.toLowerCase)
    case u: UnresolvedRelation =>
      (spark.table(u.multipartIdentifier.mkString(".")),
        Set(u.multipartIdentifier.last.toLowerCase))
    case other => (GraftPlans.ofRows(spark, other), Set.empty)
  }

  // ---- expression rewriting -------------------------------------------

  private def attrName(e: Expression): String = e match {
    case a: UnresolvedAttribute => a.nameParts.last
    case other => throw new IllegalArgumentException(
      s"unsupported assignment key: $other")
  }

  /** DELETE/UPDATE context: strip the target's qualifier so the
    * expression resolves over the bare snapshot frame.
    */
  private def rewriteTarget(e: Expression, target: Target): Column =
    GraftPlans.column(e.transformUp {
      case a: UnresolvedAttribute if a.nameParts.length > 1 &&
          target.quals(a.nameParts.head.toLowerCase) =>
        UnresolvedAttribute(a.nameParts.tail)
    })

  /** Matched-clause context: source-qualified refs become `src.<col>`
    * (the struct GraftTable.merge exposes), target-qualified refs go
    * bare.
    */
  private def rewriteMatched(e: Expression, tgt: Set[String],
      src: Set[String]): Column =
    GraftPlans.column(e.transformUp {
      case a: UnresolvedAttribute if a.nameParts.length > 1 &&
          src(a.nameParts.head.toLowerCase) =>
        UnresolvedAttribute("src" +: a.nameParts.tail)
      case a: UnresolvedAttribute if a.nameParts.length > 1 &&
          tgt(a.nameParts.head.toLowerCase) =>
        UnresolvedAttribute(a.nameParts.tail)
    })

  /** Not-matched context: the expression runs over the bare source
    * frame, so source-qualified refs just lose their qualifier.
    */
  private def rewriteSource(e: Expression, src: Set[String]): Column =
    GraftPlans.column(e.transformUp {
      case a: UnresolvedAttribute if a.nameParts.length > 1 &&
          src(a.nameParts.head.toLowerCase) =>
        UnresolvedAttribute(a.nameParts.tail)
    })

  // ---- MERGE ----------------------------------------------------------

  private def mergeInto(spark: SparkSession, m: MergeIntoTable): Unit = {
    val target = resolveTarget(spark, m.targetTable)
    val (srcDf0, srcQuals) = resolveSource(spark, m.sourceTable)

    // ON <attr> = <attr> [AND ...]: flatten the conjunction, classify
    // each equality's sides by qualifier; unqualified single-key
    // conditions fall back to name equality
    val keyPairs: Seq[(String, String)] =
      GraftTable.conjuncts(m.mergeCondition).map {
      case EqualTo(l: UnresolvedAttribute, r: UnresolvedAttribute) =>
        def isSrc(a: UnresolvedAttribute) =
          a.nameParts.length > 1 && srcQuals(a.nameParts.head.toLowerCase)
        def isTgt(a: UnresolvedAttribute) =
          a.nameParts.length > 1 && target.quals(a.nameParts.head.toLowerCase)
        if (isSrc(l) && !isSrc(r)) (r.nameParts.last, l.nameParts.last)
        else if (isSrc(r) && !isSrc(l)) (l.nameParts.last, r.nameParts.last)
        else if (isTgt(l)) (l.nameParts.last, r.nameParts.last)
        else if (isTgt(r)) (r.nameParts.last, l.nameParts.last)
        else if (l.nameParts.last == r.nameParts.last)
          (l.nameParts.last, r.nameParts.last)
        else throw new IllegalArgumentException(
          s"cannot orient merge condition ${m.mergeCondition.sql}")
      case other => throw new IllegalArgumentException(
        "only conjunctions of column equalities are supported in MERGE " +
          s"ON, got ${other.sql}")
    }
    // GraftTable.merge keys on SHARED column names: ADD each target
    // key as an alias of its source key (keeping the original column,
    // so clause expressions referencing s.<srcKey> still resolve in
    // the src struct)
    val srcDf = keyPairs.foldLeft(srcDf0) { case (d, (tgtKey, srcKey)) =>
      if (srcKey.equalsIgnoreCase(tgtKey)) d
      else {
        // case-INSENSITIVE: withColumn resolves case-insensitively,
        // so a case-differing unrelated column would be silently
        // overwritten if the guard checked exact case
        require(!d.columns.exists(_.equalsIgnoreCase(tgtKey)),
          s"source already has an unrelated column named $tgtKey; " +
            s"alias it away before merging on $srcKey")
        d.withColumn(tgtKey, org.apache.spark.sql.functions.col(srcKey))
      }
    }
    val tgtKeys = keyPairs.map(_._1)

    val matched: Seq[GraftTable.MatchedClause] = m.matchedActions.map {
      case a: UpdateStarAction =>
        GraftTable.MatchedUpdate(
          a.condition.map(rewriteMatched(_, target.quals, srcQuals)), None)
      case a: UpdateAction =>
        GraftTable.MatchedUpdate(
          a.condition.map(rewriteMatched(_, target.quals, srcQuals)),
          Some(a.assignments.map(as => attrName(as.key) ->
            rewriteMatched(as.value, target.quals, srcQuals)).toMap))
      case a: DeleteAction =>
        GraftTable.MatchedDelete(
          a.condition.map(rewriteMatched(_, target.quals, srcQuals)))
      case other => throw new IllegalArgumentException(
        s"unsupported WHEN MATCHED action: $other")
    }
    val notMatched: Option[GraftTable.NotMatchedInsert] =
      m.notMatchedActions match {
        case Seq() => None
        case Seq(a: InsertStarAction) =>
          Some(GraftTable.NotMatchedInsert(
            a.condition.map(rewriteSource(_, srcQuals)), None))
        case Seq(a: InsertAction) =>
          Some(GraftTable.NotMatchedInsert(
            a.condition.map(rewriteSource(_, srcQuals)),
            Some(a.assignments.map(as => attrName(as.key) ->
              rewriteSource(as.value, srcQuals)).toMap)))
        case other => throw new IllegalArgumentException(
          s"at most one WHEN NOT MATCHED clause is supported, got ${other.size}")
      }
    val bySource: Seq[GraftTable.NotMatchedBySourceClause] =
      m.notMatchedBySourceActions.map {
        case a: DeleteAction =>
          GraftTable.BySourceDelete(
            a.condition.map(rewriteBySource(_, target, srcQuals)))
        case a: UpdateAction =>
          GraftTable.BySourceUpdate(
            a.condition.map(rewriteBySource(_, target, srcQuals)),
            a.assignments.map(as => attrName(as.key) ->
              rewriteBySource(as.value, target, srcQuals)).toMap)
        case other => throw new IllegalArgumentException(
          "unsupported WHEN NOT MATCHED BY SOURCE action: " +
            s"$other (DELETE and UPDATE SET are supported; UPDATE SET * " +
            "cannot exist — there is no source row)")
      }
    // MERGE WITH SCHEMA EVOLUTION: Spark's parser carries the flag on
    // MergeIntoTable; source-only columns evolve the target schema in
    // the same commit (GraftTable.merge's evolveSchema path)
    if (dvMode(target.table))
      target.table.mergeMor(srcDf, tgtKeys, matched, notMatched, bySource,
        evolveSchema = m.withSchemaEvolution)
    else
      target.table.merge(srcDf, tgtKeys, matched, notMatched, bySource,
        evolveSchema = m.withSchemaEvolution)
    refresh(spark, target)
  }

  /** Not-matched-by-source context: the clause fires for target rows
    * with NO source match, so only TARGET columns are in scope —
    * source-qualified references are refused loudly instead of
    * resolving to null at runtime.
    */
  private def rewriteBySource(e: Expression, target: Target,
      src: Set[String]): Column = {
    e.foreach {
      case a: UnresolvedAttribute if a.nameParts.length > 1 &&
          src(a.nameParts.head.toLowerCase) &&
          !target.quals(a.nameParts.head.toLowerCase) =>
        throw new IllegalArgumentException(
          "WHEN NOT MATCHED BY SOURCE cannot reference source columns " +
            s"(${a.sql}): the clause fires for target rows with no " +
            "source match")
      case _ => ()
    }
    rewriteTarget(e, target)
  }

  /** DML invalidates the catalog's cached V1 relation — without this
    * a post-DML `spark.table(name)` keeps reading the old snapshot's
    * file list.
    */
  /** Table-property switch for merge-on-read DML (Delta's
    * `enableDeletionVectors` analog): SQL DELETE/UPDATE tombstone
    * rows via DVs instead of copy-on-write rewriting files.
    */
  private def dvMode(t: GraftTable): Boolean =
    t.properties.get("graft.enableDeletionVectors")
      .exists(_.trim.equalsIgnoreCase("true"))

  private def refresh(spark: SparkSession, target: Target): Unit =
    target.catalogName.foreach(n =>
      try spark.catalog.refreshTable(n) catch { case _: Exception => () })

  private def refreshName(spark: SparkSession, ident: String): Unit =
    try spark.catalog.refreshTable(ident.replace("`", ""))
    catch { case _: Exception => () }

  private def emptyResult(spark: SparkSession): DataFrame =
    spark.emptyDataFrame
}
