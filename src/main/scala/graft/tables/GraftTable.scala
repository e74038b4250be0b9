package graft.tables

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

/** A minimal transactional table format on plain parquet — the
  * engine's re-expression of the Delta Lake capabilities the
  * reference leans on (Instructor/01-Fraud-Delta.py: DML at :152-161
  * and :218-241, history/time travel at :214, compaction/Z-ORDER at
  * :279-291), built from public Delta/Iceberg log-structured design
  * ideas but implemented from scratch.
  *
  * Layout:
  * {{{
  *   <path>/files/<uuid>.parquet        immutable data files
  *   <path>/_graft_log/v00000042.json   commit: full file listing
  * }}}
  * Each commit is the complete snapshot (list of data files + schema
  * + op metadata), written atomically via temp-file rename; the
  * latest committed version wins. Readers resolve a version's file
  * list and hand it to the vectorized parquet scan — all data
  * movement is Spark jobs, the driver only touches O(files) metadata.
  *
  * DML is copy-on-write at FILE granularity: delete/update/merge
  * first identify the files that actually contain affected rows
  * (predicate/key semi-join over `input_file_name`, pushed down to
  * the scan) and rewrite only those; untouched files carry over to
  * the new version by reference. At 100 TB with date/key-clustered
  * files (see `clusterBy`), a selective delete rewrites a handful of
  * files, not the table.
  */
class GraftTable private (val spark: SparkSession, val root: Path) {
  import GraftTable._

  private def logDir: Path = root.resolve("_graft_log")

  // ---- log plumbing ----------------------------------------------------

  private def commitFile(v: Long): Path = logDir.resolve(f"v$v%08d.json")

  private def listVersions(): Seq[Long] =
    // a not-yet-born table (deepClone stages data BEFORE creating the
    // log, so a crashed attempt leaves no log to mistake for a table)
    // simply has no versions
    (if (Files.exists(logDir)) GraftTable.listPaths(logDir) else Nil)
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(n => n.substring(1, n.length - 5).toLong)
      .toSeq.sorted

  def latestVersion: Long = listVersions().lastOption.getOrElse(-1L)

  // committed versions are IMMUTABLE (the hard-link claim means a
  // version file is never rewritten), so RESOLVED commits memoize —
  // O(versions) walks (history, change feeds, sink watermarks) stop
  // re-reading, re-parsing and re-resolving the same JSON
  private val commitCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Commit]()

  private def parseCommit(v: Long): Commit = {
    require(Files.exists(commitFile(v)), {
      val vs = listVersions()
      s"version $v does not exist for table at $root (available: " +
        s"${vs.headOption.getOrElse(-1L)}..${vs.lastOption.getOrElse(-1L)}; " +
        "earlier commits may have been removed by log retention)"
    })
    implicit val fmt: Formats = DefaultFormats
    val c = JsonMethods.parse(Files.readString(commitFile(v))).extract[Commit]
    if (!c.format.contains(CommitFormat))
      throw new IllegalStateException(
        s"table at $root: version $v has commit format " +
          s"${c.format.fold("none (an older Graft release)")(_.toString)}, " +
          s"this build reads format $CommitFormat only; recreate the table " +
          "(its protocol state — sink watermarks, COPY INTO markers, " +
          "identity high water — is not readable from this log)")
    c
  }

  /** Read commit `v` RESOLVED to full state. On-disk commits come in
    * two spellings (see [[encodeDelta]]): FULL (the complete file
    * list, stats and protocol state — CREATE, wholesale rewrites, and
    * every Nth commit, which doubles as the checkpoint)
    * and DELTA (`delta=true`: only the commit's adds/removes). A
    * delta chain resolves by walking back to the nearest full commit
    * (≤ interval hops of SMALL files) and folding forward — snapshot
    * resolution reads O(1) full + O(N-since-checkpoint) delta files
    * instead of one ever-growing commit per version. Results memoize.
    */
  private def readCommit(v: Long): Commit = {
    val cached = commitCache.get(v)
    if (cached != null) return cached
    // walk back collecting the unresolved delta suffix
    var chain = List.empty[Commit]
    var cur = v
    var base: Commit = null
    while (base == null) {
      val cc = commitCache.get(cur)
      if (cc != null) base = cc
      else {
        val raw = parseCommit(cur)
        if (raw.delta.contains(true)) { chain = raw :: chain; cur -= 1 }
        else base = raw
      }
    }
    commitCache.putIfAbsent(base.version, base)
    var state = base
    chain.foreach { d =>
      state = resolveDelta(d, state)
      commitCache.putIfAbsent(d.version, state)
    }
    state
  }

  /** Reconstruct a delta commit's full state from its parent's:
    * files = parent − removes + adds; stats/partition values carry
    * for surviving files and merge the adds' entries; the protocol
    * state folds the delta's changed entries into the parent's —
    * exactly the carry rule [[commit]] applies at write time, so a
    * resolved delta commit is indistinguishable from the full commit
    * it encodes.
    */
  private def resolveDelta(raw: Commit, parent: Commit): Commit = {
    val removed = raw.removes.getOrElse(Nil).toSet
    val files = parent.files.filterNot(removed) ++ raw.files
    val fileSet = files.toSet
    val stats = parent.stats
      .filter { case (f, _) => fileSet.contains(f) } ++
      raw.stats
    val pv = parent.partValues.getOrElse(Map.empty)
      .filter { case (f, _) => fileSet.contains(f) } ++
      raw.partValues.getOrElse(Map.empty)
    val st = parent.carried.fold(raw.carried)
    raw.copy(files = files, removes = None, delta = None,
      stats = stats,
      partValues = if (pv.isEmpty) None else Some(pv),
      state = if (st == TableState.empty) None else Some(st))
  }

  /** Checkpoint cadence: every Nth commit is written FULL (the
    * checkpoint), commits between carry only their delta. From
    * `graft.checkpoint.interval` in TBLPROPERTIES (default 10;
    * 0 disables delta encoding entirely).
    */
  private def checkpointIntervalAt(base: Long): Int =
    if (base < 0) 10
    else readCommit(base).properties.getOrElse(Map.empty)
      .get("graft.checkpoint.interval")
      .flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(10)

  /** Delta-encode a full commit for the log when a checkpoint is not
    * due: files = the commit's ADDS, `removes` = dropped names,
    * stats/partition values only for the adds — so a streaming sink
    * appending per micro-batch writes O(batch) log bytes per commit
    * instead of O(table files), and total log size stops growing
    * O(versions × files). Wholesale rewrites (overwrite, restore,
    * compact — where the delta IS the table) stay full commits, as
    * does every Nth version (the implicit checkpoint every reader
    * chain terminates on).
    */
  private def encodeDelta(c: Commit): Commit = {
    if (c.version <= 0) return c
    val interval = checkpointIntervalAt(c.version - 1)
    if (interval <= 0 || c.version % interval == 0) return c
    val parent =
      try readCommit(c.version - 1)
      catch { case scala.util.control.NonFatal(_) => return c }
    val parentSet = parent.files.toSet
    val cSet = c.files.toSet
    val adds = c.files.filterNot(parentSet)
    val removes = parent.files.filterNot(cSet)
    if (adds.size + removes.size >= c.files.size) return c
    c.copy(files = adds,
      removes = if (removes.isEmpty) None else Some(removes),
      delta = Some(true),
      // data files are immutable and uniquely named, so an entry for
      // a parent-listed file is identical to the parent's — only the
      // adds' metadata needs to ride in the delta
      stats = c.stats.filter { case (f, _) => !parentSet.contains(f) },
      partValues = c.partValues
        .map(_.filter { case (f, _) => !parentSet.contains(f) })
        .filter(_.nonEmpty),
      // protocol state likewise: only the entries this commit changed
      state = Some(c.carried.since(parent.carried))
        .filter(_ != TableState.empty))
  }

  /** Atomic optimistic-concurrency commit: content goes to a temp
    * file, then a hard LINK claims the version slot — link(2) fails
    * atomically if the slot exists, unlike rename(2) which silently
    * replaces it. A concurrent writer racing for the same version
    * gets a CommitConflictException and can re-read + retry (the
    * Delta/Iceberg optimistic protocol).
    */
  private def writeCommit(c: Commit): Unit = {
    implicit val fmt: Formats = DefaultFormats
    val tmp = logDir.resolve(s".tmp-${UUID.randomUUID()}")
    Files.writeString(tmp, Serialization.write(encodeDelta(c)))
    try {
      Files.createLink(commitFile(c.version), tmp)
      // memoize the RESOLVED form — readers of this version never
      // need to re-resolve what the writer just computed
      commitCache.putIfAbsent(c.version, c)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new CommitConflictException(
          s"concurrent commit: version ${c.version} already exists at $root")
    } finally Files.deleteIfExists(tmp)
  }

  /** Files written by one staging round: data (or deletion-vector)
    * files with, on a partitioned table, each data file's partition
    * values (Hive-style strings; `__HIVE_DEFAULT_PARTITION__` encodes
    * null), and the change-data (CDC) files of a tagged write.
    */
  private[tables] case class Written(files: Seq[String],
      partValues: Map[String, Map[String, String]],
      cdc: Seq[String] = Nil)

  /** [[writeData]] under the table's layout at version `v`. */
  private def writeData(df: DataFrame, v: Long): Written =
    writeData(df, partitionColumnsAt(v), columnMapAt(v), bucketSpecAt(v))

  /** The one staging write: Spark writes `df` to a staging directory
    * and every leaf file is adopted under a unique name in one walk.
    *
    * `df` carries LOGICAL names; files always store PHYSICAL ones
    * (`cm`), CDC files included — partition and bucket columns are
    * rename-immutable, so they need no translation. Three optional
    * levels shape the staging layout:
    *  - `__tag` (DML): a frame with this column lands its rows in
    *    `__tag=d` (rewritten data) and `__tag=c` (the commit's
    *    write-time change set, `_change_type` set) directories, so one
    *    scan and one write job produce both; `__tag=c` leaves go to
    *    `cdc/`, and the data files carry a physically present but
    *    all-null `_change_type` column (every read path scans under an
    *    explicit schema, and footer stats skip all-null columns).
    *  - `__gp_<col>` (partitioned tables): `partitionBy` on DUPLICATED
    *    partition columns, so no data file spans two partition tuples
    *    while the files keep the full schema (self-describing: every
    *    read/DML path scans them unchanged). Each data file's tuple
    *    parses from its directory names and is recorded in the commit,
    *    which makes dynamic partition overwrite exact and partition
    *    pruning type-faithful for values (e.g. non-ASCII strings) the
    *    footer-stats path must drop.
    *  - bucketing: `repartition(n, cols)` IS Spark's bucket-id function
    *    (pmod(murmur3(cols), n) — HashPartitioning's
    *    partitionIdExpression), so the writer's task index (the
    *    `part-NNNNN` prefix) is the bucket id, carried into the adopted
    *    name in Spark's own bucket-file suffix
    *    ([[org.apache.spark.sql.execution.datasources.BucketingUtils]]);
    *    every write path re-buckets, keeping the table join-aligned.
    * A frame without `__tag` on an unpartitioned, unbucketed layout is
    * a plain `write.parquet`. Leaves outside `__tag=c` go to `dir`
    * (`files` for data, `dv` for deletion vectors, `cdc` for a change
    * set written on its own); bloom sidecars cover `files/` only.
    */
  private def writeData(df: DataFrame, pcols: Seq[String],
      cm: Map[String, String] = Map.empty,
      buckets: Option[(Seq[String], Int)] = None,
      dir: String = "files"): Written = {
    import org.apache.spark.sql.execution.datasources.BucketingUtils
    val out = if (cm.isEmpty) df
      else df.select(df.columns.map(c =>
        col(s"`$c`").as(cm.getOrElse(c, c))).toIndexedSeq: _*)
    val dup = pcols.foldLeft(out)((d, c) =>
      d.withColumn(s"__gp_$c", col(s"`$c`")))
    val shaped = buckets.fold(dup) { case (bcols, n) =>
      dup.repartition(n, bcols.map(c => col(s"`$c`")): _*)
    }
    val tagged = df.columns.contains("__tag")
    val levels = (if (tagged) Seq("__tag") else Nil) ++ pcols.map("__gp_" + _)
    val staging = root.resolve(s".staging-${UUID.randomUUID()}")
    (if (levels.isEmpty) shaped.write
     else shaped.write.partitionBy(levels: _*)).parquet(staging.toString)
    Files.createDirectories(root.resolve(dir))
    if (tagged) Files.createDirectories(root.resolve("cdc"))
    val leaves = {
      val s = Files.walk(staging)
      try s.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet") &&
          Files.isRegularFile(p)).toList
      finally s.close()
    }
    val partNum = """part-(\d+)""".r
    val adopted = leaves.map { p =>
      val rel = staging.relativize(p)
      val segs = (0 until rel.getNameCount - 1).map(rel.getName(_).toString)
      val isCdc = segs.contains("__tag=c")
      val suffix = if (isCdc || buckets.isEmpty) "" else
        BucketingUtils.bucketIdToString(
          partNum.findFirstMatchIn(p.getFileName.toString)
            .map(_.group(1).toInt)
            .getOrElse(throw new IllegalStateException(
              s"cannot derive bucket id from staged file ${p.getFileName}")))
      val vals = segs.filter(_.startsWith("__gp_")).map { seg =>
        val i = seg.indexOf('=')
        seg.substring(0, i).stripPrefix("__gp_") ->
          unescapePathName(seg.substring(i + 1))
      }.toMap
      require(isCdc || pcols.forall(vals.contains),
        s"staging layout missing partition value(s) in $rel")
      val target = if (isCdc) "cdc" else dir
      val name = s"${UUID.randomUUID()}$suffix.parquet"
      Files.move(p, root.resolve(target).resolve(name))
      (isCdc, s"$target/$name", vals)
    }
    deleteRecursively(staging)
    val (cdc, data) = adopted.partition(_._1)
    val files = data.map(_._2)
    if (dir == "files") writeBlooms(files)
    Written(files,
      if (pcols.isEmpty) Map.empty else data.map(a => a._2 -> a._3).toMap,
      cdc.map(_._2))
  }

  /** BLOOM FILTER INDEX declaration, from TBLPROPERTIES:
    * `graft.bloom.columns` (comma-separated) opts columns into
    * per-file bloom sidecars; `graft.bloom.bits` sizes them (set
    * ≈10 bits per expected distinct key per file). Files written
    * BEFORE the declaration have no sidecars (pruning stays
    * conservative there) — [[rebuildBloomIndex]] backfills.
    */
  private def bloomColumns: Seq[String] =
    (if (latestVersion < 0) None
     else readCommit(latestVersion).properties.getOrElse(Map.empty)
       .get("graft.bloom.columns"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)

  private def bloomBits: Int =
    properties.get("graft.bloom.bits").flatMap(s =>
      scala.util.Try(s.toInt).toOption).filter(b => b >= 64 && b % 64 == 0)
      .getOrElse(BloomIndex.defaultBits)

  private def writeBlooms(relFiles: Seq[String]): Unit = {
    val cols = bloomColumns
    if (cols.isEmpty || relFiles.isEmpty) return
    val cm = columnMapAt(latestVersion)
    // the index is an optimization: a build failure (misdeclared
    // column, unhashable type) must not fail the data write — the
    // files simply stay sidecar-less and pruning stays conservative
    try BloomIndex.write(spark, relFiles.map(abs),
      cols.map(c => cm.getOrElse(c, c)), bloomBits)
    catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Backfill bloom sidecars for every current file (after declaring
    * `graft.bloom.columns` on an existing table, or adopting one).
    */
  def rebuildBloomIndex(): Unit = writeBlooms(currentFiles)

  private def unescapePathName(s: String): String =
    GraftTable.unescapePathName(s)

  /** Scan `files` with the row's physical address attached — schema
    * columns plus `__fp` (absolute file path, from the parquet
    * `_metadata` column, which unlike input_file_name() survives
    * joins) and `__pos` (row index within the file) — minus any rows
    * masked by the given deletion vectors. The DV mask is a LEFT ANTI
    * join on (file, position): the DV side is tombstones only, so AQE
    * broadcasts it against any realistically sized table.
    */
  private def scanWithPos(files: Seq[String], schema: StructType,
      dv: Seq[String], cm: Map[String, String] = Map.empty): DataFrame = {
    if (files.isEmpty) {
      val withAddr = StructType(schema.fields ++ Seq(
        org.apache.spark.sql.types.StructField("__fp",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("__pos",
          org.apache.spark.sql.types.LongType)))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], withAddr)
    }
    val raw = readRaw(files, schema, cm, withMeta = true)
    if (dv.isEmpty) raw
    else raw.join(dvPairFrame(dv), Seq("__fp", "__pos"), "left_anti")
  }

  /** One physical scan (two when the file set mixes graft-written and
    * Hive-adopted files) surfacing the caller's LOGICAL column names
    * in `schema` order. Hive-adopted files ([[GraftTable.convert]] on
    * a `k=v` layout) do not physically contain the partition columns,
    * so they read through Spark's own partition discovery
    * (`basePath` = table root) which parses and casts the values from
    * the directory names — still ONE vectorized scan, partition
    * columns injected plan-side, no per-partition union. Graft-written
    * files are self-describing and read exactly as before.
    */
  private def readRaw(files: Seq[String], schema: StructType,
      cm: Map[String, String], withMeta: Boolean): DataFrame = {
    val metaCols =
      if (withMeta) Seq(col("_metadata.file_path").as("__fp"),
        col("_metadata.row_index").as("__pos"))
      else Nil
    def finish(df: DataFrame): DataFrame =
      df.select(schema.fields.map(f =>
        col(s"`${physName(cm, f.name)}`").as(f.name)).toIndexedSeq
        ++ metaCols: _*)
    // routing gate: a file is hive-adopted only when its trailing
    // k=v keys are EXACTLY this table's partition columns — a flat
    // table living under a directory that happens to contain '='
    // (e.g. /warehouse/ds=2024) must never be misrouted through
    // partition discovery (streaming replay hands ABSOLUTE paths in)
    val pcols = partitionColumnsAt(latestVersion)
    def isHive(f: String) = pcols.nonEmpty &&
      GraftTable.hivePartSegments(f).map(_._1) == pcols
    val (hiveFs, plainFs) = files.partition(isHive)
    // files store PHYSICAL column names; partition columns are
    // rename-immutable so their physical name IS the logical name
    val phys = physicalSchema(schema, cm)
    // one scan per discovery root: the root is the path above the
    // k=v run, which is this table for its own adopted files and the
    // SOURCE table for shallow-cloned ones (absolute references)
    val hiveScans = hiveFs.groupBy { f =>
      val a = abs(f).replace('\\', '/')
      val n = GraftTable.hivePartSegments(a).length
      a.split('/').dropRight(n + 1).mkString("/")
    }.toSeq.sortBy(_._1).map { case (base, fs) =>
      finish(spark.read.schema(phys)
        .option("basePath", base).parquet(fs.map(abs): _*))
    }
    val scans = (if (plainFs.isEmpty) Nil
      else Seq(finish(
        spark.read.schema(phys).parquet(plainFs.map(abs): _*)))) ++ hiveScans
    // zero files: an empty frame under the same schema, as the plain
    // zero-varargs parquet read always produced
    if (scans.isEmpty) finish(spark.read.schema(phys).parquet())
    else scans.reduce(_ unionByName _)
  }

  /** Deletion-vector tombstones as distinct (`__fp`, `__pos`) rows —
    * ONE spelling shared by the scan mask and the change feed's
    * liveness diff, so the two can never diverge on e.g. path
    * normalization.
    */
  private def dvPairFrame(dv: Seq[String]): DataFrame =
    if (dv.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          org.apache.spark.sql.types.StructField("__fp",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("__pos",
            org.apache.spark.sql.types.LongType))))
    else spark.read.parquet(dv.map(abs): _*)
      .select(col("file_path").as("__fp"), col("pos").as("__pos"))
      .dropDuplicates("__fp", "__pos")

  /** Read `files` under the LOGICAL `schema` with deletion vectors
    * applied and column mapping translated (plain vectorized scan
    * when neither is active — the common case costs nothing).
    */
  private def readFilesDvAware(files: Seq[String], schema: StructType,
      dv: Seq[String], cm: Map[String, String] = Map.empty): DataFrame =
    if (dv.isEmpty) readRaw(files, schema, cm, withMeta = false)
    else scanWithPos(files, schema, dv, cm)
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)

  /** Per-file min/max per eligible column, read straight from the
    * parquet FOOTERS the writers already produced — zero extra data
    * scan (vs an aggregation job over the new files). O(files)
    * footer reads at write time buy O(files) pruning on every later
    * selective read/DML — the Delta/Iceberg data-skipping trade on
    * the commit log.
    */
  /** `genZone = null` (default) stamps the session zone — right for
    * any write whose generated values are all session-fresh. Rewrites
    * that CARRY old rows pass [[rewriteStampZone]]'s verdict instead.
    */
  private def collectStats(files: Seq[String],
      genZone: Option[String] = null): Map[String, FileStats] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val z = if (genZone != null) genZone else Some(sessionTz)
    // footer reads are independent driver-side I/O — at thousands of
    // files per commit, serial reads would dominate the write path
    implicit val ec: ExecutionContext = ExecutionContext.global
    val fs = files.map(rel => Future(collectStatsOne(rel, z)))
    Await.result(Future.sequence(fs), 30.minutes).toMap
  }

  /** Zone to stamp on a REWRITE's output files: kept rows preserve
    * the generated values they were materialized with, so the stamp
    * is sound only when every INPUT file agrees on one recorded zone
    * — and, when the op also writes session-clock values (UPDATE/
    * MERGE recompute, merge inserts, replaceWhere's fresh slice),
    * that zone is the session's. None = outputs unstamped: derivation
    * stays off for them forever, conservative. Tables without
    * tz-dependent generation always stamp (the stamp is never
    * consulted there).
    */
  private def rewriteStampZone(inputs: Seq[String], base: Long,
      sessionValues: Boolean): Option[String] = {
    if (tzDependentGens.isEmpty || inputs.isEmpty) return Some(sessionTz)
    val stats = if (base < 0) Map.empty[String, FileStats]
      else readCommit(base).stats
    val zones = inputs.map(f => stats.get(f).flatMap(_.tz))
    if (zones.exists(_.isEmpty)) return None
    val zs = zones.flatten
    if (!zs.tail.forall(sameZone(zs.head, _))) None
    else if (sessionValues && !sameZone(zs.head, sessionTz)) None
    else Some(zs.head)
  }

  /** Per-file stamp variant: partition-aligned rewrites stamp each
    * output from ITS partition's input zone ([[partitionStampZones]]).
    */
  private def collectStats(files: Seq[String],
      genZoneFor: String => Option[String]): Map[String, FileStats] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val fs = files.map(rel => Future(collectStatsOne(rel, genZoneFor(rel))))
    Await.result(Future.sequence(fs), 30.minutes).toMap
  }

  /** Per-OUTPUT-file stamp zones for a partition-aligned PURE rewrite
    * (COMPACT/CLUSTER/ZORDER never merge rows across partitions and
    * inject no session-clock values): each output takes its
    * partition's common input zone, so a multi-zone table keeps
    * derivation alive through routine maintenance — only a partition
    * whose own inputs already disagree stands down. Outputs without a
    * partition tuple (unpartitioned table) take the global
    * common-zone verdict.
    */
  private def partitionStampZones(inputs: Seq[String], base: Long,
      outPartValues: Map[String, Map[String, String]])
      : String => Option[String] = {
    if (tzDependentGens.isEmpty) return _ => Some(sessionTz)
    val global = rewriteStampZone(inputs, base, sessionValues = false)
    val stats = if (base < 0) Map.empty[String, FileStats]
      else readCommit(base).stats
    val pv = if (base < 0) Map.empty[String, Map[String, String]]
      else readCommit(base).partValues.getOrElse(Map.empty)
    val byTuple: Map[Option[Map[String, String]], Option[String]] =
      inputs.groupBy(pv.get).map { case (tup, fs) =>
        val zones = fs.map(f => stats.get(f).flatMap(_.tz))
        tup -> (if (zones.exists(_.isEmpty)) None else {
          val zs = zones.flatten
          if (zs.tail.forall(sameZone(zs.head, _))) Some(zs.head) else None
        })
      }
    out => outPartValues.get(out) match {
      case Some(tup) => byTuple.getOrElse(Some(tup), global)
      case None => global
    }
  }

  private def collectStatsOne(rel: String,
      genZone: Option[String]): (String, FileStats) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val conf = spark.sessionState.newHadoopConf()
    Seq(rel).map { rel =>
      val in = HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(abs(rel)), conf)
      val reader = ParquetFileReader.open(in)
      try {
        val footer = reader.getFooter
        val mins = scala.collection.mutable.Map[String, Double]()
        val maxs = scala.collection.mutable.Map[String, Double]()
        val smins = scala.collection.mutable.Map[String, String]()
        val smaxs = scala.collection.mutable.Map[String, String]()
        // a column with ANY non-qualifying block must drop its string
        // stat entirely — partial coverage would mis-prune
        val sInvalid = scala.collection.mutable.Set[String]()
        // parquet BINARY stats are unsigned-byte-lexicographic, which
        // for UTF-8 equals CODE-POINT order — so any string qualifies
        // as long as both sides compare code-point-wise (Java String
        // order diverges only in the surrogate range; see utf8Cmp).
        // Bounded length stays as a truncation guard: an abbreviated
        // max would under-report and mis-prune
        def statOk(s: String): Boolean = s.length <= 64
        footer.getBlocks.asScala.foreach { block =>
          block.getColumns.asScala.foreach { cc =>
            val name = cc.getPath.toDotString
            val st = cc.getStatistics
            if (st != null && st.hasNonNullValue) {
              val prim = cc.getPrimitiveType.getPrimitiveTypeName
              if (prim == BINARY &&
                  cc.getPrimitiveType.getLogicalTypeAnnotation ==
                    org.apache.parquet.schema.LogicalTypeAnnotation.stringType()) {
                val lo = st.genericGetMin
                  .asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
                val hi = st.genericGetMax
                  .asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
                if (statOk(lo) && statOk(hi)) {
                  smins.update(name, smins.get(name)
                    .filter(GraftTable.utf8Cmp(_, lo) <= 0).getOrElse(lo))
                  smaxs.update(name, smaxs.get(name)
                    .filter(GraftTable.utf8Cmp(_, hi) >= 0).getOrElse(hi))
                } else sInvalid.add(name)
              }
              // stats must live in the SAME domain as the pushed
              // Catalyst literal or pruning silently drops matching
              // files: decimals store UNSCALED ints (descale by the
              // logical type's scale), and timestamp stats are only
              // trusted in MICROS (Catalyst's literal unit)
              import org.apache.parquet.schema.LogicalTypeAnnotation
              val logical = cc.getPrimitiveType.getLogicalTypeAnnotation
              val decimalScale: Option[Int] = logical match {
                case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
                  Some(d.getScale)
                case _ => None
              }
              val nonMicrosTimestamp = logical match {
                case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                  t.getUnit != LogicalTypeAnnotation.TimeUnit.MICROS
                case _ => false
              }
              val lohi: Option[(Double, Double)] = prim match {
                case _ if nonMicrosTimestamp => None
                case INT32 | INT64 =>
                  // long → double is lossy beyond 2^53; a rounded-UP
                  // min (or rounded-down max) would let pruning drop
                  // a file that holds matching rows. Widen one ULP
                  // outward in that range — pruning must only ever
                  // be conservative.
                  val lo = st.genericGetMin.asInstanceOf[Number].longValue
                  val hi = st.genericGetMax.asInstanceOf[Number].longValue
                  val exact = 1L << 53
                  val loD = if (math.abs(lo) > exact) Math.nextDown(lo.toDouble) else lo.toDouble
                  val hiD = if (math.abs(hi) > exact) Math.nextUp(hi.toDouble) else hi.toDouble
                  decimalScale match {
                    case Some(s) =>
                      val f = math.pow(10, s)
                      // descaled bounds widened one ULP outward:
                      // the division may round toward the interior
                      Some((Math.nextDown(loD / f), Math.nextUp(hiD / f)))
                    case None => Some((loD, hiD))
                  }
                case FLOAT | DOUBLE => Some((
                  st.genericGetMin.asInstanceOf[Number].doubleValue,
                  st.genericGetMax.asInstanceOf[Number].doubleValue))
                case _ => None
              }
              lohi.foreach { case (lo, hi) =>
                mins.update(name, math.min(mins.getOrElse(name, lo), lo))
                maxs.update(name, math.max(maxs.getOrElse(name, hi), hi))
              }
            }
          }
        }
        val sm = (smins -- sInvalid).toMap
        val sx = (smaxs -- sInvalid).toMap
        // the footer's exact row count rides along for free — it
        // powers metadata-only COUNT(*) (rowCount)
        val nRows = footer.getBlocks.asScala.map(_.getRowCount).sum
        rel -> FileStats(mins.toMap, maxs.toMap,
          if (sm.isEmpty) None else Some(sm),
          if (sx.isEmpty) None else Some(sx),
          nRows,
          // the stamp is only ever consulted on tables with
          // tz-dependent generated columns, whose data files are all
          // graft-written (gens exist from CREATE) — adopted/
          // CONVERTed files never mislead. A stood-down verdict
          // records no stamp, which no reader's zone matches.
          genZone)
      } finally reader.close()
    }.head
  }

  /** EXACT row count from commit-log metadata alone — zero scan, the
    * Delta "SELECT COUNT(*) from stats" fast path. None when deletion
    * vectors are active (tombstones would need their own exact
    * accounting).
    */
  def rowCount: Option[Long] = {
    if (latestVersion < 0) return Some(0L)
    val c = readCommit(latestVersion)
    if (c.dv.exists(_.nonEmpty)) None
    else Some(c.files.map(c.stats(_).rows).sum)
  }

  /** Column MAXIMUM from commit-log footer stats alone — zero scan,
    * the metadata fast path behind O(files) introspection statements
    * (DESCRIBE EXPORT's one-shot ledger). None when any current file
    * lacks the stat (string-typed or all-null columns) or when
    * deletion vectors are active (a tombstoned max row would
    * mislead); column-mapped tables resolve the LOGICAL name through
    * the physical mapping the stats are keyed by.
    */
  private[graft] def columnMaxStat(name: String): Option[Double] = {
    if (latestVersion < 0) return None
    val c = readCommit(latestVersion)
    if (c.dv.exists(_.nonEmpty)) return None
    val phys = c.columnMap.getOrElse(Map.empty).getOrElse(name, name)
    // a ZERO-ROW file (the createIfAbsent placeholder) has no column
    // stats and no rows to describe — skip it rather than abort
    val maxs = c.files.map { f =>
      val st = c.stats(f)
      if (st.rows == 0L) Some(None) else st.maxs.get(phys).map(m => Some(m))
    }
    if (maxs.isEmpty || maxs.exists(_.isEmpty)) None
    else {
      val xs = maxs.flatten.flatten
      if (xs.isEmpty) None else Some(xs.max)
    }
  }

  /** Per-KEY column maxima from footer stats alone, for tables whose
    * files are each single-key (every file's key min == max — the
    * layout one append per key leaves, e.g. per-epoch export
    * appends): key → max(valCol) across that key's files. None when
    * any file lacks the column stats, SPANS keys, or deletion vectors
    * are active — callers fall back to the full aggregate, so
    * correctness never rides this fast path.
    */
  private[graft] def perKeyMaxStat(keyCol: String,
      valCol: String): Option[Map[Long, Double]] = {
    if (latestVersion < 0) return None
    val c = readCommit(latestVersion)
    if (c.dv.exists(_.nonEmpty)) return None
    val cm = c.columnMap.getOrElse(Map.empty)
    val k = cm.getOrElse(keyCol, keyCol)
    val v = cm.getOrElse(valCol, valCol)
    // outer None = abort the fast path (missing or key-spanning
    // stats); inner None = a zero-row placeholder file, skipped
    val perFile: Seq[Option[Option[(Long, Double)]]] = c.files.map { f =>
      val st = c.stats(f)
      if (st.rows == 0L) Some(None)
      else (st.mins.get(k), st.maxs.get(k), st.maxs.get(v)) match {
        case (Some(kmin), Some(kmax), Some(vmax)) if kmin == kmax =>
          Some(Some(kmin.toLong -> vmax))
        case _ => None
      }
    }
    if (perFile.isEmpty || perFile.exists(_.isEmpty)) None
    else {
      val xs = perFile.flatten.flatten
      if (xs.isEmpty) None
      else Some(xs.groupBy(_._1)
        .map { case (key, ys) => key -> ys.map(_._2).max })
    }
  }

  /** Commit against an explicit BASE version: the new commit claims
    * exactly base+1. If a concurrent writer committed after `base`
    * was read, the hard-link claim fails → CommitConflictException —
    * instead of silently publishing a file list computed from a
    * stale snapshot (the lost-update the version must guard).
    *
    * `dv`: None carries the base version's deletion-vector list
    * forward (stale entries for files no longer listed are harmless —
    * the read-side anti-join keys on exact file paths and rewritten
    * files get fresh names); Some(list) sets it explicitly
    * (Some(Nil) clears, for ops that rewrite every file).
    *
    * `state`: this commit's protocol-state additions, folded into the
    * base's carried state (watermarks by max, retired names by
    * union); physical column names this commit removes from the
    * schema join the retired set here, whatever the op. RESTORE
    * therefore keeps the latest state, so no watermark goes down.
    */
  private def commit(op: String, base: Long, files: Seq[String],
      schema: StructType, metrics: Map[String, Long],
      newStats: Map[String, FileStats] = Map.empty,
      newConstraints: Map[String, String] = Map.empty,
      cdcFiles: Option[Seq[String]] = None,
      dv: Option[Seq[String]] = None,
      newPartValues: Map[String, Map[String, String]] = Map.empty,
      partitionByOpt: Option[Seq[String]] = None,
      newColumnMap: Option[Map[String, String]] = None,
      replaceConstraints: Option[Map[String, String]] = None,
      newProperties: Map[String, String] = Map.empty,
      generatedOpt: Option[Map[String, String]] = None,
      identityOpt: Option[String] = None,
      bucketByOpt: Option[(Seq[String], Int)] = None,
      state: TableState = TableState.empty): Long = {
    val v = base + 1
    // Set membership, not List.contains — the carry filters run per
    // stats/partition-values entry, and O(files²) per commit bites at
    // 100k-file tables
    val fileSet = files.toSet
    val carried = if (v == 0) Map.empty[String, FileStats]
      else readCommit(base).stats
        .filter { case (f, _) => fileSet.contains(f) }
    val carriedConstraints =
      if (v == 0) Map.empty[String, String]
      else readCommit(base).constraints.getOrElse(Map.empty)
    val dvList = dv.getOrElse(if (v == 0) Nil else dvAt(base)).toList
    // partition spec is immutable after CREATE/CLONE; per-file values
    // carry with the files they describe, exactly like stats
    val pb = if (v == 0) partitionByOpt.map(_.toList)
      else readCommit(base).partitionBy
    val carriedPv = if (v == 0) Map.empty[String, Map[String, String]]
      else readCommit(base).partValues.getOrElse(Map.empty)
        .filter { case (f, _) => fileSet.contains(f) }
    val pvAll = carriedPv ++ newPartValues
    // the logical→physical column map carries forward like
    // constraints; RENAME/DROP/evolve commits replace it wholesale
    val cmOut = newColumnMap.getOrElse(
      if (v == 0) Map.empty[String, String] else columnMapAt(base))
    val constraintsOut =
      replaceConstraints.getOrElse(carriedConstraints ++ newConstraints)
    val propsOut = (if (v == 0) Map.empty[String, String]
      else readCommit(base).properties.getOrElse(Map.empty)) ++ newProperties
    // generation/identity specs are immutable after CREATE/CLONE
    val genOut = if (v == 0) generatedOpt
      else readCommit(base).generated
    val idOut = if (v == 0) identityOpt
      else readCommit(base).identityCol
    val (bkOut, nbOut) =
      if (v == 0) (bucketByOpt.map(_._1.toList), bucketByOpt.map(_._2))
      else (readCommit(base).bucketBy, readCommit(base).numBuckets)
    // IN-COMMIT monotonic timestamps (Delta's inCommitTimestamps
    // rationale): every timestamp surface — TIMESTAMP AS OF's
    // backward scan, startingTimestamp, RETAIN n HOURS, CDF bounds —
    // assumes commit timestamps never decrease, which a stepping
    // clock (NTP correction, VM migration) would break. Clamp to
    // parent+1ms; the lie is bounded by the actual skew and heals as
    // the clock catches up.
    val tsOut = math.max(System.currentTimeMillis(),
      if (v == 0) Long.MinValue else readCommit(base).timestampMs + 1)
    val schemaJson = schema.json
    val stateOut = if (v == 0) state else {
      val p = readCommit(base)
      val pcm = p.columnMap.getOrElse(Map.empty)
      val dropped =
        if (p.schemaJson == schemaJson && pcm == cmOut) Set.empty[String]
        else physicalSchema(schemaAt(base), pcm).fieldNames.toSet --
          physicalSchema(schema, cmOut).fieldNames
      p.carried.fold(state).fold(TableState.of(Map.empty, dropped))
    }
    writeCommit(Commit(v, tsOut, op, files.toList,
      schemaJson, metrics, carried ++ newStats,
      Some(constraintsOut),
      cdcFiles.map(_.toList),
      if (dvList.isEmpty) None else Some(dvList),
      pb, if (pvAll.isEmpty) None else Some(pvAll),
      if (cmOut.isEmpty) None else Some(cmOut),
      if (propsOut.isEmpty) None else Some(propsOut),
      genOut, idOut, bkOut, nbOut,
      state = Some(stateOut).filter(_ != TableState.empty),
      format = Some(CommitFormat)))
    v
  }

  /** Bucketing spec declared at CREATE (columns, bucket count). */
  def bucketSpec: Option[(Seq[String], Int)] = bucketSpecAt(latestVersion)

  private[graft] def bucketSpecAt(v: Long): Option[(Seq[String], Int)] =
    if (v < 0) None
    else {
      val c = readCommit(v)
      for { b <- c.bucketBy; n <- c.numBuckets } yield (b: Seq[String], n)
    }

  /** Generation expressions declared at CREATE (col → SQL expr). */
  def generatedColumns: Map[String, String] =
    if (latestVersion < 0) Map.empty
    else readCommit(latestVersion).generated.getOrElse(Map.empty)

  /** The GENERATED ALWAYS AS IDENTITY column, if declared. */
  def identityColumn: Option[String] =
    if (latestVersion < 0) None
    else readCommit(latestVersion).identityCol

  /** May tz-dependent derived conditions prune the file behind these
    * stats? Only when its per-file zone stamp ([[FileStats.tz]]) is
    * recorded AND matches the session — sessions in different zones
    * may all write, and derivation ([[derivedGenConds]]) applies per
    * FILE; a stood-down (unstamped) file was materialized under a
    * clock no reader can vouch for and is kept unconditionally.
    */
  private[tables] def fileZoneOk(stats: Option[GraftTable.FileStats]): Boolean =
    stats.flatMap(_.tz).exists(sameZone(_, sessionTz))

  private def sessionTz: String =
    spark.sessionState.conf.sessionLocalTimeZone

  /** Zone equality by RULES, not spelling: 'UTC' vs 'Etc/UTC' vs
    * '+00:00', or 'Asia/Kolkata' vs 'Asia/Calcutta', are the same
    * clock — a raw string compare would refuse writes or silently
    * stand down derivation between semantically identical sessions.
    * The recorded string in the commit log stays as written;
    * unparseable ids fall back to exact-string equality.
    */
  private def sameZone(a: String, b: String): Boolean =
    a == b || (try {
      val za = java.time.ZoneId.of(a).normalized()
      val zb = java.time.ZoneId.of(b).normalized()
      za == zb || za.getRules == zb.getRules
    } catch { case _: Exception => false })

  /** Generated columns whose expression references a TIMESTAMP
    * (instant) input — the tz-dependent ones. */
  private def tzDependentGens: Seq[String] = {
    val schema = currentSchema
    generatedColumns.toSeq.collect {
      case (c, g) if referencedColumns(g).exists(r =>
        schema.fields.exists(f => f.name.equalsIgnoreCase(r) &&
          f.dataType == org.apache.spark.sql.types.TimestampType)) => c
    }
  }

  /** Highest identity value ever committed (a carried watermark, so
    * it survives restarts and log retention, and concurrent writers
    * take the max).
    */
  def identityHighWater: Long = watermark(identityKey).getOrElse(-1L)

  /** The latest commit's carried protocol state. */
  private def latestState: TableState = {
    val v = latestVersion
    if (v < 0) TableState.empty else readCommit(v).carried
  }

  /** Carried watermark `key` (sink batch ids, MV source versions):
    * one read of the latest commit, however long the log.
    */
  private[tables] def watermark(key: String): Option[Long] =
    latestState.marks.get(key)

  // ---- column mapping (rename/drop without rewrite) --------------------

  /** Logical→PHYSICAL column names at `v` (Delta column mapping:
    * files keep their original column names forever; RENAME/DROP are
    * pure metadata commits). Identity entries are omitted.
    */
  private def columnMapAt(v: Long): Map[String, String] =
    if (v < 0) Map.empty else readCommit(v).columnMap.getOrElse(Map.empty)

  /** Reader-feature gate twin of [[hasDvs]]: surfaces that read data
    * files by their raw column names (the registered file-granular
    * scan, streaming replay) cannot apply the rename indirection.
    */
  private[graft] def hasColumnMapping(v: Long): Boolean =
    columnMapAt(v).nonEmpty

  private def physName(cm: Map[String, String], logical: String): String =
    cm.getOrElse(logical, logical)

  private def physicalSchema(schema: StructType,
      cm: Map[String, String]): StructType =
    if (cm.isEmpty) schema
    else StructType(schema.fields.map(f => f.copy(name = physName(cm, f.name))))

  /** Every physical column name any commit ≤ `v` ever used — the
    * collision set for fresh-name allocation (a re-added logical name
    * must NOT resurrect a dropped physical column's bytes): the names
    * of `v`'s schema plus the retired names its state carries.
    */
  private def usedPhysicalNames(v: Long): Set[String] =
    physicalSchema(schemaAt(v), columnMapAt(v)).fieldNames.toSet ++
      readCommit(v).carried.retiredNames

  private def requireUnconstrained(base: Long, colName: String,
      op: String): Unit = {
    val hit = readCommit(base).constraints.getOrElse(Map.empty).collectFirst {
      case (n, pred) if ("\\b" + java.util.regex.Pattern.quote(colName) +
          "\\b").r.findFirstIn(pred).isDefined => n
    }
    require(hit.isEmpty,
      s"cannot $op column '$colName': referenced by CHECK constraint '${hit.get}'")
  }

  /** Generated/identity guard twin of [[requireUnconstrained]]: the
    * generation specs and the identity marker are keyed by COLUMN
    * NAME in commit metadata (like partition/bucket columns), so a
    * rename or drop of the column itself — or of a column a
    * generation expression derives from — would leave every later
    * write unable to compute or validate the spec: injectWriteColumns
    * re-adds the stale name (which checkSchema then rejects) or
    * `expr(gen)` fails to resolve, bricking the table. Metadata-only
    * column mapping cannot rewrite expression text, so these columns
    * are rename/drop-immutable, the Delta posture.
    */
  private def requireNotGenerative(base: Long, colName: String,
      op: String): Unit = {
    val c = readCommit(base)
    val gens = c.generated.getOrElse(Map.empty)
    require(!gens.contains(colName),
      s"cannot $op generated column '$colName' (its generation " +
        s"expression [${gens.getOrElse(colName, "")}] is keyed by " +
        "the name)")
    val ref = gens.collectFirst {
      case (g, e) if ("\\b" + java.util.regex.Pattern.quote(colName) +
          "\\b").r.findFirstIn(e).isDefined => g
    }
    require(ref.isEmpty,
      s"cannot $op column '$colName': generated column " +
        s"'${ref.getOrElse("")}' derives from it")
    require(!c.identityCol.contains(colName),
      s"cannot $op identity column '$colName' (the high-water " +
        "marker is keyed by the name)")
  }

  /** ALTER TABLE ... RENAME COLUMN analog: O(1) metadata commit, no
    * file rewritten — the new logical name maps to the old PHYSICAL
    * name, and every read/write path translates at its choke point.
    * Partition and constraint columns are immutable (their names are
    * baked into commit metadata / predicate SQL).
    */
  def renameColumn(oldName: String, newName: String): Long = {
    val base = latestVersion
    val schema = schemaAt(base)
    val cm = columnMapAt(base)
    val field = schema.fields.find(_.name.equalsIgnoreCase(oldName))
      .getOrElse(throw new IllegalArgumentException(
        s"no such column '$oldName' (columns: ${schema.fieldNames.mkString(", ")})"))
    require(!schema.fieldNames.exists(_.equalsIgnoreCase(newName)),
      s"column '$newName' already exists")
    GraftTable.requireUnreserved(Seq(newName))
    require(!partitionColumnsAt(base).contains(field.name),
      s"cannot rename partition column '${field.name}'")
    require(!bucketSpecAt(base).exists(_._1.contains(field.name)),
      s"cannot rename bucket column '${field.name}'")
    requireUnconstrained(base, field.name, "rename")
    requireNotGenerative(base, field.name, "rename")
    val phys = physName(cm, field.name)
    val cm2 = cm - field.name
    val cmNew = if (phys == newName) cm2 else cm2 + (newName -> phys)
    val newSchema = StructType(schema.fields.map(f =>
      if (f.name == field.name) f.copy(name = newName) else f))
    commit("RENAME COLUMN", base, filesAt(base), newSchema,
      Map(), cdcFiles = Some(Nil), newColumnMap = Some(cmNew))
  }

  /** ALTER TABLE ... DROP COLUMN analog: metadata-only — the physical
    * column stays in the files (ignored by every read) until files
    * are naturally rewritten. A later evolve-append re-adding the
    * name gets a FRESH physical name, so the dropped bytes can never
    * resurface.
    */
  def dropColumn(name: String): Long = {
    val base = latestVersion
    val schema = schemaAt(base)
    val field = schema.fields.find(_.name.equalsIgnoreCase(name))
      .getOrElse(throw new IllegalArgumentException(
        s"no such column '$name' (columns: ${schema.fieldNames.mkString(", ")})"))
    require(schema.fields.length > 1, "cannot drop the only column")
    require(!partitionColumnsAt(base).contains(field.name),
      s"cannot drop partition column '${field.name}'")
    require(!bucketSpecAt(base).exists(_._1.contains(field.name)),
      s"cannot drop bucket column '${field.name}'")
    requireUnconstrained(base, field.name, "drop")
    requireNotGenerative(base, field.name, "drop")
    val newSchema = StructType(schema.fields.filterNot(_.name == field.name))
    commit("DROP COLUMN", base, filesAt(base), newSchema,
      Map(), cdcFiles = Some(Nil),
      newColumnMap = Some(columnMapAt(base) - field.name))
  }

  /** Partition columns declared at CREATE (empty = unpartitioned). */
  def partitionColumns: Seq[String] = partitionColumnsAt(latestVersion)

  private def partitionColumnsAt(v: Long): Seq[String] =
    if (v < 0) Nil else readCommit(v).partitionBy.getOrElse(Nil)

  /** Deletion-vector files active at `version` (relative paths under
    * `dv/`, or absolute for cloned tables). Empty for most tables.
    */
  private def dvAt(version: Long): Seq[String] =
    readCommit(version).dv.getOrElse(Nil)

  /** Whether `version` has ACTIVE deletion vectors. Surfaces that
    * cannot apply them (file-granular scan planning, append-only
    * streaming replay) must refuse to read rather than resurrect
    * deleted rows — the Delta reader-feature gate.
    */
  private[graft] def hasDvs(version: Long): Boolean = dvAt(version).nonEmpty

  /** Current CHECK constraints (name → SQL predicate). */
  def constraints: Map[String, String] =
    if (latestVersion < 0) Map.empty
    else readCommit(latestVersion).constraints.getOrElse(Map.empty)

  /** ALTER TABLE ADD CONSTRAINT analog: the predicate must hold for
    * the EXISTING data (validated now) and every future append/merge.
    * Stored in the commit log; enforcement is a pushed-down
    * violation count per write.
    */
  /** Retry a METADATA-ONLY commit whose body recomputes everything
    * from the current snapshot: racing any writer, the whole body
    * simply re-runs against the advanced base (constraint validation
    * re-scans, property merges re-read) — a metadata commit never
    * invalidates staged data files, so losing a claim race is never a
    * real conflict for it.
    */
  private def retryMetadata(body: => Long): Long = {
    var attempts = 0
    while (true) {
      try return body
      catch {
        case e: CommitConflictException =>
          attempts += 1
          if (attempts > 10) throw e
      }
    }
    -1L // unreachable
  }

  def addConstraint(name: String, predicateSql: String): Long =
    retryMetadata {
      val base = latestVersion
      // validate against the CURRENT snapshot — on a retry after a
      // racing append, the racer's rows are validated too
      val violations = snapshotAt(base).where(s"NOT ($predicateSql)").count()
      if (violations > 0)
        throw new ConstraintViolationException(
          s"constraint $name [$predicateSql] violated by $violations existing row(s)")
      // the constraint rides in the commit call itself — a failed commit
      // (e.g. CommitConflictException) leaves no state behind to leak
      // into a later unrelated commit
      commit("ADD CONSTRAINT", base, filesAt(base), schemaAt(base),
        Map("numViolations" -> 0L),
        newConstraints = Map(name -> predicateSql))
    }

  /** ALTER TABLE DROP CONSTRAINT analog: metadata-only removal. */
  def dropConstraint(name: String): Long = retryMetadata {
    val base = latestVersion
    val cur = readCommit(base).constraints.getOrElse(Map.empty)
    require(cur.contains(name),
      s"no such constraint '$name' (have: ${cur.keys.mkString(", ")})")
    commit("DROP CONSTRAINT", base, filesAt(base), schemaAt(base),
      Map(), cdcFiles = Some(Nil), replaceConstraints = Some(cur - name))
  }

  /** Table properties (Delta TBLPROPERTIES analog): free-form
    * key/value metadata carried on every commit.
    */
  def properties: Map[String, String] =
    if (latestVersion < 0) Map.empty
    else readCommit(latestVersion).properties.getOrElse(Map.empty)

  /** SET TBLPROPERTIES analog (merge semantics, metadata-only). */
  def setProperties(kv: Map[String, String]): Long = retryMetadata {
    val base = latestVersion
    commit("SET TBLPROPERTIES", base, filesAt(base), schemaAt(base),
      Map(), cdcFiles = Some(Nil), newProperties = kv)
  }

  /** BIN-PACK small files (Delta `autoOptimize.autoCompact`'s real
    * behavior): rewrite only files under half the target size into
    * ~targetBytes outputs, leaving right-sized files alone — NOT a
    * full-table rewrite. Deletion vectors over the rewritten files
    * are materialized by the DV-aware read; DVs over untouched files
    * carry forward. Returns the base version unchanged when fewer
    * than `minFiles` small files exist.
    */
  def compactSmall(minFiles: Int,
      targetBytes: Long = 128L * 1024 * 1024): Long = {
    val base = latestVersion
    val files = filesAt(base)
    val small = files.filter(f =>
      Files.size(root.resolve(f)) < targetBytes / 2)
    if (small.size < minFiles) return base
    val bytes = small.map(f => Files.size(root.resolve(f))).sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    binpackZoneGroups(small, base) match {
      case Some(groups) =>
        val (files, pv, stats) = binpackGrouped(groups, base, n)
        commitResolved("COMPACT", base, small.toSet, files,
          None, readsTable = false, schemaAt(base),
          Map("numRewrittenFiles" -> small.size.toLong),
          stats, newPartValues = pv)
      case None =>
        val data = readFilesDvAware(small, schemaAt(base), dvAt(base),
          columnMapAt(base)).coalesce(n)
        val w = writeData(data, base)
        commitResolved("COMPACT", base, small.toSet, w.files,
          None, readsTable = false, schemaAt(base),
          Map("numRewrittenFiles" -> small.size.toLong),
          collectStats(w.files,
            partitionStampZones(small, base, w.partValues)),
          newPartValues = w.partValues)
    }
  }

  /** AUTO COMPACTION, driven by table properties: when
    * `graft.autoCompact.minFiles` is set and a write leaves at least
    * that many SMALL files, a bin-packing [[compactSmall]] commit
    * follows automatically (`graft.autoCompact.targetBytes` overrides
    * the 128 MiB default). ENTIRELY best-effort: any failure —
    * conflict with a concurrent writer, an unparseable property —
    * is swallowed, because the DATA commit already landed and must
    * not be reported as failed. Always returns the data commit's
    * version: callers reason about THEIR write, not the maintenance
    * that followed it. (Like OPTIMIZE, the follow-on commit is
    * skipped by streaming readers as a no-logical-change commit.)
    */
  private def maybeAutoCompact(committed: Long): Long = {
    try {
      val props = properties
      props.get("graft.autoCompact.minFiles").map(_.toInt).foreach {
        minFiles =>
          val target = props.get("graft.autoCompact.targetBytes")
            .map(_.toLong).getOrElse(128L * 1024 * 1024)
          compactSmall(minFiles, target)
      }
    } catch { case scala.util.control.NonFatal(_) => }
    committed
  }

  /** DESCRIBE DETAIL analog: one row of table-level metadata, all of
    * it O(files) from the commit log (sizeInBytes from the same
    * driver-side file metadata the scan planner uses).
    */
  def detail(): DataFrame = {
    import spark.implicits._
    val c = readCommit(latestVersion)
    // tolerate missing files (a shallow clone whose source was
    // vacuumed): DESCRIBE DETAIL is exactly the tool one reaches for
    // BEFORE running FSCK on a damaged table, so it must not throw
    val bytes = c.files.map { f =>
      val p = root.resolve(f)
      if (Files.exists(p)) Files.size(p) else 0L
    }.sum
    Seq((
      "graft-table", root.toString, latestVersion,
      c.files.size.toLong, bytes,
      partitionColumns.mkString(","),
      constraints.size.toLong,
      properties.map { case (k, v) => s"$k=$v" }.toSeq.sorted.mkString(","),
      hasDvs(latestVersion), hasColumnMapping(latestVersion),
      rowCount.map(java.lang.Long.valueOf).orNull))
      .toDF("format", "location", "version", "num_files", "size_bytes",
        "partition_columns", "num_constraints", "properties",
        "has_deletion_vectors", "has_column_mapping", "num_rows")
  }

  /** SHOW PARTITIONS analog: one row per live partition tuple in
    * Hive's `k=v/k2=v2` spelling, with file and (stats-derived) row
    * counts — all O(files) commit-log metadata, zero scan.
    */
  def partitionsInfo(): DataFrame = {
    import spark.implicits._
    val c = readCommit(latestVersion)
    val pcols = c.partitionBy.getOrElse(Nil)
    require(pcols.nonEmpty, "not a partitioned table")
    val pv = c.partValues.getOrElse(Map.empty)
    // active DVs make per-file footer counts overcount (tombstones
    // rewrite nothing) — report null rather than phantom rows, the
    // same honesty rule as rowCount
    val dvActive = c.dv.exists(_.nonEmpty)
    c.files.groupBy(f => pcols.map(p =>
        s"$p=${pv.get(f).flatMap(_.get(p)).getOrElse("?")}").mkString("/"))
      .map { case (tuple, files) =>
        (tuple, files.size.toLong,
          if (dvActive) null
          else java.lang.Long.valueOf(files.map(c.stats(_).rows).sum))
      }.toSeq.sortBy(_._1)
      .toDF("partition", "num_files", "num_rows")
  }

  /** Per-partition LIVE row counts with active deletion vectors
    * honored from metadata alone: footer counts minus each file's
    * distinct DV tombstones — one aggregation over the DV parquet
    * (O(dv), orders of magnitude smaller than the data it masks),
    * NEVER a data scan. The maintenance-metadata twin of
    * [[partitionsInfo]], whose row counts go null under live DVs.
    */
  private[graft] def partitionRowCountsDvAdjusted(): Seq[Long] = {
    val c = readCommit(latestVersion)
    val pcols = c.partitionBy.getOrElse(Nil)
    require(pcols.nonEmpty, "not a partitioned table")
    val pv = c.partValues.getOrElse(Map.empty)
    // distinct tombstones per masked file — dvPairFrame's dedup is
    // the same dedup the scan mask applies, so the subtraction agrees
    // with what a groupBy-count over the masked snapshot would return
    val tomb: Map[String, Long] =
      if (!hasDvs(latestVersion)) Map.empty
      else dvPairFrame(dvAt(latestVersion))
        .groupBy(col("__fp")).count().collect()
        .map(r => normPath(r.getString(0)) -> r.getLong(1)).toMap
    c.files
      .groupBy(f => pcols.map(p =>
        pv.get(f).flatMap(_.get(p)).getOrElse("?")).mkString("/"))
      .map { case (_, fs) =>
        fs.map(f => c.stats(f).rows -
          tomb.getOrElse(normPath(abs(f)), 0L)).sum
      }.toSeq
  }

  /** FSCK analog: reconcile the commit log against the filesystem.
    * `missing` = a file a read within the retention window depends on
    * (the current version's data + deletion vectors, plus retained
    * commits' change files) that the store has lost; `orphan` = a
    * files/dv/cdc entry no retained commit references (reclaimable by
    * VACUUM; harmless). Retention defaults from the SAME property
    * vacuum uses, so "orphan" never names a file vacuum would keep.
    */
  /** Retention policy from TBLPROPERTIES — the ONE resolution vacuum
    * and fsck share, so "orphan" can never disagree with what vacuum
    * would reclaim.
    */
  private def retentionFromProps: Int =
    properties.get("graft.vacuum.retainHours")
      .flatMap(h => scala.util.Try(versionsWithinHours(h.toDouble)).toOption)
      .orElse(properties.get("graft.vacuum.retainVersions").map(_.toInt))
      .getOrElse(2)

  def fsck(): DataFrame = fsck(retentionFromProps)

  def fsck(retainVersions: Int): DataFrame = {
    import spark.implicits._
    val retained = listVersions().takeRight(retainVersions)
    // EVERYTHING a read within the retention window depends on —
    // historical versions' data/DV files included (time travel to a
    // retained version must work, so their loss IS data loss)
    val live: Set[String] = retained.flatMap { v =>
      val cc = readCommit(v)
      cc.files ++ cc.dv.getOrElse(Nil) ++ cc.cdc.getOrElse(Nil)
    }.toSet
    val missing = live.toSeq.sorted
      .filterNot(f => Files.exists(root.resolve(f)))
      .map(("missing", _))
    def listDir(dir: String): Seq[String] = {
      val p = root.resolve(dir)
      if (!Files.exists(p)) Nil
      else {
        val s = Files.list(p)
        try s.iterator().asScala.map(x => s"$dir/${x.getFileName}").toList
        finally s.close()
      }
    }
    val orphans = (listDir("files") ++ listDir("dv") ++ listDir("cdc"))
      .filterNot(live).map(("orphan", _))
    (missing ++ orphans).toDF("issue", "path")
  }

  /** Enforce all stored constraints against a batch about to land,
    * plus the implicit generation invariants: a supplied generated
    * column must null-safe-equal its declared expression (the same
    * guard Delta installs as an implicit CHECK), so no write path —
    * append, UPDATE of a source column, merge — can silently diverge
    * a generated column from its definition.
    */
  private def enforceConstraints(df: DataFrame): Unit = {
    constraints.foreach { case (name, pred) =>
      val bad = df.where(s"NOT ($pred)").count()
      if (bad > 0)
        throw new ConstraintViolationException(
          s"constraint $name [$pred] violated by $bad incoming row(s)")
    }
    generatedColumns.foreach { case (c, genExpr) =>
      if (df.schema.fieldNames.contains(c)) {
        val bad = df.where(s"NOT (`$c` <=> ($genExpr))").count()
        if (bad > 0)
          throw new ConstraintViolationException(
            s"generated column $c [$genExpr] violated by $bad incoming row(s)")
      }
    }
  }

  /** Column names a generation expression references — the dependency
    * set that decides when an UPDATE must recompute the generated
    * column. Conservative: unparseable text yields the empty set (the
    * implicit generation check still guards correctness).
    */
  private def referencedColumns(exprSql: String): Seq[String] =
    try spark.sessionState.sqlParser.parseExpression(exprSql).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.last
    } catch { case scala.util.control.NonFatal(_) => Nil }

  /** Write-time column semantics: compute ABSENT generated columns
    * from their declared expressions, and assign the identity column
    * (which must NOT be supplied — GENERATED ALWAYS). Identity ids
    * are batch-dense: one cheap per-partition count job sizes
    * contiguous ranges, so the high water advances by exactly the
    * row count — no 2^33 monotonically_increasing_id jumps eating
    * the long's exactness headroom. Returns the frame plus the
    * watermark additions (the new identity high water).
    */
  private def injectWriteColumns(df: DataFrame)
      : (DataFrame, Map[String, Long], () => Unit) = {
    val withGen = generatedColumns.foldLeft(df) { case (d, (c, genExpr)) =>
      if (d.schema.fieldNames.contains(c)) d
      else d.withColumn(c, org.apache.spark.sql.functions.expr(genExpr))
    }
    identityColumn match {
      case None => (withGen, Map.empty, () => ())
      case Some(idc) =>
        if (withGen.schema.fieldNames.contains(idc))
          throw new IllegalArgumentException(
            s"identity column $idc is GENERATED ALWAYS and cannot be supplied")
        val hw = identityHighWater
        val (assigned, n, cleanup) = assignDenseIds(withGen, idc, hw)
        (assigned, Map(identityKey -> (hw + n)), cleanup)
    }
  }

  /** Append `idc` with values hw+1 .. hw+N, contiguous across the
    * batch's partitions, from one narrow count pass. The input is
    * PERSISTED before the sizing pass so the assignment pass sees
    * identical partition contents — without the cache, a
    * non-deterministic source could shift rows between partitions
    * across the two executions and overrun an id block into its
    * neighbor's (duplicate ids). Runs at the InternalRow layer
    * (UnsafeRow byte-copies into the cache, one unsafe projection per
    * row out) instead of re-encoding every row through the boxed
    * public Row API. Caller invokes the returned cleanup after the
    * data lands.
    */
  private def assignDenseIds(df: DataFrame, idc: String,
      hw: Long): (DataFrame, Long, () => Unit) = {
    import org.apache.spark.sql.GraftPlans
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow, UnsafeProjection}
    val cached = GraftPlans.toInternalRdd(df).map(_.copy())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = cached
      .mapPartitionsWithIndex((i, it) => Iterator((i, it.size.toLong)))
      .collect().sortBy(_._1).map(_._2)
    val offsets = sizes.scanLeft(hw + 1L)(_ + _)
    val bc = spark.sparkContext.broadcast(offsets)
    val schema2 = df.schema.add(idc, org.apache.spark.sql.types.LongType,
      nullable = false)
    val rdd = cached.mapPartitionsWithIndex { (i, it) =>
      val proj = UnsafeProjection.create(schema2)
      val joined = new JoinedRow
      val extra = new GenericInternalRow(1)
      var next = bc.value(i)
      it.map { r =>
        extra.update(0, next)
        next += 1
        proj(joined(r, extra)): InternalRow
      }
    }
    (GraftPlans.batchDF(spark, rdd, schema2), sizes.sum,
      () => { cached.unpersist(blocking = false); () })
  }

  private def filesAt(v: Long): Seq[String] = readCommit(v).files
  private def schemaAt(v: Long): StructType =
    org.apache.spark.sql.types.DataType.fromJson(readCommit(v).schemaJson)
      .asInstanceOf[StructType]

  // ---- reads -----------------------------------------------------------

  /** Current snapshot. */
  def snapshot(): DataFrame = snapshotAt(latestVersion)

  /** Time travel by wall clock (Delta `TIMESTAMP AS OF`): the LATEST
    * version committed at or before `tsMillis` — Delta's semantics
    * (a timestamp between two commits reads the earlier one).
    */
  def versionAtTimestamp(tsMillis: Long): Long = {
    val vs = listVersions()
    // a timestamp AFTER the latest commit is an error (Delta's
    // temporally-unstable-input semantics): silently binding a typo'd
    // future timestamp to HEAD would make RESTORE/read resolve to a
    // state the user did not name
    vs.lastOption.map(readCommit(_).timestampMs).foreach { lastTs =>
      if (tsMillis > lastTs)
        throw new IllegalArgumentException(
          s"timestamp $tsMillis is after the latest commit " +
            s"(${vs.last} at $lastTs); use VERSION AS OF ${vs.last} " +
            "to read the current state")
    }
    val hit = vs.reverse.find(v => readCommit(v).timestampMs <= tsMillis)
    hit.getOrElse(throw new IllegalArgumentException(
      s"no commit at or before timestamp $tsMillis " +
        s"(earliest commit: ${vs.headOption.map(readCommit(_).timestampMs)})"))
  }

  def snapshotAsOf(ts: java.sql.Timestamp): DataFrame =
    snapshotAt(versionAtTimestamp(ts.getTime))

  /** Streaming `startingTimestamp` resolution (Delta semantics:
    * "changes committed AT or AFTER the timestamp stream") — returns
    * the EXCLUSIVE lower-bound version: the latest commit strictly
    * before `tsMillis`, or -1 when every commit qualifies. A
    * timestamp after the last commit errors, matching
    * [[versionAtTimestamp]]'s temporally-unstable-input rule.
    */
  def versionBeforeTimestamp(tsMillis: Long): Long = {
    val vs = listVersions()
    vs.lastOption.map(readCommit(_).timestampMs).foreach { lastTs =>
      if (tsMillis > lastTs)
        throw new IllegalArgumentException(
          s"startingTimestamp $tsMillis is after the latest commit " +
            s"(${vs.last} at $lastTs)")
    }
    // scan BACKWARD from the tail: the common use is a timestamp near
    // "now" to skip the backlog, which must not read the whole log
    // forward (O(versions) commit parses on a long log)
    vs.reverse.find(v => readCommit(v).timestampMs < tsMillis)
      .getOrElse(-1L)
  }

  /** Time travel (Delta `VERSION AS OF`). */
  def snapshotAt(version: Long): DataFrame = {
    val c = readCommit(version)
    val schema = org.apache.spark.sql.types.DataType.fromJson(c.schemaJson).asInstanceOf[StructType]
    if (c.files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      // explicit schema: reads stay correct across additive schema
      // evolution (older files simply yield nulls for new columns);
      // merge-on-read deletes are masked via the version's DVs
      readFilesDvAware(c.files, schema, dvAt(version), columnMapAt(version))
  }

  /** Data-skipping read: only files whose [min,max] interval for
    * `key` overlaps [lo, hi] are handed to the scan — O(files)
    * driver-side pruning from commit-log stats, before any I/O.
    * Files without stats are conservatively kept. The caller still
    * applies the row-level filter; this prunes at FILE granularity
    * (after clusterBy/clusterByZOrder most files drop out).
    */
  def snapshotPruned(key: String, lo: Double, hi: Double): DataFrame = {
    val c = readCommit(latestVersion)
    val schema = org.apache.spark.sql.types.DataType.fromJson(c.schemaJson).asInstanceOf[StructType]
    val stats = c.stats
    // footer stats are keyed by PHYSICAL column name
    val pk = physName(c.columnMap.getOrElse(Map.empty), key)
    val keep = c.files.filter { f =>
      stats.get(f) match {
        case Some(fs) =>
          (fs.mins.get(pk), fs.maxs.get(pk)) match {
            case (Some(mn), Some(mx)) => mx >= lo && mn <= hi
            case _ => true
          }
        case None => true
      }
    }
    if (keep.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else readFilesDvAware(keep, schema, dvAt(latestVersion), columnMapAt(latestVersion))
  }

  /** Files whose [min,max] interval for `key` may contain ANY of the
    * (sorted) point values — the set-valued twin of
    * [[snapshotPruned]]'s single interval, for data-dependent key
    * sets (an incremental-dedup candidate fetch, a point-lookup
    * batch). O(files · log |values|) driver-side binary searches
    * against commit-log stats; files without stats keep
    * conservatively. No Catalyst expression is built, so the set may
    * be millions of keys without planner cost.
    */
  private[graft] def filesPrunedIn(key: String,
      sortedValues: Array[Double]): Seq[String] = {
    val c = readCommit(latestVersion)
    val stats = c.stats
    val pk = physName(c.columnMap.getOrElse(Map.empty), key)
    def anyIn(lo: Double, hi: Double): Boolean = {
      // first value >= lo; in-range iff it also <= hi
      var a = 0; var b = sortedValues.length
      while (a < b) {
        val m = (a + b) >>> 1
        if (sortedValues(m) < lo) a = m + 1 else b = m
      }
      a < sortedValues.length && sortedValues(a) <= hi
    }
    c.files.filter { f =>
      stats.get(f) match {
        case Some(fs) =>
          (fs.mins.get(pk), fs.maxs.get(pk)) match {
            case (Some(mn), Some(mx)) => anyIn(mn, mx)
            case _ => true
          }
        case None => true
      }
    }
  }

  /** Data-skipping read over a SET of point keys: only files whose
    * recorded [min,max] for `key` intersects the set are scanned
    * ([[filesPrunedIn]]). Returns a SUPERSET of the matching rows
    * (file granularity) — callers filter or join as needed.
    */
  /** Predicate-pruned snapshot read at `version` (latest when
    * negative): only files the version's stats / partition values /
    * generated-column derivations / bloom sidecars cannot prove free
    * of rows matching `cond` are handed to the scan — the READ-side
    * twin of the DML blast-radius probe, for data-dependent
    * predicates a caller assembles at runtime (e.g. the maintained
    * view's affected-group recompute fetching only named groups'
    * files). The caller still applies the row-level filter (or a
    * semi-join); pruning is FILE-granular, and any resolution
    * surprise falls back to the full file list (safe).
    */
  def snapshotCandidates(cond: Column, version: Long = -1L): DataFrame =
    snapshotCandidatesWithCount(cond, version)._1

  /** [[snapshotCandidates]] plus (files read, files total) — one
    * stats/bloom pass serves the read and the caller's pruning
    * diagnostics (the incremental-dedup probes publish these).
    */
  private[graft] def snapshotCandidatesWithCount(cond: Column,
      version: Long = -1L): (DataFrame, Int, Int) = {
    val v = if (version < 0) latestVersion else version
    val c = readCommit(v)
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(c.schemaJson).asInstanceOf[StructType]
    val keep =
      try candidatesAmong(cond, c, c.files)
      catch { case _: Exception => c.files }
    val df =
      if (keep.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else readFilesDvAware(keep, schema, dvAt(v), columnMapAt(v))
    (df, keep.size, c.files.size)
  }

  /** Lean BLOOM-only point-IN read for internal probes on a
    * hash-uniform STRING key (the incremental-dedup signature fetch,
    * the exact ledger): min/max stats cannot prune such a key, so
    * this path consults ONLY the bloom sidecars, directly against
    * the literal values — no Catalyst analysis round-trip, no
    * N-literal expression build. Missing sidecars / undeclared
    * column answer "may contain" (all files), as everywhere.
    * Returns (frame, files read, files total).
    */
  private[graft] def snapshotBloomInWithCount(key: String,
      values: Seq[String]): (DataFrame, Int, Int) = {
    // version pinned ONCE: a concurrent commit (nightly maintenance
    // compacting the index under a running probe) must not mix a new
    // version's DVs / column map with this version's file list
    val v = latestVersion
    val c = readCommit(v)
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(c.schemaJson).asInstanceOf[StructType]
    val cm = c.columnMap.getOrElse(Map.empty)
    val pk = physName(cm, key)
    val declared = c.properties.getOrElse(Map.empty)
      .get("graft.bloom.columns")
      .exists(_.split(",").map(_.trim).map(n => cm.getOrElse(n, n))
        .contains(pk))
    val keep =
      if (!declared || c.files.isEmpty) c.files
      else {
        val lits = values.map(v0 =>
          org.apache.spark.sql.catalyst.expressions.Literal(
            org.apache.spark.unsafe.types.UTF8String.fromString(v0),
            org.apache.spark.sql.types.StringType))
        val keptAbs = BloomIndex.pruneValues(pk, lits,
          c.files.map(abs)).toSet
        c.files.filter(f => keptAbs.contains(abs(f)))
      }
    val df =
      if (keep.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else readFilesDvAware(keep, schema, dvAt(v), columnMapAt(v))
    (df, keep.size, c.files.size)
  }

  /** Distributed twin of [[snapshotBloomInWithCount]] for probe key
    * sets too large to collect driver-side: the keys stay a
    * DataFrame and the per-file sidecar consult fans out over the
    * key partitions ([[BloomIndex.pruneValuesDistributed]]) — the
    * driver only ever holds one hit-bitset per partition. Same
    * conservative contract; same version pinning.
    */
  private[graft] def snapshotBloomInDistributedWithCount(key: String,
      keys: DataFrame): (DataFrame, Int, Int) = {
    val v = latestVersion
    val c = readCommit(v)
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(c.schemaJson).asInstanceOf[StructType]
    val cm = c.columnMap.getOrElse(Map.empty)
    val pk = physName(cm, key)
    val declared = c.properties.getOrElse(Map.empty)
      .get("graft.bloom.columns")
      .exists(_.split(",").map(_.trim).map(n => cm.getOrElse(n, n))
        .contains(pk))
    // TYPE AGREEMENT: sidecars hashed the COLUMN's internal bytes; a
    // probe whose key type differs (long keys against a string
    // column) would hash different bytes and refute files that match
    // — lost rows. Mismatches keep all files: correct, just unpruned.
    val typeAgrees = schema.fields.find(_.name == key)
      .forall { f =>
        val ok = f.dataType == keys.schema.head.dataType
        if (!ok) org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"[graft] distributed bloom probe on '$key': probe type " +
            s"${keys.schema.head.dataType.simpleString} != column " +
            s"type ${f.dataType.simpleString} — keeping all files")
        ok
      }
    val keep =
      if (!declared || !typeAgrees || c.files.isEmpty) c.files
      else {
        val keptAbs = BloomIndex.pruneValuesDistributed(pk, keys,
          c.files.map(abs)).toSet
        c.files.filter(f => keptAbs.contains(abs(f)))
      }
    val df =
      if (keep.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else readFilesDvAware(keep, schema, dvAt(v), columnMapAt(v))
    (df, keep.size, c.files.size)
  }

  def snapshotPrunedIn(key: String, values: Array[Double]): DataFrame =
    snapshotPrunedInWithCount(key, values)._1

  /** [[snapshotPrunedIn]] plus how many files the read kept — ONE
    * stats pass serves both the read and the caller's diagnostics
    * (running filesPrunedIn again for a count would double the
    * O(files · log |values|) driver work per probe).
    */
  private[graft] def snapshotPrunedInWithCount(key: String,
      values: Array[Double]): (DataFrame, Int) = {
    val sorted = values.clone(); java.util.Arrays.sort(sorted)
    val keep = filesPrunedIn(key, sorted)
    val c = readCommit(latestVersion)
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(c.schemaJson).asInstanceOf[StructType]
    val df =
      if (keep.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else readFilesDvAware(keep, schema, dvAt(latestVersion),
        columnMapAt(latestVersion))
    (df, keep.size)
  }

  /** DESCRIBE HISTORY analog: one row per commit, newest first. */
  def history(): DataFrame = history(Int.MaxValue)

  /** DESCRIBE HISTORY [LIMIT n]: the LATEST `limit` commits, ALWAYS
    * newest first (Delta's ordering in BOTH the limited and unlimited
    * spellings — a generous limit must not flip row 0 from the latest
    * commit to CREATE) — and only those commits are read/resolved, so
    * inspecting the recent history of a 10⁵-version log stays
    * O(limit), not O(versions). `operation_metrics` is the commit's
    * own metrics map (files added, removed, rewritten or probed, ...);
    * protocol state is not history.
    */
  def history(limit: Int): DataFrame = {
    import spark.implicits._
    listVersions().takeRight(limit).reverse.map(readCommit).map { c =>
      (c.version, new java.sql.Timestamp(c.timestampMs), c.operation,
        c.files.size.toLong, c.metrics)
    }.toDF("version", "timestamp", "operation", "num_files",
      "operation_metrics")
  }

  private def abs(rel: String): String = root.resolve(rel).toString

  /** Map scan-hit file paths (absolute, possibly URI-form — the
    * `_metadata.file_path` spelling) back to commit-relative names:
    * both sides normalize to a plain local path once, then intersect
    * as a Set — O(candidates + hits). The suffix-scan alternative is
    * O(candidates × hits) driver-side string comparisons, which at a
    * broad DELETE/MERGE over 10⁵⁺ files dominates the whole commit
    * before any executor work starts.
    */
  private[graft] def matchHits(candidates: Seq[String],
      hits: Set[String]): Seq[String] = {
    val hitSet = hits.map(normPath)
    candidates.filter(f => hitSet.contains(normPath(abs(f))))
  }

  /** Normalize a file spelling for identity comparison: scan-produced
    * `_metadata.file_path` URIs carry percent-ENCODED specials (a
    * space in a hive partition dir arrives as %20) which
    * java.net.URI decodes exactly; plain filesystem paths pass
    * through untouched (parsing them as URIs would mis-decode a
    * literal `%25` in a Hive-escaped dir name).
    */
  private def normPath(p: String): String =
    if (p.startsWith("file:"))
      try new java.net.URI(p).getPath match {
        case null => p
        case x => x
      } catch { case _: java.net.URISyntaxException => p }
    else p

  /** DV liveness: the deletion-vector files still naming at least one
    * of `survivors` (everything else masks only retired paths and is
    * dead weight — dropping it is what re-opens the DV-gated reader
    * surfaces once every masked file has been rewritten). ONE spark
    * job over all DV files (grouped by `_metadata.file_path`), only
    * on rewrite commits — never a job per DV file.
    *
    * Failure direction: a DV file drops ONLY when every one of its
    * references PROVABLY resolves to a retired member of `allFiles`.
    * A reference matching a survivor keeps it (still masking live
    * rows); one matching nothing we know (path-spelling drift, URI
    * normalization fallback) keeps it too — wrongly dropping a DV
    * resurrects deleted rows, while wrongly keeping one only costs an
    * inert anti-join key.
    */
  private[graft] def liveDvs(dv: Seq[String], survivors: Seq[String],
      allFiles: Seq[String]): Seq[String] = {
    if (dv.isEmpty) return dv
    val surv = survivors.map(f => normPath(abs(f))).toSet
    val known = allFiles.map(f => normPath(abs(f))).toSet
    val refs = spark.read.parquet(dv.map(abs): _*)
      .select(col("_metadata.file_path").as("__dv"), col("file_path"))
      .distinct().collect()
    val byDv = refs.groupBy(r => normPath(r.getString(0)))
    dv.filter { d =>
      byDv.get(normPath(abs(d))) match {
        case None => true // no readable refs — keep, masks nothing
        case Some(rs) =>
          rs.exists(r => surv.contains(normPath(r.getString(1)))) ||
            !rs.forall(r => known.contains(normPath(r.getString(1))))
      }
    }
  }

  /** Version snapshot metadata for the scan-planning integration
    * ([[GraftTableFileIndex]]): files and stats keyed by ABSOLUTE
    * path, plus the commit's schema. O(files) driver metadata.
    */
  private[graft] def snapshotInfo(version: Long): GraftTable.SnapshotInfo = {
    val c = readCommit(version)
    val schema = org.apache.spark.sql.types.DataType.fromJson(c.schemaJson)
      .asInstanceOf[StructType]
    GraftTable.SnapshotInfo(c.files.map(abs),
      c.stats.map { case (f, s) => abs(f) -> s }, schema,
      c.partitionBy.getOrElse(Nil),
      c.partValues.getOrElse(Map.empty).map { case (f, m) => abs(f) -> m })
  }

  private def currentFiles: Seq[String] = readCommit(latestVersion).files

  private def currentSchema: StructType =
    org.apache.spark.sql.types.DataType.fromJson(readCommit(latestVersion).schemaJson).asInstanceOf[StructType]

  // ---- writes ----------------------------------------------------------

  private def checkSchema(df: DataFrame, evolve: Boolean): StructType = {
    val cur = currentSchema
    val curByName = cur.fields.map(f => f.name -> f).toMap
    val incoming = df.schema.fields
    // three classes of type difference on a name-matched column:
    //  * incoming NARROWER (int into a long column): always fine —
    //    the write path upcasts (Delta's storeAssignmentPolicy)
    //  * incoming WIDER (TYPE WIDENING, Delta's feature): rewrite the
    //    logical type under evolve/mergeSchema; existing files keep
    //    their narrow physical type and upcast at read (Spark 4's
    //    parquet reader performs the widening conversions)
    //  * anything else: refused, as before
    val mismatched = incoming.filter(f =>
      curByName.get(f.name).exists(c => c.dataType != f.dataType &&
        !GraftTable.widens(f.dataType, c.dataType) &&
        !GraftTable.widens(c.dataType, f.dataType)))
    require(mismatched.isEmpty,
      s"schema enforcement: type mismatch for ${mismatched.map(_.name).mkString(",")}")
    val widened = incoming.filter(f =>
      curByName.get(f.name).exists(c => GraftTable.widens(c.dataType, f.dataType)))
    if (widened.nonEmpty && !evolve)
      throw new IllegalArgumentException(
        "schema enforcement: type widening for " +
          s"${widened.map(_.name).mkString(",")} (use evolve=true / mergeSchema)")
    // bucket ids hash the PHYSICAL type — widening a bucket column
    // would silently mis-bucket every future write
    widened.foreach(f =>
      require(!bucketSpecAt(latestVersion).exists(_._1.contains(f.name)),
        s"cannot widen bucket column '${f.name}'"))
    val widenedMap = widened.map(f => f.name -> f.dataType).toMap
    val newCols = incoming.filterNot(f => curByName.contains(f.name))
    if (newCols.nonEmpty && !evolve)
      throw new IllegalArgumentException(
        s"schema enforcement: new columns ${newCols.map(_.name).mkString(",")} (use evolve=true)")
    GraftTable.requireUnreserved(newCols.map(_.name).toSeq)
    val missing = cur.fields.filterNot(f => incoming.exists(_.name == f.name))
    require(missing.isEmpty || evolve,
      s"schema enforcement: missing columns ${missing.map(_.name).mkString(",")}")
    // evolved columns are nullable by definition: every pre-evolution
    // file surfaces null for them, whatever the incoming batch claimed
    val updated = cur.fields.map(f => widenedMap.get(f.name)
      .map(t => f.copy(dataType = t)).getOrElse(f))
    val fresh = newCols.map(_.copy(nullable = true))
    // hive-adopted (CONVERTed) tables surface partition values by
    // INJECTION in the registered batch scan, which pins partition
    // columns to the END of the relation schema — so additive
    // evolution must keep them last, or the registered scan's column
    // order would diverge from snapshot()'s and break positional
    // consumers. New columns slot in BEFORE the trailing partition
    // block on those tables; everywhere else they append as usual.
    val pcols = partitionColumnsAt(latestVersion)
    val injectionMode = fresh.nonEmpty && pcols.nonEmpty &&
      updated.length >= pcols.size &&
      updated.takeRight(pcols.size).map(_.name).toSeq == pcols &&
      currentFiles.exists(p =>
        GraftTable.hivePartSegments(p).map(_._1) == pcols)
    if (injectionMode)
      StructType(updated.dropRight(pcols.size) ++ fresh ++
        updated.takeRight(pcols.size))
    else StructType(updated ++ fresh)
  }

  /** Physical-name additions for the columns `schema` ADDS over
    * `base`'s schema: an evolve-added column whose name matches ANY
    * physical name a past commit used (e.g. a previously DROPPED
    * column) gets a fresh physical name — otherwise old files' stale
    * bytes would resurface under the new logical column. Shared by
    * every schema-evolving write path (append, MERGE).
    */
  private def freshColumnMap(schema: StructType, base: Long): Map[String, String] = {
    val addedCols = schema.fieldNames
      .filterNot(n => base >= 0 && schemaAt(base).fieldNames.contains(n))
    if (addedCols.isEmpty || base < 0) Map.empty
    else {
      val used = usedPhysicalNames(base)
      addedCols.filter(used.contains)
        .map(n => n -> s"${n}__c${base + 1}").toMap
    }
  }

  /** Align `df` to the target schema's column set, CASTING each
    * present column to the schema's type — the upcast that lets a
    * narrower batch (int into a long column) land on every write path.
    */
  private def alignTo(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields
      .filter(f => df.schema.fieldNames.contains(f.name))
      .map(f => col(s"`${f.name}`").cast(f.dataType).as(f.name))
      .toIndexedSeq: _*)

  def append(df: DataFrame, evolve: Boolean = false): Long =
    appendInternal(df, evolve, Map.empty)

  /** Append carrying watermark additions `marks` (sink txn ids, COPY
    * INTO markers) in the commit's protocol state. */
  private def appendInternal(df: DataFrame, evolve: Boolean,
      marks: Map[String, Long]): Long = {
    val base = latestVersion
    // identity baseline BEFORE assignment: the conflict-retry loop
    // must detect a racer advancing it (our ids were allocated from
    // this value and would collide with theirs)
    val idHwBefore = if (identityColumn.isDefined) identityHighWater else -2L
    val (dfIn, idMarks, idCleanup) = injectWriteColumns(df)
    try {
    enforceConstraints(dfIn)
    val schema = checkSchema(dfIn, evolve)
    val aligned = alignTo(dfIn, schema)
    val fresh = freshColumnMap(schema, base)
    val cm = columnMapAt(base) ++ fresh
    val w = writeData(aligned, partitionColumnsAt(base), cm,
      bucketSpecAt(base))
    val added = w.files
    val stats = collectStats(added)
    // blind appends never conflict SEMANTICALLY — a racing commit just
    // moved the version forward. Re-resolve the base and re-claim
    // (data files are already on disk; only the O(files) commit JSON
    // is retried) — the Delta win-by-reresolution protocol. DML stays
    // fail-fast: its file list was computed against a now-stale
    // snapshot.
    var attempts = 0
    while (true) {
      val b = if (attempts == 0) base else latestVersion
      try {
        return maybeAutoCompact(
          commit("APPEND", b, filesAt(b) ++ added, schema,
            Map("numAddedFiles" -> added.size.toLong), stats,
            newPartValues = w.partValues,
            newColumnMap = if (fresh.isEmpty) None else Some(cm),
            state = TableState.of(marks ++ idMarks)))
      } catch {
        case e: CommitConflictException =>
          attempts += 1
          // exactly-once sink race: if the SAME (appId, batchId)
          // landed via the racing commit, this append is a no-op
          val landed = latestState.marks
          val superseded = marks.exists { case (k, v) =>
            k.startsWith("txn:") && landed.get(k).exists(_ >= v)
          }
          if (superseded) return latestVersion
          // concurrent COPY INTO race: a racer that landed ANY of the
          // same source files makes blind re-resolution a double load
          if (marks.keys.exists(k => k.startsWith("copy:") &&
              landed.contains(k)))
            throw e
          // a racer that EVOLVED the schema invalidates our aligned
          // projection, and one that ADDED a constraint invalidates
          // our pre-write validation — surface the conflict instead
          // of clobbering / landing now-violating rows
          if (schemaAt(latestVersion) != schemaAt(base)) throw e
          // a racer that changed the COLUMN MAP (overwrite resets it,
          // rename/drop rewrite it) invalidates our already-staged
          // files: they were written under the base map's physical
          // names, and re-committing them against the new map would
          // make the mapped columns silently read null
          if (columnMapAt(latestVersion) != columnMapAt(base)) throw e
          // a racer that advanced the identity high water means OUR
          // already-written ids (allocated from idHwBefore) collide
          // with theirs — blind-append re-resolution would commit
          // duplicate identity values
          if (idMarks.nonEmpty && identityHighWater != idHwBefore)
            throw e
          if (readCommit(latestVersion).constraints.getOrElse(Map.empty) !=
              readCommit(base).constraints.getOrElse(Map.empty)) throw e
          if (attempts > 10) throw e
      }
    }
    -1L // unreachable
    } finally idCleanup()
  }

  /** Highest micro-batch id ever committed via [[appendIfNew]] for
    * the given app — the sink-side transaction watermark (Delta's
    * txnVersion, keyed by txnAppId). Watermarks are PER APP: two
    * streaming queries sinking into the same table (or one query
    * restarted with a fresh checkpoint dir, whose batch ids restart
    * at 0) track independent progress instead of silently skipping
    * each other's batches.
    */
  def lastStreamBatchId(appId: String = "default"): Long =
    watermark(txnKey(appId)).getOrElse(-1L)

  private def txnKey(appId: String): String = s"txn:$appId"

  /** IDEMPOTENT append keyed by (appId, monotonically increasing
    * batch id) — the exactly-once streaming-sink primitive (Delta's
    * txnAppId/txnVersion pattern): a replayed foreachBatch epoch
    * (restart after a sink-side failure, speculative re-run) is a
    * NO-OP instead of a duplicate append. The pair is a watermark in
    * the commit's carried protocol state, so every later commit holds
    * it: it survives restarts, log retention and RESTORE, and reading
    * it is one read of the latest commit.
    * `appId` identifies the writing query (use its checkpoint path or
    * query id) — distinct apps never shadow one another's watermarks.
    */
  def appendIfNew(df: DataFrame, batchId: Long,
      appId: String = "default", evolve: Boolean = false): Long = {
    if (batchId <= lastStreamBatchId(appId)) latestVersion
    else appendInternal(df, evolve = evolve, Map(txnKey(appId) -> batchId))
  }

  /** COPY INTO (the warehouse ingestion-SQL analog): idempotent
    * FILE-LEVEL load of a directory's parquet files into the table —
    * each source file lands exactly once across any number of
    * invocations, restarts and partial failures. The ledger is a
    * per-file marker (`copy:<md5(path)>`) in the carried protocol
    * state, which every later commit holds, so it survives restarts,
    * log retention and RESTORE. Re-running after new
    * files arrive loads only the new files; re-running unchanged is a
    * no-op without a commit. A concurrent COPY INTO that landed any
    * of the same source files fails the race instead of double
    * loading (the blind-append re-resolution is vetoed for
    * overlapping copy markers).
    */
  def copyInto(dir: String): Long = {
    val all = GraftTable.listPaths(Paths.get(dir))
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(_.toAbsolutePath.toString).sorted
    require(all.nonEmpty, s"COPY INTO: no parquet files under $dir")
    val loaded = latestState.marks
    val fresh = all.filterNot(f => loaded.contains(GraftTable.copyKey(f)))
    if (fresh.isEmpty) return latestVersion
    val df = spark.read.parquet(fresh: _*)
    appendInternal(df, evolve = false,
      fresh.map(f => GraftTable.copyKey(f) -> 1L).toMap)
  }

  /** Replace the table's contents with `df`; `marks` are watermark
    * additions carried in the commit's protocol state (the MV refresh
    * records its source and dimension versions here). */
  def overwrite(df: DataFrame,
      marks: Map[String, Long] = Map.empty): Long = {
    val base = latestVersion
    // identity/generated semantics hold on EVERY write path, not just
    // append: supplied identity is refused, absent one is assigned
    // (continuing the high water), generated columns compute/validate
    val (dfIn, idMarks, idCleanup) = injectWriteColumns(df)
    try {
      GraftTable.requireUnreserved(dfIn.schema.fieldNames.toSeq)
      enforceConstraints(dfIn)
      // a full rewrite leaves no old files behind, so the logical
      // names can become physical again — reset the column map (also
      // sidesteps an incoming column colliding with a mapped physical)
      val w = writeData(dfIn, partitionColumnsAt(base), Map.empty,
        bucketSpecAt(base))
      commit("OVERWRITE", base, w.files, dfIn.schema,
        Map("numAddedFiles" -> w.files.size.toLong),
        collectStats(w.files), dv = Some(Nil), newPartValues = w.partValues,
        newColumnMap = Some(Map.empty),
        state = TableState.of(marks ++ idMarks))
    } finally idCleanup()
  }

  /** DYNAMIC PARTITION OVERWRITE (Delta `partitionOverwriteMode=
    * dynamic` / `insert overwrite ... partition` analog): atomically
    * replace exactly the partitions PRESENT IN `df`, keeping every
    * other partition's files untouched. The replaced-file set comes
    * from the commit log's per-file partition values — O(files)
    * driver metadata, no scan of the existing data; blast radius is
    * the incoming partitions only, which is what makes a daily
    * re-load of one day into a years-deep 100 TB table a small
    * commit. Write-time CDC records the replaced partitions' live
    * rows as deletes and the incoming rows as inserts.
    */
  def overwritePartitions(df: DataFrame): Long = {
    val base = latestVersion
    val pcols = partitionColumnsAt(base)
    require(pcols.nonEmpty,
      "overwritePartitions requires a table created with partitionBy")
    val idHwBefore = if (identityColumn.isDefined) identityHighWater else -2L
    val (dfIn, idMarks, idCleanup) = injectWriteColumns(df)
    try {
    enforceConstraints(dfIn)
    val schema = checkSchema(dfIn, evolve = false)
    val aligned = alignTo(dfIn, schema)
    val w = writeData(aligned, pcols, columnMapAt(base))
    val newTuples: Set[Seq[String]] =
      w.partValues.values.map(m => pcols.map(m(_))).toSet
    val pv = readCommit(base).partValues.getOrElse(Map.empty)
    // a file without its partition tuple cannot be classified — kept
    // silently it would leak stale rows of a replaced partition, so
    // refuse (cannot happen through this API: every write path on a
    // partitioned table records values; the guard catches log surgery)
    val orphans = filesAt(base)
      .filterNot(f => pv.get(f).exists(m => pcols.forall(m.contains)))
    require(orphans.isEmpty,
      s"file(s) missing partition metadata: ${orphans.take(3).mkString(", ")}")
    val replaced = filesAt(base).filter(f =>
      newTuples.contains(pcols.map(pv(f)(_))))
    val cdc = writeData(
      readFilesDvAware(replaced, schema, dvAt(base), columnMapAt(base))
        .withColumn("_change_type", lit("delete"))
        .unionByName(aligned.withColumn("_change_type", lit("insert"))),
      Nil, columnMapAt(base), dir = "cdc").files
    // conflict read set: the replaced partitions — a concurrent
    // rewrite producing rows there invalidates the replacement
    // (write-write on the slice), while commits touching only OTHER
    // partitions commute and land
    val replacedCond = newTuples.toSeq.map(t =>
      pcols.zip(t).map { case (c, v) =>
        if (v == null) col(c).isNull else col(c) === lit(v)
      }.reduce(_ && _)).reduce(_ || _)
    commitResolved("OVERWRITE_PARTITIONS", base,
      replaced.toSet, w.files, Some(replacedCond), readsTable = false,
      schema,
      Map("numReplacedFiles" -> replaced.size.toLong,
        "numAddedFiles" -> w.files.size.toLong),
      collectStats(w.files), cdcFiles = Some(cdc),
      newPartValues = w.partValues, idHwBefore = idHwBefore,
      marks = idMarks)
    } finally idCleanup()
  }

  /** `replaceWhere` (Delta's selective overwrite): atomically delete
    * every live row matching `cond` and insert `df`, after VALIDATING
    * that each incoming row satisfies `cond` — the guarded
    * "rebuild this slice" write. Blast radius is the cond-touched
    * files (stats/partition-pruned via the same scan as DELETE), not
    * the table.
    */
  def replaceWhere(cond: Column, df: DataFrame): Long = {
    val base = latestVersion
    val idHwBefore = if (identityColumn.isDefined) identityHighWater else -2L
    val (dfIn, idMarks, idCleanup) = injectWriteColumns(df)
    try {
    enforceConstraints(dfIn)
    val schema = checkSchema(dfIn, evolve = false)
    val aligned = alignTo(dfIn, schema)
    val bad = aligned.where(!coalesce(cond, lit(false))).count()
    if (bad > 0) throw new IllegalArgumentException(
      s"replaceWhere: $bad incoming row(s) do not satisfy the predicate")
    val touched = touchedFiles(cond)
    val touchedDf = readFilesDvAware(touched, schema, dvAt(base), columnMapAt(base))
    // two tagged writes: the touched files feed
    // survivors (data) + deleted images (CDC) in one (that input IS
    // scanned once), and the incoming slice feeds its data files +
    // insert images in the other. NOTE the incoming frame is
    // EVALUATED twice (`aligned` unioned with itself inside the one
    // job) — a non-deterministic source can diverge between its data
    // rows and its CDC insert images. CDC files legally split across
    // a commit's write calls (the commit records the concatenation).
    val wSurv = if (touched.isEmpty) Written(Nil, Map.empty)
      else writeData(touchedDf
        .withColumn("_change_type",
          when(coalesce(cond, lit(false)), lit("delete")))
        .withColumn("__tag",
          when(col("_change_type").isNotNull, lit("c")).otherwise(lit("d"))),
        base)
    val wNew = writeData(
      aligned.withColumn("_change_type", lit(null).cast("string"))
        .withColumn("__tag", lit("d"))
        .unionByName(aligned
          .withColumn("_change_type", lit("insert").cast("string"))
          .withColumn("__tag", lit("c"))), base)
    commitResolved("REPLACE_WHERE", base,
      touched.toSet, wSurv.files ++ wNew.files, Some(cond),
      readsTable = false, schema,
      Map("numRewrittenFiles" -> touched.size.toLong,
        "numAddedFiles" -> wNew.files.size.toLong),
      collectStats(wSurv.files ++ wNew.files,
        rewriteStampZone(touched, base, sessionValues = true)),
      cdcFiles = Some(wSurv.cdc ++ wNew.cdc),
      newPartValues = wSurv.partValues ++ wNew.partValues,
      idHwBefore = idHwBefore, marks = idMarks)
    } finally idCleanup()
  }

  /** Files of the current version that contain ≥1 LIVE row matching
    * `cond` — the copy-on-write blast radius. One pushed-down scan;
    * only file NAMES reach the driver. Uses the `_metadata` file path
    * (not input_file_name(), which goes blank after the DV anti-join's
    * shuffle) and ignores DV-masked rows: a file whose only matches
    * are already deleted needs no rewrite.
    */
  private def touchedFiles(cond: Column): Seq[String] = {
    // blast-radius pre-prune: drop files whose commit-log stats /
    // partition tuple PROVE no row can match, BEFORE any scan I/O —
    // at 100 TB a selective DELETE on a clustered key opens a handful
    // of files instead of the fleet
    val candidates = candidateFiles(cond)
    if (candidates.isEmpty) return Nil
    val hits = scanWithPos(candidates, currentSchema, dvAt(latestVersion),
      columnMapAt(latestVersion))
      .where(cond)
      .select(col("__fp").as("f")).distinct()
      .collect().map(_.getString(0)).toSet
    matchHits(candidates, hits)
  }

  /** GENERATED-COLUMN PARTITION PRUNING (Delta's feature): when a
    * partition column is generated by a MONOTONE non-decreasing
    * function of one input column (`year(x)`, `to_date(x)`,
    * `cast(x as date)`, `date_trunc('year|quarter|month|week|day', x)`),
    * a comparison on the INPUT implies one on the partition value —
    * `o_orderdate >= D` prunes `order_year` partitions without the
    * query ever naming the generated column. Conservative by
    * construction: only top-level conjuncts derive, strict bounds
    * widen to non-strict, equality derives for any function shape,
    * and any evaluation surprise derives nothing. The derived
    * predicates are EXTRA prune conditions; they never replace the
    * original filter.
    */
  /** Returns (zone-free, zone-dependent) derived conditions. The
    * zone-free ones apply to every file; the zone-dependent ones
    * (TIMESTAMP/instant inputs — year()/to_date()/date_trunc() shift
    * with the session zone) may prune ONLY files whose recorded
    * materialization zone matches the session ([[fileZoneOk]]) —
    * callers gate them per file, which is what lets writers in
    * different zones coexist on one table.
    */
  private[tables] def derivedGenConds(
      conds: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      pcols: Seq[String])
      : (Seq[org.apache.spark.sql.catalyst.expressions.Expression],
         Seq[org.apache.spark.sql.catalyst.expressions.Expression]) = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
    val schema = currentSchema
    // monotonicity only holds in the input's ORDER — and the order a
    // comparison uses is the column type's. A STRING input is ordered
    // lexically, where to_date/year are NOT monotone ('2020-2-1' >
    // '2020-11-5' as strings, reversed as dates) — deriving there
    // would prune files whose rows match. DateType and
    // TimestampNTZType evaluate identically in every session;
    // TimestampType (instant) derivations are session-zone-dependent
    // and land in the second bucket for per-file gating.
    def temporal(x: String) = schema.fields
      .find(_.name.equalsIgnoreCase(x))
      .exists(f => f.dataType == DateType || f.dataType == TimestampNTZType ||
        f.dataType == TimestampType)
    def tzDep(x: String) = schema.fields
      .find(_.name.equalsIgnoreCase(x))
      .exists(_.dataType == TimestampType)
    val gens = generatedColumns.toSeq.collect {
      case (c, g) if pcols.contains(c) =>
        GraftTable.monotoneInput(g).filter(temporal).map(x => (c, g, x))
    }.flatten
    if (gens.isEmpty) return (Nil, Nil)
    // g(lit): substitute the input attribute with the literal and let
    // the analyzer resolve + evaluate the one-row projection
    def evalGen(g: String, x: String, l: Literal): Option[Literal] = try {
      val substituted = spark.sessionState.sqlParser.parseExpression(g)
        .transformUp {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            if a.nameParts.length == 1 &&
              a.nameParts.head.equalsIgnoreCase(x) => l
        }
      val df = org.apache.spark.sql.GraftPlans.ofRows(spark,
        org.apache.spark.sql.catalyst.plans.logical.Project(
          Seq(Alias(substituted, "v")()),
          org.apache.spark.sql.catalyst.plans.logical.OneRowRelation()))
      Option(df.head().get(0)).map(v =>
        Literal.create(v, df.schema.head.dataType))
    } catch { case _: Exception => None }
    def derive(x: String, l: Literal,
        mk: (Expression, Expression) => Expression): Seq[(Expression, Boolean)] =
      gens.collect { case (c, g, in) if in.equalsIgnoreCase(x) =>
        evalGen(g, in, l).map { gl =>
          (mk(AttributeReference(c, schema(c).dataType)(), gl), tzDep(in))
        }
      }.flatten
    val all = conds.flatMap(GraftTable.conjuncts).flatMap {
      case EqualTo(a: AttributeReference, l: Literal) =>
        derive(a.name, l, EqualTo(_, _))
      case EqualTo(l: Literal, a: AttributeReference) =>
        derive(a.name, l, EqualTo(_, _))
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
        derive(a.name, l, GreaterThanOrEqual(_, _))
      case GreaterThan(a: AttributeReference, l: Literal) =>
        derive(a.name, l, GreaterThanOrEqual(_, _)) // widened: monotone
      case LessThanOrEqual(a: AttributeReference, l: Literal) =>
        derive(a.name, l, LessThanOrEqual(_, _))
      case LessThan(a: AttributeReference, l: Literal) =>
        derive(a.name, l, LessThanOrEqual(_, _)) // widened: monotone
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
        derive(a.name, l, LessThanOrEqual(_, _))
      case GreaterThan(l: Literal, a: AttributeReference) =>
        derive(a.name, l, LessThanOrEqual(_, _))
      case LessThanOrEqual(l: Literal, a: AttributeReference) =>
        derive(a.name, l, GreaterThanOrEqual(_, _))
      case LessThan(l: Literal, a: AttributeReference) =>
        derive(a.name, l, GreaterThanOrEqual(_, _))
      case _ => Nil
    }
    (all.collect { case (e, false) => e }, all.collect { case (e, true) => e })
  }

  /** Conservative driver-side candidate set for a DML predicate:
    * resolve `cond` against the table's (logical) schema, translate
    * attribute names to the stats' physical domain, and keep only
    * files [[StatsPruning]] cannot rule out. Falls back to ALL files
    * on any resolution surprise — pruning is an optimization, never
    * a correctness gate.
    */
  private[graft] def candidateFiles(cond: Column): Seq[String] = {
    val c = readCommit(latestVersion)
    candidatesAmong(cond, c, c.files)
  }

  /** The subset of `files` commit `c`'s stats/partition values cannot
    * prove free of rows matching `cond` — shared by the DML blast-
    * radius probe and the concurrent-commit conflict check. Falls
    * back to ALL of `files` on any resolution surprise: for the probe
    * that means "scan everything" (safe), for the conflict check
    * "assume conflict" (safe).
    */
  private def candidatesAmong(cond: Column, c: Commit,
      files: Seq[String]): Seq[String] = {
    val schema = schemaAt(c.version)
    try {
      val probe = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .where(cond)
      val conds = probe.queryExecution.analyzed.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition
      }
      val cm = c.columnMap.getOrElse(Map.empty)
      // stats are keyed by PHYSICAL names; partition columns are
      // rename-immutable so the partition-exact path needs no map.
      // Fold constant subtrees first: the ANALYZED (pre-optimizer)
      // plan leaves type-coercion casts around literals
      // (id >= cast(1 as bigint)), which the conservative matcher
      // would otherwise skip
      val condsPhys = conds.map(_.transformUp {
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
            if cm.contains(a.name) => a.withName(cm(a.name))
        case e if e.foldable && e.deterministic =>
          org.apache.spark.sql.catalyst.expressions.Literal
            .create(e.eval(), e.dataType)
      })
      val stats = c.stats
      val pv = c.partValues.getOrElse(Map.empty)
      val pcols = c.partitionBy.getOrElse(Nil)
      // generated-column partition pruning (Delta's feature): bounds
      // on a generation INPUT imply bounds on the partition value;
      // session-zone-dependent derivations apply per FILE, only
      // where the file's recorded writer zone matches the session
      val (derivedFree, derivedTz) = try derivedGenConds(condsPhys, pcols)
        catch { case _: Exception => (Nil, Nil) }
      val kept = files.filter { f =>
        (condsPhys ++ derivedFree).forall(
          StatsPruning.keep(_, stats.get(f), pv.get(f), pcols, spark)) &&
        (derivedTz.isEmpty || !fileZoneOk(stats.get(f)) ||
          derivedTz.forall(
            StatsPruning.keep(_, stats.get(f), pv.get(f), pcols, spark)))
      }
      // sub-range precision for point predicates (= / IN) on declared
      // bloom columns: min/max can't prune a point key out of files
      // whose ranges all overlap; the per-file bloom sidecar can
      val bloom = c.properties.getOrElse(Map.empty)
        .get("graft.bloom.columns")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty)
          .map(n => cm.getOrElse(n, n)).toSet)
        .getOrElse(Set.empty[String])
      if (bloom.isEmpty) kept
      else {
        val keptAbs = BloomIndex.prune(condsPhys, bloom,
          kept.map(abs)).toSet
        kept.filter(f => keptAbs.contains(abs(f)))
      }
    } catch { case _: Exception => files }
  }

  // ---- file-granular concurrent-DML conflict resolution ----------------

  /** Isolation level for DML-vs-append races (Delta's two levels,
    * from `graft.isolationLevel` in TBLPROPERTIES).
    * `WriteSerializable` (the default, as in Delta): a concurrent
    * BLIND APPEND never conflicts with a DML's read predicate — the
    * DML is logically serialized before it, so the appended rows
    * legitimately survive. `Serializable`: an append whose rows may
    * match the predicate conflicts too (the history must equal some
    * serial order for readers as well as writers).
    */
  private def isolationLevel: String =
    (if (latestVersion < 0) None
     else readCommit(latestVersion).properties.getOrElse(Map.empty)
       .get("graft.isolationLevel"))
      .map(_.trim).filter(_.nonEmpty).getOrElse("WriteSerializable")

  /** FILE-GRANULAR CONFLICT DETECTION (Delta's ConflictChecker
    * analog). A DML/maintenance op staged its rewrite against `base`;
    * concurrent writers claimed (base, latest]. Decide from the
    * commit log whether the window COMMUTES with the staged rewrite —
    * serializing this op LAST — and throw [[CommitConflictException]]
    * with the reason if it does not:
    *
    *  - table metadata (schema, constraints, column map, partition
    *    spec, generation/identity/bucketing specs, properties) must
    *    be untouched — a metadata race invalidates the staged files;
    *  - the deletion-vector set must be untouched — the rewrite
    *    applied the base's tombstones;
    *  - no concurrent commit may remove a file this op removes or
    *    tombstones (write-write: both rewrote the same rows);
    *  - concurrently ADDED files (appends, or rewrites under another
    *    predicate) must be PROVABLY free of rows matching this op's
    *    read predicate, judged by their commit stats / partition
    *    values (read-write: a serial execution with this op last
    *    would have read those rows). Blind appends are exempt under
    *    WriteSerializable (ordered after this op). Ops that read
    *    only the files they rewrite (compaction, purge) pass
    *    `readCond = None`; ops whose read set is the whole table
    *    under a non-file-provable predicate (MERGE's key join) pass
    *    `readsTable = true` and conflict with any concurrent add.
    */
  private[graft] def checkDmlConflicts(op: String, base: Long, latest: Long,
      removes: Set[String], readCond: Option[Column],
      readsTable: Boolean, idHwBefore: Long = -2L): Unit = {
    def fail(why: String): Nothing = throw new CommitConflictException(
      s"$op at $root conflicts with a concurrent commit: $why " +
        s"(staged against version $base, latest is $latest)")
    val bc = readCommit(base)
    val lc = readCommit(latest)
    if (lc.schemaJson != bc.schemaJson) fail("the schema changed")
    if (lc.constraints.getOrElse(Map.empty) !=
        bc.constraints.getOrElse(Map.empty)) fail("constraints changed")
    if (lc.columnMap.getOrElse(Map.empty) !=
        bc.columnMap.getOrElse(Map.empty)) fail("the column mapping changed")
    if (lc.partitionBy != bc.partitionBy) fail("the partition spec changed")
    if (lc.generated != bc.generated || lc.identityCol != bc.identityCol ||
        lc.bucketBy != bc.bucketBy || lc.numBuckets != bc.numBuckets)
      fail("the generation/identity/bucketing spec changed")
    if (lc.properties.getOrElse(Map.empty) !=
        bc.properties.getOrElse(Map.empty)) fail("table properties changed")
    if (dvAt(latest) != dvAt(base))
      fail("the deletion-vector set changed")
    if (idHwBefore != -2L && identityHighWater != idHwBefore)
      fail("a concurrent commit advanced the identity high water")
    val strict = isolationLevel.equalsIgnoreCase("Serializable")
    var v = base + 1
    while (v <= latest) {
      val prev = readCommit(v - 1)
      val cur = readCommit(v)
      val prevSet = prev.files.toSet
      val curSet = cur.files.toSet
      val removedV = prev.files.filterNot(curSet)
      val addedV = cur.files.filterNot(prevSet)
      val overlap = removedV.filter(removes)
      if (overlap.nonEmpty)
        fail(s"version $v (${cur.operation}) rewrote ${overlap.size} " +
          "file(s) this operation also rewrites")
      if (addedV.nonEmpty) {
        val blindAppend = removedV.isEmpty
        // Delta's conflict matrix: under WriteSerializable a blind
        // append is excluded from the added-file check even for
        // whole-table readers (INSERT vs MERGE "cannot conflict") —
        // the reader is logically ordered before it
        if (readsTable && (strict || !blindAppend))
          fail(s"version $v (${cur.operation}) added files while this " +
            "operation reads the whole table")
        if (!readsTable) readCond.foreach { cond =>
          if (strict || !blindAppend) {
            val mayMatch = candidatesAmong(cond, cur, addedV)
            if (mayMatch.nonEmpty)
              fail(s"version $v (${cur.operation}) added ${mayMatch.size} " +
                "file(s) that may hold rows matching this operation's predicate")
          }
        }
      }
      v += 1
    }
  }

  /** Commit a staged DML/maintenance rewrite with file-granular
    * conflict RESOLUTION: claim base+1; on a lost race, prove the
    * concurrent window commutes ([[checkDmlConflicts]]) and re-claim
    * against the advanced base — so partition-disjoint DML, appends
    * and maintenance land concurrently instead of fail-fasting (the
    * Delta optimistic-retry protocol). The staged data files need no
    * rework: only the O(files) commit JSON is recomputed per retry.
    *
    * `removes`/`adds` are this op's rewrite delta; `conflictRemoves`
    * overrides the write-write check set when it differs from the
    * file-list delta (merge-on-read DELETE removes nothing from the
    * list but tombstones rows in specific files). `dvOut` recomputes
    * the committed DV list against whatever base wins (it sees the
    * base version and that base's untouched survivor files).
    */
  private def commitResolved(op: String, base0: Long,
      removes: Set[String], adds: Seq[String],
      readCond: Option[Column], readsTable: Boolean,
      schema: StructType, metrics: Map[String, Long],
      newStats: Map[String, FileStats] = Map.empty,
      cdcFiles: Option[Seq[String]] = None,
      newPartValues: Map[String, Map[String, String]] = Map.empty,
      dvOut: (Long, Seq[String]) => Option[Seq[String]] = null,
      conflictRemoves: Option[Set[String]] = None,
      idHwBefore: Long = -2L,
      newColumnMap: Option[Map[String, String]] = None,
      marks: Map[String, Long] = Map.empty): Long = {
    val dvFn: (Long, Seq[String]) => Option[Seq[String]] =
      if (dvOut != null) dvOut
      else (b, untouched) => Some(liveDvs(dvAt(b), untouched, filesAt(b)))
    var b = base0
    var attempts = 0
    while (true) {
      val untouched = filesAt(b).filterNot(removes)
      try {
        return commit(op, b, untouched ++ adds, schema, metrics, newStats,
          cdcFiles = cdcFiles, dv = dvFn(b, untouched),
          newPartValues = newPartValues, newColumnMap = newColumnMap,
          state = TableState.of(marks))
      } catch {
        case e: CommitConflictException =>
          attempts += 1
          if (attempts > 10) throw e
          val latest = latestVersion
          checkDmlConflicts(op, b, latest,
            conflictRemoves.getOrElse(removes), readCond, readsTable,
            idHwBefore)
          b = latest
      }
    }
    -1L // unreachable
  }

  /** DML DELETE WHERE (01-Fraud-Delta.py:159). */
  def delete(cond: Column): Long = {
    val base = latestVersion
    val touched = touchedFiles(cond)
    if (touched.isEmpty)
      return commitResolved("DELETE", base, Set.empty, Nil,
        Some(cond), readsTable = false, schemaAt(base),
        Map("numRewrittenFiles" -> 0L),
        cdcFiles = Some(Nil), dvOut = (_, _) => None)
    // DV-aware: rows already masked by deletion vectors must neither
    // survive into the rewrite nor re-appear in the CDC delete set
    val touchedDf = readFilesDvAware(touched, schemaAt(base), dvAt(base),
      columnMapAt(base))
    // one scan + one tagged write: every touched row lands exactly
    // once — kept rows as data, cond rows as the CDC delete set
    val w = writeData(touchedDf
      .withColumn("_change_type",
        when(coalesce(cond, lit(false)), lit("delete")))
      .withColumn("__tag",
        when(col("_change_type").isNotNull, lit("c")).otherwise(lit("d"))),
      base)
    maybeAutoCompact(commitResolved("DELETE", base,
      touched.toSet, w.files, Some(cond), readsTable = false,
      schemaAt(base),
      Map("numRewrittenFiles" -> touched.size.toLong),
      collectStats(w.files, partitionStampZones(touched, base, w.partValues)),
      cdcFiles = Some(w.cdc), newPartValues = w.partValues))
  }

  /** MERGE-ON-READ DELETE via DELETION VECTORS (Delta's DV feature):
    * instead of copy-on-write rewriting every file that holds a
    * matching row, record the matching rows' (file, position)
    * tombstones in a DV file and leave every data file untouched —
    * O(deleted rows) written instead of O(touched files' bytes).
    * Reads mask the tombstones with an anti-join; repeated
    * merge-on-read deletes accumulate DV files until [[purgeDvs]] /
    * [[compact]] rewrites them away. The write-time CDC change set is
    * still persisted, so the change feed stays exact.
    *
    * The trade-off is Delta's: writes get cheaper, reads carry the
    * mask until a purge. Surfaces that cannot apply the mask — the
    * file-granular scan-planning path and append-only streaming
    * replay — REFUSE tables with active DVs instead of resurrecting
    * deleted rows (the reader-feature gate).
    */
  def deleteMor(cond: Column): Long = {
    val base = latestVersion
    val schema = schemaAt(base)
    // one stats/partition/bloom-pruned scan feeds the tombstone
    // write AND the CDC set — files provably free of matching rows
    // never open (the same blast-radius pre-prune as updateMor and
    // the copy-on-write paths; a selective point-delete is the DV
    // workload, so the prune is the whole economy)
    val victims = scanWithPos(candidateFiles(cond), schema, dvAt(base),
      columnMapAt(base))
      .where(coalesce(cond, lit(false)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE per-file aggregate answers the deleted-row count AND the
      // tombstoned-file conflict set (guide §1.2 — this ran as a
      // materializing count plus a separate distinct-collect); the
      // aggregate consumes every victim partition, so it also
      // materializes the cache before the dv/cdc writes. Conflict
      // write-set = the files the tombstones mask: a racer rewriting
      // one of them would resurrect our deleted rows.
      val perFile = victims.groupBy(col("__fp"))
        .agg(count(lit(1)).as("__n")).collect()
      val n = perFile.iterator.map(_.getLong(1)).sum
      if (n == 0)
        return commitResolved("DELETE_DV", base, Set.empty, Nil,
          Some(cond), readsTable = false, schema,
          Map("numDeletedRows" -> 0L), cdcFiles = Some(Nil),
          dvOut = (_, _) => None)
      val newDv = writeData(
        victims.select(col("__fp").as("file_path"), col("__pos").as("pos")),
        Nil, dir = "dv").files
      val cdc = writeData(victims.drop("__fp", "__pos")
        .withColumn("_change_type", lit("delete")),
        Nil, columnMapAt(base), dir = "cdc").files
      val masked = perFile.iterator.map(_.getString(0)).toSet
      commitResolved("DELETE_DV", base, Set.empty, Nil,
        Some(cond), readsTable = false, schema,
        Map("numDeletedRows" -> n, "numAddedDvFiles" -> newDv.size.toLong),
        cdcFiles = Some(cdc),
        dvOut = (b, _) => Some(dvAt(b) ++ newDv),
        conflictRemoves = Some(matchHits(filesAt(base), masked).toSet))
    } finally victims.unpersist()
  }

  /** MERGE-ON-READ UPDATE via DELETION VECTORS (Delta's DV-backed
    * update): tombstone the matching rows' (file, position) pairs and
    * APPEND the post-update rows as fresh files — zero existing files
    * rewritten, O(updated rows) written. The point-update shape at
    * 100 TB: an UPDATE touching one row per file otherwise rewrites
    * the whole fleet under copy-on-write. Assignment semantics match
    * [[update]] exactly (one projection — every SET sees pre-update
    * values; generated columns whose inputs were assigned recompute);
    * write-time CDC carries exact pre/post images. Same reader-
    * feature gate as [[deleteMor]]; [[purgeDvs]]/[[compact]]
    * materialize the table back to plain copy-on-write.
    */
  def updateMor(cond: Column, set0: Map[String, Column]): Long = {
    val base = latestVersion
    val schema = schemaAt(base)
    val set = resolveAssignments(schema, set0, "UPDATE SET")
    // stats/partition/bloom-pruned victim scan: files provably free
    // of matching rows are never opened (the same blast-radius
    // pre-prune as the copy-on-write paths)
    val victims = scanWithPos(candidateFiles(cond), schema, dvAt(base),
      columnMapAt(base))
      .where(coalesce(cond, lit(false)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE per-file aggregate: row count + tombstoned-file conflict
      // set, and the cache materializes under it (see deleteMor)
      val perFile = victims.groupBy(col("__fp"))
        .agg(count(lit(1)).as("__n")).collect()
      val n = perFile.iterator.map(_.getLong(1)).sum
      if (n == 0)
        return commitResolved("UPDATE_DV", base, Set.empty, Nil,
          Some(cond), readsTable = false, schema,
          Map("numUpdatedRows" -> 0L), cdcFiles = Some(Nil),
          dvOut = (_, _) => None)
      val newDv = writeData(
        victims.select(col("__fp").as("file_path"), col("__pos").as("pos")),
        Nil, dir = "dv").files
      // ONE projection: every assignment sees the pre-update row even
      // when another assignment targets a column it references
      val applied0 = victims.select(schema.fieldNames.map { f =>
        set.get(f) match {
          case Some(e) => e.as(f)
          case None => col(s"`$f`").as(f)
        }
      }.toIndexedSeq: _*)
      val applied = generatedColumns.foldLeft(applied0) {
        case (d, (gc, genExpr)) =>
          val inputsAssigned = !set.contains(gc) &&
            referencedColumns(genExpr).exists(r =>
              set.keys.exists(_.equalsIgnoreCase(r)))
          if (!inputsAssigned) d else d.withColumn(gc, expr(genExpr))
      }
      enforceConstraints(applied)
      // post-update rows and both CDC images all derive from the
      // PERSISTED victims — one tagged write (one write job over the
      // cache, not two)
      val w = writeData(applied
        .withColumn("_change_type", lit(null).cast("string"))
        .withColumn("__tag", lit("d"))
        .unionByName(victims.drop("__fp", "__pos")
          .withColumn("_change_type", lit("update_preimage"))
          .withColumn("__tag", lit("c")))
        .unionByName(applied
          .withColumn("_change_type", lit("update_postimage"))
          .withColumn("__tag", lit("c"))), base)
      // conflict write-set = the tombstoned files: a racer rewriting
      // one would resurrect the pre-update rows alongside our appends
      val masked = perFile.iterator.map(_.getString(0)).toSet
      val maskedRel = matchHits(filesAt(base), masked)
      val gensTouched = generatedColumns.exists { case (gc, genExpr) =>
        set.keys.exists(_.equalsIgnoreCase(gc)) ||
          referencedColumns(genExpr).exists(r =>
            set.keys.exists(_.equalsIgnoreCase(r)))
      }
      commitResolved("UPDATE_DV", base, Set.empty, w.files,
        Some(cond), readsTable = false, schema,
        Map("numUpdatedRows" -> n,
          "numAddedDvFiles" -> newDv.size.toLong,
          "numAddedFiles" -> w.files.size.toLong),
        collectStats(w.files,
          rewriteStampZone(maskedRel, base, sessionValues = gensTouched)),
        cdcFiles = Some(w.cdc),
        dvOut = (b, _) => Some(dvAt(b) ++ newDv),
        conflictRemoves = Some(maskedRel.toSet),
        newPartValues = w.partValues)
    } finally victims.unpersist()
  }

  /** REORG TABLE ... APPLY (PURGE) analog: materialize the deletion
    * vectors by rewriting ONLY the files that carry tombstones, then
    * drop the DVs — no logical change, the table just becomes plain
    * copy-on-write again (and DV-refusing surfaces can read it).
    */
  def purgeDvs(): Long = {
    val base = latestVersion
    val dv = dvAt(base)
    if (dv.isEmpty) return base
    val schema = schemaAt(base)
    val masked = spark.read.parquet(dv.map(abs): _*)
      .select(col("file_path")).distinct()
      .collect().map(_.getString(0)).toSet
    // stale tombstones (files since rewritten by COW DML) name files
    // no longer listed — purge only current ones
    val touched = matchHits(filesAt(base), masked)
    val kept = readFilesDvAware(touched, schema, dv, columnMapAt(base))
    val w = if (touched.isEmpty) Written(Nil, Map.empty) else writeData(kept, base)
    // reads only the files it rewrites — concurrent appends commute
    commitResolved("PURGE", base, touched.toSet, w.files,
      None, readsTable = false, schema,
      Map("numRewrittenFiles" -> touched.size.toLong),
      collectStats(w.files, partitionStampZones(touched, base, w.partValues)),
      cdcFiles = Some(Nil), dvOut = (_, _) => Some(Nil),
      newPartValues = w.partValues)
  }

  /** Resolve assignment keys against the schema (case-insensitively,
    * matching Spark SQL's resolution) — a typo'd SET column must be
    * an error, not a silently committed no-op.
    */
  private def resolveAssignments(schema: StructType,
      m: Map[String, Column], context: String): Map[String, Column] =
    m.map { case (k, v) =>
      val resolved = schema.fieldNames.find(_.equalsIgnoreCase(k)).getOrElse(
        throw new IllegalArgumentException(
          s"$context references unknown column '$k' " +
            s"(columns: ${schema.fieldNames.mkString(", ")})"))
      // GENERATED ALWAYS: assignment would silently diverge the
      // identity sequence (generated columns are caught by the
      // implicit expression check, identity has no expression)
      if (identityColumn.contains(resolved))
        throw new IllegalArgumentException(
          s"$context cannot assign identity column '$resolved' " +
            "(GENERATED ALWAYS)")
      resolved -> v
    }

  /** DML UPDATE ... SET assignments WHERE cond. */
  def update(cond: Column, set0: Map[String, Column]): Long = {
    val base = latestVersion
    val set = resolveAssignments(schemaAt(base), set0, "UPDATE SET")
    val touched = touchedFiles(cond)
    if (touched.isEmpty)
      return commitResolved("UPDATE", base, Set.empty, Nil,
        Some(cond), readsTable = false, schemaAt(base),
        Map("numRewrittenFiles" -> 0L),
        cdcFiles = Some(Nil), dvOut = (_, _) => None)
    val cur = readFilesDvAware(touched, schemaAt(base), dvAt(base),
      columnMapAt(base))
    // evaluate cond ONCE against the original row, then apply every
    // SET against it — a set-column appearing in cond (or in another
    // assignment) must see the pre-update value
    val marked = cur.withColumn("__hit", coalesce(cond, lit(false)))
    // a `__pre_<f>` copy of every column rides through the post-update
    // projection, so one scan emits the rewrite AND the CDC pre/post
    // images (one scan, one write job)
    val fields = schemaAt(base).fieldNames.toSeq
    val preCols = fields.map(f => col(s"`$f`").as(s"__pre_$f"))
    // ONE projection: every assignment sees pre-update values even
    // when another assignment targets a column it references
    val applied0 = marked.select(((schemaAt(base).fieldNames.map { f =>
      set.get(f) match {
        case Some(e) => when(col("__hit"), e).otherwise(col(f)).as(f)
        case None => col(f)
      }
    } :+ col("__hit")) ++ preCols).toIndexedSeq: _*)
    // generated columns whose SOURCE columns were assigned are
    // recomputed from the post-update values (Delta recomputes;
    // keeping the stale value would fail the implicit generation
    // check and reject a legal workload). An explicitly assigned
    // generated column keeps the user's value — validated below.
    val applied = generatedColumns.foldLeft(applied0) {
      case (d, (gc, genExpr)) =>
        val inputsAssigned = !set.contains(gc) &&
          referencedColumns(genExpr).exists(r =>
            set.keys.exists(_.equalsIgnoreCase(r)))
        if (!inputsAssigned) d
        else d.withColumn(gc,
          when(col("__hit"), expr(genExpr)).otherwise(col(s"`$gc`")))
    }
    val updated = applied.drop("__hit").drop(fields.map(f => s"__pre_$f"): _*)
    // constraints hold on every write path, not just append/merge:
    // untouched files were validated when they landed; the rewritten
    // rows are what an UPDATE can push into a violating state
    enforceConstraints(updated)
    // write-time CDC: each row explodes into the rewrite row (always)
    // plus, for hit rows, the pre/post images. Delta semantics:
    // identity assignments (SET x = x) still emit pre/post pairs here;
    // the EXCEPT ALL fallback cancels them, so the two paths differ
    // only for value-preserving updates
    val ctNull = lit(null).cast("string")
    val dataS = struct((fields.map(f => col(s"`$f`")) :+
      ctNull.as("_change_type")).toIndexedSeq: _*)
    val preS = struct((fields.map(f => col(s"`__pre_$f`").as(f)) :+
      lit("update_preimage").cast("string").as("_change_type")).toIndexedSeq: _*)
    val postS = struct((fields.map(f => col(s"`$f`")) :+
      lit("update_postimage").cast("string").as("_change_type")).toIndexedSeq: _*)
    val w = writeData(applied.select(explode(
        when(col("__hit"), array(dataS, preS, postS))
          .otherwise(array(dataS))).as("__r"))
      .select(col("__r.*"))
      .withColumn("__tag",
        when(col("_change_type").isNull, lit("d")).otherwise(lit("c"))), base)
    // session-clock generated values only materialize when the SET
    // touches a generated column (explicitly, or via its inputs and
    // the recompute) — an unrelated UPDATE keeps its inputs' zone
    val gensTouched = generatedColumns.exists { case (gc, genExpr) =>
      set.keys.exists(_.equalsIgnoreCase(gc)) ||
        referencedColumns(genExpr).exists(r =>
          set.keys.exists(_.equalsIgnoreCase(r)))
    }
    maybeAutoCompact(commitResolved("UPDATE", base,
      touched.toSet, w.files, Some(cond), readsTable = false,
      schemaAt(base),
      Map("numRewrittenFiles" -> touched.size.toLong),
      collectStats(w.files,
        rewriteStampZone(touched, base, sessionValues = gensTouched)),
      cdcFiles = Some(w.cdc), newPartValues = w.partValues))
  }

  /** MERGE INTO target USING source ON key — the default clause set:
    * matched → UPDATE SET * (source row wins), not matched → INSERT *
    * (01-Fraud-Delta.py:234-241).
    */
  def merge(source: DataFrame, key: String): Long =
    merge(source, key, Seq(GraftTable.MatchedUpdate()),
      Some(GraftTable.NotMatchedInsert()))

  /** Single-key convenience over the composite-key merge. */
  def merge(source: DataFrame, key: String,
      matched0: Seq[GraftTable.MatchedClause],
      notMatched0: Option[GraftTable.NotMatchedInsert]): Long =
    merge(source, Seq(key), matched0, notMatched0)

  /** Composite-key default-clause merge. */
  def merge(source: DataFrame, keys: Seq[String]): Long =
    merge(source, keys, Seq(GraftTable.MatchedUpdate()),
      Some(GraftTable.NotMatchedInsert()))

  /** Full MERGE with conditional WHEN clauses (the Delta SQL surface):
    * `WHEN MATCHED [AND cond] THEN UPDATE SET ... | DELETE`,
    * `WHEN NOT MATCHED [AND cond] THEN INSERT`. Matched clauses fire
    * in declaration order, first condition that holds wins (Delta
    * semantics); a matched row no clause accepts stays unchanged.
    *
    * Expression context: matched-clause conditions and SET values see
    * the TARGET row's columns bare (`col("o_totalprice")`) and the
    * source row under a struct (`col("src.o_totalprice")`); the
    * not-matched clause's condition and values see the SOURCE row
    * bare. Only files holding matched keys are rewritten; inserts
    * land in fresh files — blast radius stays file-granular.
    *
    * Keys are COMPOSITE equality columns: a null in ANY key column
    * never matches (SQL equality), so such source rows are
    * legitimate NOT MATCHED inserts.
    */
  def merge(source: DataFrame, keys: Seq[String],
      matched0: Seq[GraftTable.MatchedClause],
      notMatched0: Option[GraftTable.NotMatchedInsert]): Long =
    merge(source, keys, matched0, notMatched0, Nil)

  /** [[merge]] with an explicit READ VERSION: the conflict base is
    * pinned at `readVersion` instead of the entry-time latest, so a
    * caller whose SOURCE values derive from a snapshot taken at
    * `readVersion` (read → driver-side compute → merge) gets the
    * serializable behavior the anchors pattern promises — a commit
    * landing in the read→merge window that rewrites a file this merge
    * also touches draws a [[CommitConflictException]] instead of the
    * merge silently applying stale-read values on top of it.
    */
  def mergeFromRead(readVersion: Long, source: DataFrame,
      keys: Seq[String],
      matched0: Seq[GraftTable.MatchedClause],
      notMatched0: Option[GraftTable.NotMatchedInsert]): Long =
    merge(source, keys, matched0, notMatched0, Nil, evolveSchema = false,
      mor = false, readVersion = readVersion)

  /** Full MERGE including `WHEN NOT MATCHED BY SOURCE` clauses: target
    * rows no source key matches can be DELETEd or UPDATEd in the same
    * statement (sync/SCD pipelines — "remove rows gone from the
    * source"). BY SOURCE conditions and SET values see the TARGET row
    * bare; there is no source row in scope. Because deciding
    * "unmatched" consults every target row, a merge with BY SOURCE
    * clauses carries WHOLE-TABLE read-set conflict semantics
    * (a concurrent append can no longer commute with it), while the
    * rewrite itself stays file-granular: only files holding a matched
    * key or a row a BY SOURCE clause accepts are rewritten.
    */
  def merge(source: DataFrame, keys: Seq[String],
      matched0: Seq[GraftTable.MatchedClause],
      notMatched0: Option[GraftTable.NotMatchedInsert],
      bySource0: Seq[GraftTable.NotMatchedBySourceClause],
      evolveSchema: Boolean = false): Long =
    merge(source, keys, matched0, notMatched0, bySource0, evolveSchema,
      mor = false, readVersion = -1L)

  /** MERGE-ON-READ MERGE via DELETION VECTORS — the third leg of the
    * DV DML trio ([[deleteMor]], [[updateMor]]): rows a matched or
    * BY SOURCE clause accepts are TOMBSTONED by (file, position) and
    * the post-update rows + NOT MATCHED inserts append as fresh
    * files — zero existing files rewritten, O(changed rows) written.
    * At 100 TB a daily upsert touching one row per file rewrites the
    * whole fleet under copy-on-write; merge-on-read writes the delta.
    * Clause semantics, schema evolution, generated/identity columns,
    * CDC images and the source-key conflict envelope are identical to
    * [[merge]]; the write-write conflict set is the tombstoned files
    * (a racer rewriting one would resurrect our pre-merge rows).
    * Same reader-feature gate as [[deleteMor]];
    * [[purgeDvs]]/[[compact]] materialize back to copy-on-write.
    */
  def mergeMor(source: DataFrame, keys: Seq[String],
      matched0: Seq[GraftTable.MatchedClause] = Seq(GraftTable.MatchedUpdate()),
      notMatched0: Option[GraftTable.NotMatchedInsert] =
        Some(GraftTable.NotMatchedInsert()),
      bySource0: Seq[GraftTable.NotMatchedBySourceClause] = Nil,
      evolveSchema: Boolean = false): Long =
    merge(source, keys, matched0, notMatched0, bySource0, evolveSchema,
      mor = true, readVersion = -1L)

  private def merge(source: DataFrame, keys: Seq[String],
      matched0: Seq[GraftTable.MatchedClause],
      notMatched0: Option[GraftTable.NotMatchedInsert],
      bySource0: Seq[GraftTable.NotMatchedBySourceClause],
      evolveSchema: Boolean,
      mor: Boolean,
      readVersion: Long): Long = {
    import GraftTable.{BySourceDelete, BySourceUpdate, MatchedDelete, MatchedUpdate, NotMatchedInsert}
    require(keys.nonEmpty, "MERGE needs at least one key column")
    // an explicit readVersion pins the conflict base where the
    // caller's source values were READ, so the read→merge window is
    // inside the conflict-checked span (see [[mergeFromRead]])
    val base = if (readVersion >= 0L) readVersion else latestVersion
    // MERGE WITH SCHEMA EVOLUTION (Delta's autoMerge): source-only
    // columns are ADDED to the target schema (nullable — every
    // pre-merge row surfaces null), name-matched wider source types
    // widen the target column, and the merge commits the evolved
    // schema atomically with its row changes. Existing files are
    // untouched: the evolved-schema read surfaces null for the new
    // columns, exactly as evolve-append does. A re-added previously
    // dropped name takes a FRESH physical name so old files' stale
    // bytes cannot resurface.
    val schema = if (evolveSchema) checkSchema(source, evolve = true)
      else schemaAt(base)
    val freshCm = if (evolveSchema) freshColumnMap(schema, base)
      else Map.empty[String, String]
    val cm = columnMapAt(base) ++ freshCm
    // GENERATED ALWAYS identity semantics under MERGE (Delta's rules):
    // the SOURCE must not supply the identity column (and cannot join
    // on it — matching would need source ids); matched rows KEEP the
    // target's id through every clause (SET * skips it), NOT MATCHED
    // inserts take engine-assigned dense ids continuing the high water
    identityColumn.foreach { idc =>
      require(!source.columns.exists(_.equalsIgnoreCase(idc)),
        s"MERGE source must not supply identity column '$idc' " +
          "(GENERATED ALWAYS — ids are engine-assigned)")
      require(!keys.exists(_.equalsIgnoreCase(idc)),
        s"cannot MERGE on identity column '$idc': matching would need " +
          "source-supplied ids; model the key on a business column")
    }
    // the source row rides the clause join as the struct `__src`: a
    // matched clause's `src.<col>` re-points to it, so a bare `src`
    // stays free to name a target column of that name
    val targetHasSrc = schema.fieldNames.exists(_.equalsIgnoreCase("src"))
    def toSrc(c: Column): Column = org.apache.spark.sql.GraftPlans.column(
      org.apache.spark.sql.GraftPlans.expression(c).transformUp {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            if a.nameParts.head.equalsIgnoreCase("src") &&
              (a.nameParts.length > 1 || !targetHasSrc) =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
            "__src" +: a.nameParts.tail)
      })
    // typo'd clause assignment keys fail loudly, like UPDATE's
    val matched = matched0.map {
      case MatchedUpdate(c, m) =>
        MatchedUpdate(c.map(toSrc), m.map(a => resolveAssignments(schema,
          a.map { case (k, v) => k -> toSrc(v) }, "MERGE UPDATE SET")))
      case MatchedDelete(c) => MatchedDelete(c.map(toSrc))
    }
    val notMatched = notMatched0.map {
      case NotMatchedInsert(c, Some(m)) =>
        NotMatchedInsert(c, Some(resolveAssignments(schema, m, "MERGE INSERT")))
      case other => other
    }
    val bySource = bySource0.map {
      case BySourceUpdate(c, m) =>
        require(m.nonEmpty,
          "WHEN NOT MATCHED BY SOURCE THEN UPDATE needs SET assignments " +
            "(there is no source row, so SET * does not exist)")
        BySourceUpdate(c,
          resolveAssignments(schema, m, "MERGE BY SOURCE UPDATE SET"))
      case other => other
    }
    // the source is consulted by the dup-key check, the touched-file
    // probe, the clause join, the not-matched anti-join and the CDC
    // write — persist ONE evaluation (a non-deterministic or
    // concurrently-changing source must not answer differently per
    // branch)
    val src = source.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // any failure from here to the success-path releases (a dup-key
    // refusal, a write error) frees the persisted source/blast-radius
    // frames instead of stranding them per retry; unpersist is
    // idempotent, so the catch may overlap the success path harmlessly
    var taggedRef: Option[DataFrame] = None
    try {
    // Delta semantics: a target row matched by MULTIPLE source rows is
    // an error, not a silent row multiplication through the join.
    // Null keys are exempt — they never equi-match a target row, so
    // any number of them are legitimate NOT MATCHED inserts.
    //
    // MERGE's read set is "target rows whose key tuple equals a
    // source key tuple" (the clause join; the NOT MATCHED anti-join
    // consults the same tuples). A per-key envelope of the matchable
    // source rows (all keys non-null — null keys never equi-match)
    // over-approximates that set in a shape commit stats can refute —
    // exact In-lists when the distinct tuple count is small, [min,max]
    // ranges otherwise — so a concurrent append of keys provably
    // outside it COMMUTES with this merge instead of drawing Delta's
    // blanket ConcurrentAppendException. Keys whose type the stats
    // layer cannot interval-check drop out of the envelope (fewer
    // conjuncts is still a superset of the read set); if none remain
    // the merge keeps whole-table-reader conflict semantics.
    //
    // ONE scalar job on the persisted source answers the dup-key
    // check AND sizes the envelope (guide §1.2 — this ran as THREE
    // driver actions per merge: a dup-key probe, a 65-tuple head and
    // a min/max aggregate; at ~32 merges per dedup-storm scenario the
    // probe chain was a measured fixed cost): group the matchable key
    // tuples once, then aggregate the distinct-tuple count, the worst
    // per-tuple multiplicity (plus an example tuple for the error)
    // and each boundable key's min/max. Only the ≤64-tuple In-list
    // spelling needs a second (tiny) collect for the tuples.
    val boundableKeys = keys.filter(k =>
      schema.fields.find(_.name.equalsIgnoreCase(k)).map(_.dataType) match {
        case Some(_: org.apache.spark.sql.types.NumericType) => true
        case Some(org.apache.spark.sql.types.StringType) => true
        case Some(org.apache.spark.sql.types.TimestampType) => true
        case Some(org.apache.spark.sql.types.DateType) => true
        case _ => false // incl. a key the join will itself reject
      })
    val keyRows = src.select(keys.map(col): _*).distinct()
    val tupleCounts = src
      .where(keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("__c"))
    val envAggs = Seq(count(lit(1)).as("__n"), max(col("__c")).as("__m"),
      max_by(struct(keys.map(col): _*), col("__c")).as("__ex")) ++
      boundableKeys.flatMap(k => Seq(min(col(s"`$k`")), max(col(s"`$k`"))))
    val env = tupleCounts.agg(envAggs.head, envAggs.tail: _*).head()
    val nTuples = env.getLong(0)
    if (nTuples > 0 && env.getLong(1) > 1L)
      throw new IllegalArgumentException(
        s"MERGE source has duplicate join keys (e.g. ${keys.mkString(",")}=" +
          s"${env.getStruct(2).toSeq.mkString(",")}); " +
          "each target row must match at most one source row")
    val (readCond, readsTable) =
      if (boundableKeys.isEmpty) (None, true)
      else if (nTuples == 0L) (None, false) // no matchable row: empty read set
      else if (nTuples <= 64L) {
        // ≤64 distinct matchable tuples (the replayed-batch/upsert-few
        // shape): exact per-key In-lists are strictly tighter than the
        // range — a merge touching keys {3, 9M} must not conflict with
        // an append at 5M. One tiny collect over the (already grouped)
        // tuples decides the spelling.
        val few = tupleCounts.select(keys.map(col): _*).limit(65).collect()
        val cond = boundableKeys.map { k =>
          val i = keys.indexWhere(_.equalsIgnoreCase(k))
          col(s"`$k`").isin(few.map(_.get(i)).distinct.toIndexedSeq: _*)
        }.reduce(_ && _)
        (Some(cond), false)
      } else {
        (Some(boundableKeys.zipWithIndex.map { case (k, i) =>
          col(s"`$k`") >= lit(env.get(3 + 2 * i)) &&
            col(s"`$k`") <= lit(env.get(3 + 2 * i + 1))
        }.reduce(_ && _)), false)
      }
    // the touched-file probe needs only files that CAN hold a source
    // key — the same envelope that scopes conflict detection scopes
    // the probe scan, so a merge whose keys cluster into a few files
    // reads those files, not the table (at 100 TB the probe is
    // otherwise the dominant cost of every small merge)
    // BY SOURCE clauses widen the probe: any file may hold an
    // unmatched row a clause accepts. Conditional clauses still
    // stats-prune (a file provably free of rows matching EVERY
    // BY SOURCE condition and free of source keys needs no probe);
    // an unconditional clause means every file with any unmatched
    // row is in play — probe them all.
    val bySourceConds = bySource.map {
      case BySourceUpdate(c, _) => c
      case BySourceDelete(c) => c
    }
    val probeFiles =
      if (bySource.nonEmpty) {
        // an unconditional clause touches any unmatched row, and an
        // unboundable key set (readsTable with no envelope) leaves
        // the matched side unscopable — both force the full probe
        if (bySourceConds.exists(_.isEmpty) ||
            (readCond.isEmpty && readsTable)) filesAt(base)
        else {
          // the two probe reasons prune INDEPENDENTLY, then union: a
          // file needs probing iff it may hold a source key OR a row
          // some conditional BY SOURCE clause accepts. Pruning each
          // disjunct on its own lets the key envelope's point conds
          // consult the bloom sidecars (candidatesAmong's bloom
          // stage only sees top-level point conjuncts — inside an
          // OR they would be invisible and the probe stats-only).
          // Without a declared bloom index the split buys nothing —
          // keep the single OR'd pass and its one plan analysis.
          val any = bySourceConds.flatten.reduce(_ || _)
          val c = readCommit(base)
          val hasBloom = c.properties.getOrElse(Map.empty)
            .get("graft.bloom.columns").exists(_.trim.nonEmpty)
          if (!hasBloom)
            candidatesAmong(readCond.map(_ || any).getOrElse(any),
              c, filesAt(base))
          else {
            val keyFiles = readCond match {
              case Some(rc) => candidatesAmong(rc, c, filesAt(base))
              case None => Nil // empty matchable key set
            }
            val condFiles = candidatesAmong(any, c, filesAt(base))
            val keep = (keyFiles ++ condFiles).toSet
            filesAt(base).filter(keep.contains)
          }
        }
      } else readCond match {
        case Some(c) => candidatesAmong(c, readCommit(base), filesAt(base))
        case None if !readsTable => Nil // empty read set: nothing matches
        case _ => filesAt(base)
      }
    val hit = if (probeFiles.isEmpty) Set.empty[String] else {
      val withFile = scanWithPos(probeFiles, schema, dvAt(base), cm)
        .withColumnRenamed("__fp", "__file")
      // no broadcast hint: the planner (and AQE) picks the join — a
      // corpus-sized source must not be forced through the driver
      val matchedHits = withFile.join(keyRows, keys, "left_semi")
        .select(col("__file"))
      // BY SOURCE blast radius: files holding an UNMATCHED row some
      // clause accepts (null-key target rows never equi-match, so the
      // anti-join correctly keeps them as unmatched)
      val allHits = if (bySource.isEmpty) matchedHits else {
        val any = bySourceConds.map(_.getOrElse(lit(true))).reduce(_ || _)
        matchedHits.unionByName(
          withFile.join(keyRows, keys, "left_anti").where(any)
            .select(col("__file")))
      }
      allHits.distinct().collect().map(_.getString(0)).toSet
    }
    val touched = matchHits(probeFiles, hit)
    // merge-on-read keeps each target row's physical address
    // (__fp/__pos) in scope so accepted rows can be tombstoned
    // instead of rewritten (scanWithPos handles the empty file set)
    val tgtRows =
      if (mor) scanWithPos(touched, schema, dvAt(base), cm)
      else if (touched.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else readFilesDvAware(touched, schema, dvAt(base), cm)
    // one left join exposes each target row with its (optional)
    // source match as a struct; clause resolution is pure projection
    val srcStruct = src.select(keys.zipWithIndex.map { case (k, i) =>
      col(k).as(s"__sk$i") } :+
      struct(src.columns.map(col): _*).as("__src"): _*)
    val joined = tgtRows.join(srcStruct,
      keys.zipWithIndex.map { case (k, i) => col(k) === col(s"__sk$i") }
        .reduce(_ && _), "left")
    val isMatched = col("__src").isNotNull
    // one action index space: matched clauses first, BY SOURCE
    // clauses after (offset by matched.length) — declaration order,
    // first condition that holds wins, within each branch
    val action = {
      val m = matched.zipWithIndex.foldLeft(when(lit(false), lit(-1))) {
        case (acc, (cl, i)) =>
          val cond = cl match {
            case MatchedUpdate(c, _) => c
            case MatchedDelete(c) => c
          }
          acc.when(isMatched && cond.getOrElse(lit(true)), lit(i))
      }
      bySource.zipWithIndex.foldLeft(m) { case (acc, (cl, j)) =>
        val cond = cl match {
          case BySourceUpdate(c, _) => c
          case BySourceDelete(c) => c
        }
        acc.when(!isMatched && cond.getOrElse(lit(true)),
          lit(matched.length + j))
      }.otherwise(lit(-1))
    }
    val deleteIdx =
      matched.zipWithIndex.collect { case (MatchedDelete(_), i) => i } ++
      bySource.zipWithIndex.collect { case (BySourceDelete(_), j) =>
        matched.length + j }
    val updateIdx =
      matched.zipWithIndex.collect { case (MatchedUpdate(_, _), i) => i } ++
      bySource.zipWithIndex.collect { case (BySourceUpdate(_, _), j) =>
        matched.length + j }
    // the join is recomputed by the data write AND the CDC branches —
    // persist the blast radius once instead of re-shuffling per branch
    val tagged = joined.withColumn("__action", action)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    taggedRef = Some(tagged)
    val survivors = if (deleteIdx.isEmpty) tagged
      else tagged.where(!col("__action").isin(deleteIdx.map(Integer.valueOf): _*))
    // generated-column MERGE semantics (Delta's): a source that does
    // not carry a generated column is legal — SET * takes the OLD
    // value here and the recompute pass below rederives it from the
    // post-update row; explicit assignments and source-supplied
    // values land as-is and fall to write-time validation
    val gens = generatedColumns
    def srcHas(f: String) = src.columns.exists(_.equalsIgnoreCase(f))
    def isGen(f: String) = gens.keys.exists(_.equalsIgnoreCase(f))
    val resolvedFields = schema.fieldNames.map { f =>
      if (identityColumn.exists(_.equalsIgnoreCase(f)))
        // GENERATED ALWAYS: the target row's id survives every clause
        col(f).as(f)
      else {
      val updates = matched.zipWithIndex.collect { case (MatchedUpdate(_, set), i) =>
        val v = set match {
          case None if isGen(f) && !srcHas(f) => col(f)
          // evolution's SET * expands over the SOURCE columns (Delta
          // semantics): a target-only column keeps its value
          case None if evolveSchema && !srcHas(f) => col(f)
          case None => col("__src").getField(f).cast(schema(f).dataType)
          case Some(m) => m.getOrElse(f, col(f))
        }
        (i, v)
      } ++ bySource.zipWithIndex.collect {
        // BY SOURCE SET values are target-context (no source row)
        case (BySourceUpdate(_, m), j) =>
          (matched.length + j,
            m.getOrElse(f, col(f)).cast(schema(f).dataType))
      }
      updates.foldLeft(when(lit(false), col(f))) { case (acc, (i, v)) =>
        acc.when(col("__action") === i, v)
      }.otherwise(col(f)).as(f)
      }
    }
    val newTouched0 = survivors.select((resolvedFields :+ col("__action")).toIndexedSeq: _*)
    // recompute pass: for each generated column an update clause did
    // not explicitly provide (SET * without the source carrying it,
    // or an assignment map that omits it), rederive from the
    // POST-update values — the same rule the UPDATE path applies, so
    // a legal Delta merge cannot strand a stale generated value
    val newTouched = gens.foldLeft(newTouched0) { case (d, (c, g)) =>
      val idx = matched.zipWithIndex.collect {
        case (MatchedUpdate(_, None), i) if !srcHas(c) => i
        case (MatchedUpdate(_, Some(m)), i)
          if !m.keys.exists(_.equalsIgnoreCase(c)) => i
      } ++ bySource.zipWithIndex.collect {
        case (BySourceUpdate(_, m), j)
          if !m.keys.exists(_.equalsIgnoreCase(c)) => matched.length + j
      }
      if (idx.isEmpty) d
      else d.withColumn(c,
        when(col("__action").isin(idx.map(Integer.valueOf): _*),
          expr(g).cast(schema(c).dataType)).otherwise(col(c)))
    }
    // keys matched in touched files ARE the table's matching keys
    // (touchedFiles covers every file containing one), so the insert
    // set is source anti-join those keys
    val insertFields = schema.fields
      .filterNot(fl => identityColumn.exists(_.equalsIgnoreCase(fl.name)))
    val insertsRaw = notMatched.map { ni =>
      val unmatched = src.join(
        tgtRows.select(keys.map(col): _*).distinct(), keys, "left_anti")
      val accepted = ni.condition.map(unmatched.where).getOrElse(unmatched)
      // generated columns the insert does not provide COMPUTE from
      // the inserted row (Delta's insert semantics), same as append
      val base0 = ni.values match {
        case None => accepted.select(insertFields.map(fl =>
          if (!srcHas(fl.name) &&
              (isGen(fl.name) || evolveSchema))
            // INSERT * over a source missing the column: generated
            // columns recompute below; evolution's target-only
            // columns land null (Delta semantics)
            lit(null).cast(fl.dataType).as(fl.name)
          else col(fl.name)).toIndexedSeq: _*)
        case Some(m) => accepted.select(insertFields.map(fl =>
          m.getOrElse(fl.name, lit(null))
            .cast(fl.dataType).as(fl.name)).toIndexedSeq: _*)
      }
      gens.foldLeft(base0) { case (d, (c, g)) =>
        val provided = ni.values match {
          case None => srcHas(c)
          case Some(m) => m.keys.exists(_.equalsIgnoreCase(c))
        }
        if (provided) d
        else d.withColumn(c, expr(g).cast(schema(c).dataType))
      }
    }
    // NOT MATCHED inserts on an identity table take engine-assigned
    // dense ids from the high water. MERGE is fail-fast on commit
    // conflicts (no blind re-resolution), so a racing writer that
    // advanced the high water conflicts on the version claim — two
    // merges can never land overlapping id blocks
    val idHwBefore = if (identityColumn.isDefined) identityHighWater else -2L
    val (inserts, idMarks, idCleanup) = (insertsRaw, identityColumn) match {
      case (Some(ins), Some(idc)) =>
        val (assigned, n, cleanup) = assignDenseIds(ins, idc, idHwBefore)
        (Some(assigned.select(schema.fieldNames.map(col).toIndexedSeq: _*)),
          Map(identityKey -> (idHwBefore + n)), cleanup)
      case _ => (insertsRaw, Map.empty[String, Long], () => ())
    }
    // merge-on-read appends ONLY the post-update rows (untouched rows
    // stay live in their files, accepted rows are tombstoned below);
    // copy-on-write rewrites every surviving row of the touched files
    val keptRows = if (mor)
      newTouched.where(col("__action").isin(updateIdx.map(Integer.valueOf): _*))
    else newTouched
    val newData = inserts match {
      case Some(i) => keptRows.drop("__action").unionByName(i)
      case None => keptRows.drop("__action")
    }
    enforceConstraints(newData)
    // the CDC change set below derives from the SAME persisted
    // `tagged`/`src` frames as the data rewrite — both land in one
    // tagged write (one write job, not two). The
    // spelling must stay lazy: build the CDC frame first, write once.
    // merge-on-read tombstones: every accepted matched/BY SOURCE
    // row's physical address — O(accepted rows) written
    val morIdx = (deleteIdx ++ updateIdx).map(Integer.valueOf)
    val morVictims = if (!mor || morIdx.isEmpty) None
      else Some(tagged.where(col("__action").isin(morIdx: _*)))
    val newDv = morVictims.map(v => writeData(
      v.select(col("__fp").as("file_path"), col("__pos").as("pos")),
      Nil, dir = "dv").files).getOrElse(Nil)
    // write-write conflict set = the tombstoned files: a racer
    // rewriting one would resurrect our pre-merge rows
    val maskedRel = morVictims.map(v => matchHits(filesAt(base),
      v.select(col("__fp")).distinct()
        .collect().map(_.getString(0)).toSet)).getOrElse(Nil)
    // write-time CDC with EXACT tags (the file-diff fallback can only
    // say "upsert"): updated rows get pre+post images, deleted rows
    // 'delete', fresh source rows 'insert'
    val schemaCols = schema.fieldNames.map(col).toIndexedSeq
    def tag(df: DataFrame, t: String): DataFrame =
      df.select(schemaCols: _*).withColumn("_change_type", lit(t))
    val updatedPre = tag(tagged.where(col("__action")
      .isin(updateIdx.map(Integer.valueOf): _*)), "update_preimage")
    val updatedPost = tag(newTouched.where(col("__action")
      .isin(updateIdx.map(Integer.valueOf): _*)), "update_postimage")
    val deletedRows = tag(tagged.where(col("__action")
      .isin(deleteIdx.map(Integer.valueOf): _*)), "delete")
    val insertedRows = inserts.map(tag(_, "insert"))
    val cdcAll = (Seq(updatedPre, updatedPost, deletedRows) ++ insertedRows)
      .reduce(_ unionByName _)
    // cm may hold FRESH entries from an evolving merge (a re-added
    // dropped column maps to a new physical name), so the write takes
    // the effective map, not base's
    val w = writeData(newData
        .withColumn("_change_type", lit(null).cast("string"))
        .withColumn("__tag", lit("d"))
        .unionByName(cdcAll.withColumn("__tag", lit("c"))),
      partitionColumnsAt(base), cm, bucketSpecAt(base))
    tagged.unpersist()
    src.unpersist()
    // conflict read set: the source-key envelope computed above —
    // concurrent adds provably outside it commute; rows this merge
    // read AND a racer rewrote are caught by the write-write overlap
    // on `touched` (every file holding a matched key is rewritten),
    // and merge-on-read racers by the DV-set check. BY SOURCE clauses
    // read EVERY target row (to decide unmatchedness), so they carry
    // whole-table read semantics — a concurrent append conflicts
    // instead of commuting (its rows might have been deleted/updated
    // had they been present at read time).
    try {
      if (mor)
        commitResolved("MERGE_DV", base, Set.empty, w.files,
          if (bySource.isEmpty) readCond else None,
          readsTable = readsTable || bySource.nonEmpty, schema,
          Map("numProbedFiles" -> probeFiles.size.toLong,
            "numAddedDvFiles" -> newDv.size.toLong,
            "numAddedFiles" -> w.files.size.toLong),
          collectStats(w.files,
            rewriteStampZone(maskedRel, base, sessionValues = true)),
          cdcFiles = Some(w.cdc),
          dvOut = (b, _) => Some(dvAt(b) ++ newDv),
          conflictRemoves = Some(maskedRel.toSet),
          newPartValues = w.partValues,
          idHwBefore = if (identityColumn.isDefined) idHwBefore else -2L,
          newColumnMap = if (freshCm.isEmpty) None else Some(cm),
          marks = idMarks)
      else maybeAutoCompact(commitResolved("MERGE", base,
        touched.toSet, w.files,
        if (bySource.isEmpty) readCond else None,
        readsTable = readsTable || bySource.nonEmpty, schema,
        Map("numRewrittenFiles" -> touched.size.toLong,
          "numProbedFiles" -> probeFiles.size.toLong),
        collectStats(w.files,
          rewriteStampZone(touched, base, sessionValues = true)),
        cdcFiles = Some(w.cdc), newPartValues = w.partValues,
        idHwBefore = if (identityColumn.isDefined) idHwBefore else -2L,
        newColumnMap = if (freshCm.isEmpty) None else Some(cm),
        marks = idMarks))
    } finally idCleanup()
    } catch { case t: Throwable =>
      src.unpersist()
      taggedRef.foreach(_.unpersist())
      throw t
    }
  }

  /** Recorded-zone groups of a BINPACK rewrite's input files — the
    * multi-zone maintenance regroup: when a tz-dependent table's
    * inputs span ≥2 recorded writer zones, compaction bin-packs
    * WITHIN each zone's files instead of merging across them, so
    * every output file stays single-zone and keeps its derivation
    * stamp (a cross-zone merge would have to stand down, silently
    * degrading generated-column pruning after routine maintenance).
    * Stood-down (unstamped) inputs form their own group, whose
    * outputs stay unstamped. None = take the ordinary single-write
    * path: no tz-dependent gens, or single-zone inputs (the common
    * case — the per-partition verdict already preserves the zone).
    */
  private def binpackZoneGroups(inputs: Seq[String],
      base: Long): Option[Map[Option[String], Seq[String]]] = {
    if (tzDependentGens.isEmpty || inputs.size < 2 || base < 0) return None
    val stats = readCommit(base).stats
    val grouped = inputs.groupBy(f => stats.get(f).flatMap(_.tz))
    // distinct SPELLINGS of the same clock stay separate groups —
    // harmless (each group's stamp is its own recorded spelling,
    // which sameZone resolves at read time)
    if (grouped.size < 2) None else Some(grouped)
  }

  /** Rewrite each zone group separately (outputs proportional to the
    * group's byte share of `totalOutFiles`) and stamp every output
    * with ITS group's zone — per-file stats via the genZoneFor
    * collect. Returns (files, partValues, stats) for the commit.
    */
  private def binpackGrouped(groups: Map[Option[String], Seq[String]],
      base: Long, totalOutFiles: Int)
      : (Seq[String], Map[String, Map[String, String]],
         Map[String, GraftTable.FileStats]) = {
    val sizes = groups.map { case (z, fs) =>
      z -> math.max(1L, fs.map { f =>
        val p = root.resolve(f)
        if (Files.exists(p)) Files.size(p) else 0L
      }.sum)
    }
    val total = math.max(1L, sizes.values.sum)
    val written = groups.toSeq.map { case (z, fs) =>
      val n = math.max(1, math.round(
        totalOutFiles.toDouble * sizes(z) / total).toInt)
      val data = readFilesDvAware(fs, schemaAt(base), dvAt(base),
        columnMapAt(base)).coalesce(n)
      (z, writeData(data, base))
    }
    val files = written.flatMap(_._2.files)
    val pv = written.flatMap(_._2.partValues).toMap
    val zoneOf = written.flatMap { case (z, w) =>
      w.files.map(_ -> z)
    }.toMap
    (files, pv, collectStats(files, zoneOf))
  }

  /** OPTIMIZE analog: coalesce the snapshot into `numFiles` files
    * (per partition on a partitioned table — compaction never merges
    * across partition boundaries; on a multi-zone tz-dependent table,
    * never across recorded writer zones either, so derivation stamps
    * survive maintenance — [[binpackZoneGroups]]).
    */
  def compact(numFiles: Int = 1): Long = {
    val base = latestVersion
    val zoneGroups = binpackZoneGroups(filesAt(base), base)
    // ALREADY PACKED (and no DVs to purge): a byte-identical rewrite
    // would only churn the log — and a CDC-triggered maintenance loop
    // reacting to its own COMPACT commits would rewrite the table
    // forever. The achievable floor is one file per DISTINCT
    // (writer-zone, partition-tuple) PAIR among current files: the
    // zone and partition boundaries CROSS (binpackGrouped splits per
    // zone AND partitioned writes split per partition), so max() of
    // the two counts under-counts and the early-return would never
    // fire on a multi-zone partitioned table. O(files) metadata.
    if (!hasDvs(base)) {
      val c = readCommit(base)
      val pv = c.partValues.getOrElse(Map.empty)
      val zoneOf: String => Option[String] =
        if (tzDependentGens.isEmpty) _ => None
        else f => c.stats.get(f).flatMap(_.tz)
      val floor = filesAt(base)
        .map(f => (zoneOf(f), pv.get(f))).distinct.size
      if (filesAt(base).size <= math.max(numFiles, floor)) return base
    }
    zoneGroups match {
      case Some(groups) =>
        val (files, pv, stats) = binpackGrouped(groups, base, numFiles)
        commitResolved("COMPACT", base, filesAt(base).toSet, files,
          None, readsTable = false, schemaAt(base),
          Map("numRemovedFiles" -> filesAt(base).size.toLong),
          stats, dvOut = (_, _) => Some(Nil), newPartValues = pv)
      case None =>
        val data = snapshotAt(base).coalesce(numFiles)
        val w = writeData(data, base)
        // the rewrite read the snapshot DV-aware, so the DVs are
        // applied (purged) by compaction — clear them. Reads only
        // what it rewrites: concurrent appends land via conflict
        // resolution.
        commitResolved("COMPACT", base, filesAt(base).toSet, w.files,
          None, readsTable = false, schemaAt(base),
          Map("numRemovedFiles" -> filesAt(base).size.toLong),
          collectStats(w.files,
            partitionStampZones(filesAt(base), base, w.partValues)),
          dvOut = (_, _) => Some(Nil), newPartValues = w.partValues)
    }
  }

  /** OPTIMIZE with a TARGET FILE SIZE (how Delta's OPTIMIZE actually
    * sizes output — "compact to one file" is wrong at 100 TB): file
    * count = ceil(current bytes / targetBytes), from O(files) driver
    * metadata.
    */
  def compactToSize(targetBytes: Long = 128L * 1024 * 1024): Long = {
    val bytes = currentFiles.map(f => Files.size(root.resolve(f))).sum
    compact(math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt))
  }

  /** OPTIMIZE ... WHERE (Delta's selective compaction): bin-pack only
    * the files the predicate may touch — stats/partition-pruned from
    * commit-log metadata, conservative — leaving every other file
    * byte-identical. This is the 100 TB shape: compact yesterday's
    * hot partition, not the fleet. The predicate SELECTS whole files;
    * no row is added or dropped beyond DV application: rewritten
    * files read DV-applied (their tombstones are thereby purged), and
    * surviving DV entries that name retired paths go inert — the
    * scan mask joins on current file paths only.
    */
  def compactWhere(cond: Column,
      targetBytes: Long = 128L * 1024 * 1024): Long = {
    val base = latestVersion
    val touched = candidateFiles(cond)
    if (touched.size < 2) return base
    // missing-file tolerance (a clone whose source was vacuumed):
    // sizing is only output-count math; the read below fails with a
    // real error if bytes are genuinely gone
    val bytes = touched.map { f =>
      val p = root.resolve(f)
      if (Files.exists(p)) Files.size(p) else 0L
    }.sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    binpackZoneGroups(touched, base) match {
      case Some(groups) =>
        val (files, pv, stats) = binpackGrouped(groups, base, n)
        commitResolved("COMPACT", base, touched.toSet, files,
          None, readsTable = false, schemaAt(base),
          Map("numRewrittenFiles" -> touched.size.toLong),
          stats, newPartValues = pv)
      case None =>
        val data = readFilesDvAware(touched, schemaAt(base), dvAt(base),
          columnMapAt(base)).coalesce(n)
        val w = writeData(data, base)
        // rewritten files absorbed their tombstones; DV files that
        // now mask only retired paths drop, re-opening DV-gated
        // readers. Reads only what it rewrites — disjoint
        // DML/appends commute.
        commitResolved("COMPACT", base, touched.toSet, w.files,
          None, readsTable = false, schemaAt(base),
          Map("numRewrittenFiles" -> touched.size.toLong),
          collectStats(w.files,
            partitionStampZones(touched, base, w.partValues)),
          newPartValues = w.partValues)
    }
  }

  /** Z-ORDER analog: range-repartition + sort by the cluster keys so
    * each file covers a narrow key range → min/max file pruning makes
    * selective scans touch few files.
    */
  def clusterBy(numFiles: Int, keys: String*): Long = {
    val base = latestVersion
    // ALREADY CLUSTERED (single key, no DVs to purge): file count AT
    // the target — fewer files than requested is a SPLIT request
    // (finer pruning granularity), not a satisfied layout — and
    // per-file [min,max] key ranges pairwise disjoint: the rewrite
    // would reproduce the same layout, and a CDC-triggered
    // maintenance loop would re-trigger off its own CLUSTER commits
    // forever. UNDER-target counts are also accepted when the base
    // commit is itself a CLUSTER whose RECORDED REQUEST was at least
    // this large: repartitionByRange(n) emits fewer non-empty
    // partitions than n when the key has fewer distinct values (or
    // heavy skew), so a re-cluster of a just-clustered layout can
    // never reach the requested count either — without this,
    // continuousMaintain re-clusters such a table every cycle
    // forever. The request rides the commit metrics
    // (requestedFiles), so a GENUINE finer-split request
    // (clusterBy(16) after clusterBy(4)) still rewrites — as does a
    // fresh under-target layout from any other op (compact(1) then
    // clusterBy(8)). Multi-key layouts, or a key without numeric
    // stats, rewrite as before.
    if (keys.size == 1 && !hasDvs(base) &&
        (filesAt(base).size == numFiles ||
          (filesAt(base).size < numFiles &&
            readCommit(base).operation == "CLUSTER" &&
            readCommit(base).metrics
              .getOrElse("requestedFiles", -1L) >= numFiles))) {
      val stats = readCommit(base).stats
      val ranges = filesAt(base).flatMap(f => stats.get(f).flatMap(s =>
        for (mn <- s.mins.get(keys.head); mx <- s.maxs.get(keys.head))
          yield (mn, mx)))
      if (ranges.size == filesAt(base).size &&
          ranges.sortBy(_._1).sliding(2).forall {
            case Seq((_, aMax), (bMin, _)) => aMax < bMin
            case _ => true
          }) return base
    }
    val data = snapshotAt(base)
      .repartitionByRange(numFiles, keys.map(col): _*)
      .sortWithinPartitions(keys.map(col): _*)
    val w = writeData(data, base)
    commitResolved("CLUSTER", base, filesAt(base).toSet, w.files,
      None, readsTable = false, schemaAt(base),
      // requestedFiles feeds the next call's under-target settle
      // check: fewer-than-requested output is acceptable ONLY when
      // an equal-or-coarser request already produced this layout
      Map("numRemovedFiles" -> filesAt(base).size.toLong,
        "requestedFiles" -> numFiles.toLong),
      collectStats(w.files, partitionStampZones(filesAt(base), base, w.partValues)),
      dvOut = (_, _) => Some(Nil), newPartValues = w.partValues)
  }

  /** TRUE multi-dimensional Z-ordering over ANY number of keys:
    * interleave the bits of each key's range-rank round-robin into
    * one Morton code and cluster files along it, so per-file min/max
    * stays narrow on EVERY dimension — selective scans on any key
    * (or a box over several) prune files. Rank normalization uses
    * global min/max (one cheap agg), so the code is
    * data-distribution robust for roughly uniform keys. Rank width
    * is 16 bits up to 3 keys, then shrinks so the code stays in a
    * long (`min(16, 62/n)` bits/key).
    */
  def clusterByZOrder(numFiles: Int, keys: String*): Long = {
    require(keys.nonEmpty, "clusterByZOrder needs at least one key")
    val base = latestVersion
    val w = writeData(mortonCluster(snapshotAt(base), numFiles, keys), base)
    commitResolved("ZORDER", base, filesAt(base).toSet, w.files,
      None, readsTable = false, schemaAt(base),
      Map("numRemovedFiles" -> filesAt(base).size.toLong),
      collectStats(w.files, partitionStampZones(filesAt(base), base, w.partValues)),
      dvOut = (_, _) => Some(Nil), newPartValues = w.partValues)
  }

  /** OPTIMIZE ... WHERE ... ZORDER BY (Delta's selective re-cluster):
    * Morton-cluster ONLY the predicate-touched files (stats/partition
    * pruned from commit-log metadata, conservative), leaving every
    * other file byte-identical — the 100 TB shape: re-cluster
    * yesterday's hot partition, not the fleet. Rewritten files read
    * DV-aware (their tombstones materialize); DVs over untouched
    * files carry. Rank normalization uses the TOUCHED slice's
    * min/max, so the Morton grid has full resolution inside the slice
    * being organized.
    */
  def clusterByZOrderWhere(cond: Column, numFiles: Int,
      keys: String*): Long = {
    require(keys.nonEmpty, "ZORDER BY needs at least one key")
    val base = latestVersion
    val touched = candidateFiles(cond)
    if (touched.size < 2) return base
    val data = readFilesDvAware(touched, schemaAt(base), dvAt(base),
      columnMapAt(base))
    val w = writeData(mortonCluster(data, numFiles, keys), base)
    commitResolved("ZORDER", base, touched.toSet, w.files,
      None, readsTable = false, schemaAt(base),
      Map("numRewrittenFiles" -> touched.size.toLong),
      collectStats(w.files, partitionStampZones(touched, base, w.partValues)),
      newPartValues = w.partValues)
  }

  /** Morton (Z-order) clustering of a frame: interleave the bits of
    * each key's range-rank round-robin into one code and
    * range-repartition + sort by it. Rank width `min(16, 62/n)`
    * bits/key keeps the code in a long for any key count.
    */
  private def mortonCluster(data: DataFrame, numFiles: Int,
      keys: Seq[String]): DataFrame = {
    val n = keys.size
    val bitsPerKey = math.min(16, 62 / n)
    val maxRank = (1L << bitsPerKey) - 1L
    val aggs = keys.flatMap(k =>
      Seq(min(col(k)).cast("double"), max(col(k)).cast("double")))
    val row = data.agg(aggs.head, aggs.tail: _*).collect()(0)
    def rank(c: Column, lo: Double, hi: Double): Column =
      if (hi <= lo) lit(0L)
      else least(floor((c.cast("double") - lit(lo)) / lit(hi - lo) * maxRank.toDouble)
        .cast("long"), lit(maxRank))
    val ranks = keys.zipWithIndex.map { case (k, i) =>
      rank(col(k), row.getDouble(2 * i), row.getDouble(2 * i + 1))
    }
    // bit b of key i lands at position b·n + i (round-robin
    // interleave; for n=2 this is the classic even/odd Morton layout)
    val z = (for {
      b <- 0 until bitsPerKey
      (r, i) <- ranks.zipWithIndex
    } yield shiftleft(shiftrightunsigned(r, b).bitwiseAND(1L), b * n + i))
      .reduce((x, y) => x.bitwiseOR(y))
    data.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }

  /** RESTORE analog (roll the table back to an old version): commits
    * a new version whose file list IS the old version's — history
    * stays append-only, nothing is rewritten. The protocol state is
    * the LATEST one (like every commit, RESTORE carries its base's
    * state forward), so sink watermarks, COPY INTO markers and the
    * identity high water never go down; physical names the restored
    * schema no longer holds join the retired set.
    */
  def restore(version: Long): Long = {
    val base = latestVersion
    val c = readCommit(version)
    commit("RESTORE", base, c.files,
      org.apache.spark.sql.types.DataType.fromJson(c.schemaJson)
        .asInstanceOf[StructType],
      Map("restoredVersion" -> version),
      // re-supply the restored version's file metadata: the base
      // commit's carry filter only covers files IT still lists, and
      // files resurrected from the old version would otherwise lose
      // their stats (no pruning) and partition values (excluded from
      // dynamic partition overwrite — stale-row correctness, not
      // just perf)
      newStats = c.stats,
      // the restored STATE includes that version's deletion vectors
      dv = Some(c.dv.getOrElse(Nil)),
      newPartValues = c.partValues.getOrElse(Map.empty),
      // ... and that version's column mapping (its files' physical
      // names are what the restored logical schema maps onto)
      newColumnMap = Some(c.columnMap.getOrElse(Map.empty)))
  }

  /** VACUUM analog: physically delete data files no commit in the
    * retained window (last `retainVersions` versions) references.
    * Older commits whose files were reclaimed can no longer be
    * time-traveled to — exactly Delta's retention trade-off. CDC
    * files of commits OUTSIDE the window are reclaimed too (their
    * change feed is gone with their versions).
    */
  /** No-arg vacuum: retention from `graft.vacuum.retainVersions` in
    * TBLPROPERTIES (default 2) — the operator sets policy once on the
    * table instead of every call site.
    */
  def vacuum(): Long = vacuum(retentionFromProps)

  def vacuum(retainVersions: Int): Long = {
    val dead = vacuumCandidates(retainVersions)
    dead.foreach(f => Files.deleteIfExists(root.resolve(f)))
    cleanupLog(math.max(retainVersions, logRetentionFromProps))
    dead.size.toLong
  }

  /** VACUUM ... RETAIN n HOURS (Delta's time-denominated retention —
    * the spelling operators can reason about in wall-clock SLAs):
    * resolve the window to a version count via commit timestamps —
    * every version committed inside the window is retained, and the
    * latest always is — then run the same enumeration as the
    * version-denominated vacuum, so the two spellings can never
    * disagree about what is reclaimable.
    */
  def vacuumRetainHours(hours: Double): Long =
    vacuum(versionsWithinHours(hours))

  def vacuumDryRunHours(hours: Double): DataFrame =
    vacuumDryRun(versionsWithinHours(hours))

  private[graft] def versionsWithinHours(hours: Double): Int = {
    require(hours >= 0, s"RETAIN hours must be non-negative, got $hours")
    val cutoffMs = System.currentTimeMillis() - (hours * 3600 * 1000).toLong
    math.max(1,
      listVersions().count(v => readCommit(v).timestampMs >= cutoffMs))
  }

  /** Commit-log retention bound from TBLPROPERTIES
    * (`graft.logRetention.versions`, Delta's logRetentionDuration
    * analog denominated in versions — default 1000): how many
    * trailing versions' commit files VACUUM preserves. The effective
    * window is never narrower than the data-retention window, so any
    * version whose data files survive stays time-travelable.
    */
  private def logRetentionFromProps: Int =
    properties.get("graft.logRetention.hours")
      .flatMap(h => scala.util.Try(versionsWithinHours(h.toDouble)).toOption)
      .orElse(properties.get("graft.logRetention.versions").map(_.toInt))
      .getOrElse(1000)

  /** Remove commit/checkpoint files no read inside the trailing
    * `keepVersions` window can reach. The kept prefix anchors at the
    * newest FULL (checkpoint) commit at or below the cutoff, so every
    * surviving version still resolves its delta chain — and since a
    * full commit stores the whole protocol state, nothing the removed
    * commits recorded is lost: cleanup only deletes. Time travel below
    * the anchor then fails with the version-unavailable error.
    * O(interval) log files remain beyond the window however many
    * versions the table has lived — a 10⁵-commit streaming table's
    * `_graft_log` stops growing forever.
    */
  private def cleanupLog(keepVersions: Int): Long = {
    val versions = listVersions()
    if (versions.size <= 1) return 0L
    val cutoff = versions.last - math.max(keepVersions, 1).toLong + 1
    if (cutoff <= versions.head) return 0L
    val anchor = versions.filter(_ <= cutoff).reverse
      .find(v => !parseCommit(v).delta.contains(true))
    val dead = anchor.fold(Seq.empty[Long])(a => versions.filter(_ < a))
    dead.foreach(v => Files.deleteIfExists(commitFile(v)))
    dead.size.toLong
  }

  /** VACUUM ... DRY RUN (Delta's preview): the files a vacuum at this
    * retention WOULD reclaim, one row each with size — no deletion.
    * Same enumeration the real vacuum runs, so the preview can never
    * disagree with the action.
    */
  def vacuumDryRun(retainVersions: Int = retentionFromProps): DataFrame = {
    import spark.implicits._
    vacuumCandidates(retainVersions).map { f =>
      val p = root.resolve(f)
      (f, if (Files.exists(p)) Files.size(p) else 0L)
    }.toDF("path", "size_bytes")
  }

  /** Unreferenced files under the engine-owned dirs (`files/`,
    * `cdc/`, `dv/`) at a retention window — the vacuum reclaim set.
    * Adopted originals (CONVERT) and clone-referenced source files
    * live OUTSIDE these dirs and are never enumerated.
    *
    * Enumeration goes DISTRIBUTED (one Spark job, [[vacuumShards]]
    * hash-shard tasks per directory) once the retained live-file
    * count clears a threshold — at 100 TB the reclaim set is millions
    * of entries and a serial driver walk dominates vacuum wall-clock.
    * Both paths classify entries through the ONE shared rule
    * ([[GraftTable.vacuumDead]]), so they cannot disagree;
    * `graft.vacuum.distributed` (true/false) overrides the
    * auto-threshold in either direction.
    */
  private def vacuumCandidates(retainVersions: Int): Seq[String] = {
    val retained = listVersions().takeRight(retainVersions)
    val live: Set[String] = retained.flatMap(v => readCommit(v).files).toSet
    val liveCdc: Set[String] =
      retained.flatMap(v => readCommit(v).cdc.getOrElse(Nil)).toSet
    val liveDv: Set[String] =
      retained.flatMap(v => readCommit(v).dv.getOrElse(Nil)).toSet
    // a freshly CONVERTed table has no files/ dir until its first DML
    val dirs = Seq("files", "cdc", "dv")
      .filter(d => Files.exists(root.resolve(d)))
    if (dirs.isEmpty) return Nil
    val distributed = properties.get("graft.vacuum.distributed")
      .map(_.equalsIgnoreCase("true"))
      .getOrElse(live.size >= 10000)
    if (!distributed)
      dirs.flatMap { d =>
        GraftTable.listPaths(root.resolve(d))
          .map(_.getFileName.toString)
          .flatMap(n => GraftTable.vacuumDead(d, n, live, liveCdc, liveDv))
      }
    else {
      // ONE Spark job: each task streams its directory listing and
      // keeps its hash shard of the names — the listing is re-read
      // per shard (cheap, sequential) while the classification and
      // the downstream stat/delete work parallelize by shard
      val shards = vacuumShards
      val rootStr = root.toString
      val bc = spark.sparkContext.broadcast((live, liveCdc, liveDv))
      val tasks = for { d <- dirs; s <- 0 until shards } yield (d, s)
      try spark.sparkContext.parallelize(tasks, tasks.size)
        .flatMap { case (d, s) =>
          val (lv, lc, ldv) = bc.value
          val stream = java.nio.file.Files.list(
            java.nio.file.Paths.get(rootStr, d))
          try {
            val it = stream.iterator()
            val out = scala.collection.mutable.Buffer.empty[String]
            while (it.hasNext) {
              val n = it.next().getFileName.toString
              if (java.lang.Math.floorMod(n.hashCode, shards) == s)
                GraftTable.vacuumDead(d, n, lv, lc, ldv).foreach(out += _)
            }
            out.toSeq
          } finally stream.close()
        }.collect().toSeq
      // scheduled vacuums in a long session must not accumulate
      // broadcast blocks of million-path live sets
      finally bc.destroy()
    }
  }

  private def vacuumShards: Int =
    properties.get("graft.vacuum.shards").flatMap(s =>
      scala.util.Try(s.toInt).toOption).filter(_ > 0).getOrElse(32)

  /** Incremental consumption primitive (the streaming-source shape):
    * rows in data files ADDED after `sinceVersion` — what a polling
    * `readStream` job would pick up per micro-batch. Copy-on-write
    * rewrites surface their rewritten files too (an honest
    * changes-feed needs CDC metadata; appends — the streaming case —
    * are exact).
    */
  def changesSince(sinceVersion: Long): DataFrame = {
    val base = readCommit(sinceVersion).files.toSet
    val added = currentFiles.filterNot(base)
    val schema = currentSchema
    if (added.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else readFilesDvAware(added, schema, dvAt(latestVersion), columnMapAt(latestVersion))
  }

  /** Read a streaming micro-batch's files under `schema` — the
    * raw-replay path for the version-offset source. Routes through
    * [[readRaw]] so Hive-adopted files ([[GraftTable.convert]] on a
    * `k=v` layout) get their path-encoded partition values injected
    * instead of reading as null (column-mapped tables are gated out
    * of raw replay upstream, so no map applies here).
    */
  private[graft] def readBatchFiles(files: Seq[String],
      schema: StructType): DataFrame =
    readRaw(files, schema, Map.empty, withMeta = false)

  /** Bytes of the data files ADDED by commit `version` — the
    * admission currency for byte-based streaming rate limiting
    * (Delta's maxBytesPerTrigger). O(added-files) driver-side stat
    * calls on metadata paths; files a concurrent VACUUM already
    * reclaimed count zero (the stream will refuse/skip those commits
    * downstream anyway).
    */
  private[graft] def addedBytesIn(version: Long): Long = {
    val prev: Set[String] =
      if (version <= 0) Set.empty else readCommit(version - 1).files.toSet
    readCommit(version).files.filterNot(prev).map { f =>
      val p = root.resolve(f)
      if (Files.exists(p)) Files.size(p) else 0L
    }.sum
  }

  /** Bytes a streaming trigger should BILL for commit `version`:
    * zero for commits the source will emit nothing for — maintenance
    * commits always, COW change commits under `skipChangeCommits` —
    * so the admission budget is spent on rows that actually flow
    * instead of starving behind skipped commits. In CDC mode the
    * batch carries the CHANGE SET, not the rewritten files, so the
    * bill is the write-time cdc payload when one was recorded (a
    * wholesale COW DELETE's tiny change feed must not consume a
    * budget sized for its rewrite); commits without a change set
    * (appends, overwrites) fall back to added-file bytes — for
    * appends that IS the change set.
    */
  private[graft] def billableBytesIn(version: Long,
      skipChangeCommits: Boolean, cdcMode: Boolean = false): Long = {
    val c = readCommit(version)
    if (GraftTable.maintenanceOps(c.operation)) return 0L
    if (cdcMode) c.cdc match {
      case Some(fs) if fs.nonEmpty =>
        return fs.map { f =>
          val p = root.resolve(f)
          if (Files.exists(p)) Files.size(p) else 0L
        }.sum
      case _ => ()
    }
    if (skipChangeCommits && isSkippableChange(version, c)) return 0L
    addedBytesIn(version)
  }

  /** FILE-COUNT twin of [[billableBytesIn]] (`maxFilesPerTrigger`):
    * same zero rules — maintenance always, skipped COW changes under
    * `skipChangeCommits`, the cdc payload's file count in CDC mode.
    */
  private[graft] def billableFilesIn(version: Long,
      skipChangeCommits: Boolean, cdcMode: Boolean = false): Long = {
    val c = readCommit(version)
    if (GraftTable.maintenanceOps(c.operation)) return 0L
    if (cdcMode) c.cdc match {
      case Some(fs) if fs.nonEmpty => return fs.size.toLong
      case _ => ()
    }
    if (skipChangeCommits && isSkippableChange(version, c)) return 0L
    val prev: Set[String] =
      if (version <= 0) Set.empty else readCommit(version - 1).files.toSet
    c.files.count(!prev.contains(_)).toLong
  }

  /** A COW change commit `skipChangeCommits` silences: it removed
    * files or added deletion vectors.
    */
  private def isSkippableChange(version: Long, c: Commit): Boolean = {
    val prevFiles = if (version <= 0) Set.empty[String]
      else readCommit(version - 1).files.toSet
    val prevDv = if (version <= 0) Set.empty[String]
      else readCommit(version - 1).dv.getOrElse(Nil).toSet
    val removed = prevFiles -- c.files.toSet
    val dvAdded = c.dv.getOrElse(Nil).exists(!prevDv.contains(_))
    removed.nonEmpty || dvAdded
  }

  /** Files (absolute paths) added in versions (fromVersion, toVersion]
    * plus the end schema — the micro-batch unit for the streaming
    * source. Walks each crossed commit and REFUSES any that removed
    * files (copy-on-write DML/compaction): replaying those as
    * appends would double-read rewritten rows; `changeFeed` is the
    * honest primitive there. With `skipChangeCommits` (Delta's
    * streaming option) those commits are silently SKIPPED instead:
    * the stream stays an append feed, already-emitted rows are never
    * re-sent, and rows a skipped DELETE/UPDATE touched simply do not
    * update downstream — the documented opt-in trade.
    */
  def filesAddedIn(fromVersion: Long,
      toVersion: Long): GraftTable.VersionBatch =
    filesAddedIn(fromVersion, toVersion, skipChangeCommits = false)

  def filesAddedIn(fromVersion: Long, toVersion: Long,
      skipChangeCommits: Boolean): GraftTable.VersionBatch = {
    val endSchema = schemaAt(toVersion)
    val added = (((fromVersion max -1L) + 1L) to toVersion).flatMap { v =>
      val c = readCommit(v)
      val prev = if (v == 0) Set.empty[String]
        else readCommit(v - 1).files.toSet
      // maintenance commits (OPTIMIZE/compaction/clustering/purge)
      // change no LOGICAL content — their output files hold rows the
      // stream already emitted, so SKIP them entirely (Delta's
      // dataChange=false semantics); without this, enabling
      // auto-compaction would terminally poison every running stream
      val noLogicalChange = GraftTable.maintenanceOps(c.operation)
      // a commit that ADDED deletion vectors is a row-level delete:
      // replaying it as an append would silently drop the deletions
      val prevDv = if (v == 0) Set.empty[String]
        else readCommit(v - 1).dv.getOrElse(Nil).toSet
      val addedDv = c.dv.getOrElse(Nil).exists(!prevDv.contains(_))
      val removed = prev -- c.files.toSet
      if (noLogicalChange) Nil
      else if (skipChangeCommits && (removed.nonEmpty || addedDv)) Nil
      else {
      if (removed.nonEmpty)
        throw new UnsupportedOperationException(
          s"streaming read crossed non-append commit v$v (${c.operation}) " +
            s"which rewrote ${removed.size} file(s); consume changeFeed() " +
            "or set skipChangeCommits")
      if (addedDv)
        throw new UnsupportedOperationException(
          s"streaming read crossed commit v$v (${c.operation}) which added " +
            "deletion vectors; consume changeFeed() or set skipChangeCommits")
      // reader-feature gate: batch files are handed out raw — a
      // renamed column's physical name would not match endSchema
      if (hasColumnMapping(v))
        throw new UnsupportedOperationException(
          s"streaming read crossed commit v$v with active column mapping " +
            "(RENAME/DROP COLUMN); raw file replay cannot translate names")
      c.files.filterNot(prev)
      }
    }
    GraftTable.VersionBatch(added.map(abs), endSchema)
  }

  /** Row-level CDC change feed (Delta CHANGE DATA FEED analog).
    * Every emitted row carries `_change_type` and `_commit_version`.
    *
    * DML commits (DELETE, UPDATE, MERGE, their `_DV` forms,
    * REPLACE_WHERE, OVERWRITE_PARTITIONS) and the metadata commits
    * persist their change set at WRITE time under `cdc/` (Delta's CDF
    * files) — the feed just reads those, no reconstruction, with
    * exact `insert`/`update_*`/`delete` tags. Commits without CDC
    * files fall back to the file-diff reconstruction: `added` = files
    * new in v, `removed` = files dropped from v−1; unchanged rows
    * inside rewritten files appear in both sides and cancel under
    * multiset EXCEPT ALL — cost scales with the commit's blast
    * radius, not table size. Fallback change types by op:
    *  - CREATE/APPEND → `insert` (added files ARE the change set)
    *  - COMPACT/CLUSTER/ZORDER/ADD CONSTRAINT → no logical change,
    *    nothing emitted
    *  - OVERWRITE/RESTORE (and CONVERT/CLONE, whose parent is empty)
    *    → `delete` + `insert` of the content diff
    */
  def changeFeed(fromVersion: Long): DataFrame =
    changeFeed(fromVersion, latestVersion)

  def changeFeed(fromVersion: Long, toVersion: Long): DataFrame = {
    // fromVersion is EXCLUSIVE (changes after it); -1 reads from CREATE
    require(fromVersion >= -1 && toVersion >= fromVersion,
      s"bad change-feed range [$fromVersion, $toVersion]")
    val outSchema = schemaAt(toVersion)
    val cmTo = columnMapAt(toVersion)
    // the rename-aware bridge: the version-v LOGICAL name of the same
    // PHYSICAL column the out-schema field names — so a column
    // renamed mid-window still carries its values through the feed
    // instead of degrading to drop+add nulls
    def vNameFor(f: org.apache.spark.sql.types.StructField,
        cmV: Map[String, String]): String = {
      val phys = physName(cmTo, f.name)
      cmV.collectFirst { case (l, p) if p == phys => l }.getOrElse(phys)
    }
    // DV-AWARE file reads: a row already tombstoned on its side of
    // the diff is not part of that side's live content — without the
    // mask, an OVERWRITE after a merge-on-read delete re-emits the
    // dead rows as phantom deletes
    def rowsOf(files: Seq[String], schema: StructType,
        cmV: Map[String, String], dv: Seq[String]): DataFrame =
      if (files.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else readFilesDvAware(files, schema, dv, cmV)
    def dvPairs(dv: Seq[String]): DataFrame = dvPairFrame(dv)
    // commits older than a later ADD-COLUMN evolution lack the new
    // columns — pad them with typed nulls so the outSchema select
    // resolves (the "older files surface nulls" contract holds across
    // the feed, not just within snapshot reads)
    def tag(df: DataFrame, tpe: String, v: Long,
        cmV: Map[String, String]): DataFrame = {
      val present = df.schema.fieldNames.toSet
      df.select(outSchema.fields.map { f =>
          val vn = vNameFor(f, cmV)
          if (present.contains(vn)) col(s"`$vn`").as(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        }: _*)
        .withColumn("_change_type", lit(tpe))
        .withColumn("_commit_version", lit(v))
    }
    // a persisted change set keeps its own _change_type column; CDC
    // files store PHYSICAL names like data files, so they read through
    // the same translation. Pad to outSchema and stamp the version
    // like the computed branches
    def fromCdc(files: Seq[String], schemaV: StructType, v: Long,
        cmV: Map[String, String]): DataFrame = {
      val cdcSchema = StructType(schemaV.fields :+
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType, nullable = false))
      val df = spark.read.schema(physicalSchema(cdcSchema, cmV))
        .parquet(files.map(abs): _*)
      val present = cdcSchema.fieldNames.toSet
      df.select((outSchema.fields.map { f =>
          val vn = vNameFor(f, cmV)
          if (present.contains(vn)) col(s"`${physName(cmV, vn)}`").as(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        } :+ col("_change_type")).toIndexedSeq: _*)
        .withColumn("_commit_version", lit(v))
    }
    val parts: Seq[DataFrame] =
      ((fromVersion + 1) to toVersion).flatMap { v =>
        val cur = readCommit(v)
        val prev = if (v == 0) Set.empty[String]
          else readCommit(v - 1).files.toSet
        // read BOTH sides with the commit's schema: under additive
        // evolution older files just surface nulls for new columns
        val schemaV = org.apache.spark.sql.types.DataType
          .fromJson(cur.schemaJson).asInstanceOf[StructType]
        val cmV = cur.columnMap.getOrElse(Map.empty)
        if (cur.cdc.isDefined) {
          val files = cur.cdc.get
          if (files.isEmpty) Nil else Seq(fromCdc(files, schemaV, v, cmV))
        } else {
        val added = cur.files.filterNot(prev)
        val removed = (prev -- cur.files.toSet).toSeq
        val dvPrev = if (v == 0) Nil
          else readCommit(v - 1).dv.getOrElse(Nil)
        val dvCur = cur.dv.getOrElse(Nil)
        lazy val addRows = rowsOf(added, schemaV, cmV, dvCur)
        lazy val remRows = rowsOf(removed, schemaV, cmV, dvPrev)
        // liveness changes with NO file diff: a commit that changed
        // the tombstone set over files present in BOTH versions (e.g.
        // RESTORE clearing deletion vectors resurrects rows) — diff
        // the (file,pos) tombstone sets and read just those rows
        lazy val dvDelta: Seq[DataFrame] = {
          val common = cur.files.filter(prev.contains)
          if (common.isEmpty || dvPrev.toSet == dvCur.toSet) Nil
          else {
            val scan = scanWithPos(common, schemaV, Nil, cmV)
            val cols = schemaV.fieldNames.map(col).toIndexedSeq
            val newlyDead = scan.join(
              dvPairs(dvCur).exceptAll(dvPairs(dvPrev)),
              Seq("__fp", "__pos"), "semi").select(cols: _*)
            val resurrected = scan.join(
              dvPairs(dvPrev).exceptAll(dvPairs(dvCur)),
              Seq("__fp", "__pos"), "semi").select(cols: _*)
            Seq(tag(newlyDead, "delete", v, cmV),
              tag(resurrected, "insert", v, cmV))
          }
        }
        cur.operation match {
          case "COMPACT" | "CLUSTER" | "ZORDER" | "ADD CONSTRAINT" => Nil
          case "CREATE" | "APPEND" =>
            if (added.isEmpty) Nil else Seq(tag(addRows, "insert", v, cmV))
          case _ => // OVERWRITE, RESTORE, anything content-changing
            Seq(tag(remRows.exceptAll(addRows), "delete", v, cmV),
              tag(addRows.exceptAll(remRows), "insert", v, cmV)) ++ dvDelta
        }
        }
      }
    val empty = tag(rowsOf(Nil, outSchema, cmTo, Nil), "none", -1L, cmTo)
      .limit(0)
    parts.foldLeft(empty)(_ unionByName _)
  }
}

class CommitConflictException(msg: String) extends RuntimeException(msg)
class ConstraintViolationException(msg: String) extends RuntimeException(msg)

object GraftTable {
  /** `Files.list` with the stream CLOSED. An unclosed DirectoryStream
    * holds a file descriptor until GC finalizes it, and the log /
    * staging listings run hot enough (every `latestVersion` call)
    * that a long test run or a busy driver exhausts the process fd
    * limit before GC catches up.
    */
  private[graft] def listPaths(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toList finally s.close()
  }

  /** THE vacuum reclaim rule, shared verbatim by the serial and the
    * distributed enumerations so they can never disagree: is entry
    * `name` under engine dir `d` dead at this retention window?
    * Bloom sidecars are never commit-referenced — one lives exactly
    * as long as its data file (an orphan from a partial failure is
    * reclaimable immediately).
    */
  private[tables] def vacuumDead(d: String, name: String,
      live: Set[String], liveCdc: Set[String],
      liveDv: Set[String]): Option[String] = {
    val rel = s"$d/$name"
    val dead = d match {
      case "files" =>
        if (name.endsWith(".bloom"))
          !live.contains(s"files/${name.stripSuffix(".bloom")}")
        else !live.contains(rel)
      case "cdc" => !liveCdc.contains(rel)
      case "dv" => !liveDv.contains(rel)
      case _ => false
    }
    if (dead) Some(rel) else None
  }

  /** COPY INTO ledger key for a source file: path-keyed, so the same
    * file never loads twice however often the command re-runs.
    */
  private[tables] def copyKey(path: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    "copy:" + md.digest(path.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Compare two strings in UTF-8 BYTE order (= Unicode code-point
    * order) — the order parquet BINARY statistics are computed in.
    * Java String's natural order is UTF-16 code-unit order, which
    * ranks supplementary characters BELOW U+E000..U+FFFF; comparing
    * code points restores the byte-faithful order, so string
    * min/max pruning is exact for every string, not just ASCII.
    */
  private[graft] def utf8Cmp(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** Is `to` a SAFE widening of `from` (Delta type-widening set)?
    * Every value of `from` is exactly representable in `to`, and
    * Spark 4's parquet reader performs the physical conversion when
    * reading an old narrow file under the widened schema.
    */
  private[graft] def widens(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (a: DecimalType, b: DecimalType) =>
        b.scale == a.scale && b.precision > a.precision
      case _ => false
    }
  }

  /** Normalize catalog-supplied `file:` URIs to plain local paths
    * (CREATE TABLE hands providers URI-form locations).
    */
  def localPath(path: String): String =
    new org.apache.hadoop.fs.Path(path).toUri.getPath match {
      case null => path
      case p => p
    }

  /** A streaming micro-batch: absolute file paths + schema to read them with. */
  case class VersionBatch(files: Seq[String], schema: StructType)

  /** WHEN MATCHED clauses for [[GraftTable.merge]]. Conditions and SET
    * values see target columns bare and the source row as `src.<col>`.
    */
  sealed trait MatchedClause
  /** UPDATE SET: `set=None` = SET * (every column from the source). */
  case class MatchedUpdate(condition: Option[Column] = None,
      set: Option[Map[String, Column]] = None) extends MatchedClause
  case class MatchedDelete(condition: Option[Column] = None) extends MatchedClause
  /** WHEN NOT MATCHED THEN INSERT: condition/values see SOURCE columns
    * bare; `values=None` = INSERT * (schema-aligned source row).
    */
  case class NotMatchedInsert(condition: Option[Column] = None,
      values: Option[Map[String, Column]] = None)

  /** WHEN NOT MATCHED BY SOURCE clauses (Delta's sync/SCD surface,
    * the form 01-Fraud-Delta.py:218-241's upsert graduates into):
    * fire for TARGET rows whose key tuple equals NO source key tuple.
    * There is no source row in scope, so conditions and SET values
    * see target columns only (bare). Declaration order,
    * first-condition-wins, like the matched clauses.
    */
  sealed trait NotMatchedBySourceClause
  /** UPDATE SET over target columns — no SET * spelling exists (there
    * is no source row to take values from), so the map is required.
    */
  case class BySourceUpdate(condition: Option[Column] = None,
      set: Map[String, Column] = Map.empty) extends NotMatchedBySourceClause
  case class BySourceDelete(condition: Option[Column] = None)
    extends NotMatchedBySourceClause

  /** Flatten an AND tree into its conjuncts (Catalyst ships this as
    * PredicateHelper.splitConjunctivePredicates, but protected).
    */
  private[tables] def conjuncts(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      conjuncts(l) ++ conjuncts(r)
    case o => Seq(o)
  }

  /** The single input column of a generation expression that is
    * MONOTONE NON-DECREASING in it — the class where input bounds
    * imply partition-value bounds ([[derivedGenConds]]). Matched at
    * the text level: generation exprs are user-authored SQL strings.
    */
  private[tables] def monotoneInput(g: String): Option[String] = {
    val t = g.trim.toLowerCase
    val Year = """year\s*\(\s*([a-z_]\w*)\s*\)""".r
    val ToDate = """to_date\s*\(\s*([a-z_]\w*)\s*\)""".r
    val CastDate = """cast\s*\(\s*([a-z_]\w*)\s+as\s+date\s*\)""".r
    val Trunc =
      ("""date_trunc\s*\(\s*'(?:year|quarter|month|week|day)'""" +
        """\s*,\s*([a-z_]\w*)\s*\)""").r
    t match {
      case Year(x) => Some(x)
      case ToDate(x) => Some(x)
      case CastDate(x) => Some(x)
      case Trunc(x) => Some(x)
      case _ => None
    }
  }

  /** Operations whose commits change no LOGICAL content (Delta's
    * dataChange=false family) — streams skip them and admission
    * budgets bill them at zero.
    */
  private[graft] val maintenanceOps: Set[String] =
    Set("COMPACT", "CLUSTER", "ZORDER", "PURGE")

  /** Names the DML and change-feed paths add to frames that carry a
    * table's schema: the staging tag and partition copies, UPDATE's
    * hit marker and pre-images, MERGE's action index and source row,
    * row addresses,
    * the Z-order key and the feed's change columns. Those paths would
    * overwrite or drop a user column of such a name, so no table may
    * hold one: CREATE, CONVERT, OVERWRITE, RENAME COLUMN and schema
    * evolution refuse them (case-insensitively, like Spark's column
    * resolution).
    */
  private val reservedNames = Set("_change_type", "_commit_version",
    "__tag", "__hit", "__action", "__fp", "__pos", "__file", "__z", "__src")
  private val reservedPrefixes = Seq("__gp_", "__pre_")

  private[tables] def requireUnreserved(names: Seq[String]): Unit = {
    val bad = names.filter { n =>
      val l = n.toLowerCase(java.util.Locale.ROOT)
      reservedNames(l) || reservedPrefixes.exists(l.startsWith)
    }
    require(bad.isEmpty, s"column name(s) ${bad.mkString(", ")} are " +
      "reserved for Graft's internal columns " +
      s"(${reservedNames.toSeq.sorted.mkString(", ")}, and names starting " +
      s"with ${reservedPrefixes.mkString(" or ")})")
  }

  /** Undo Hive/Spark partition-path escaping (`%2F` etc) — the exact
    * inverse of the `escapePathName` applied by the parquet writer's
    * dynamic-partition layout.
    */
  private[tables] def unescapePathName(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val hex = s.substring(i + 1, i + 3)
        try { sb.append(Integer.parseInt(hex, 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** TRAILING `k=v` directory segments of a file path — non-empty
    * exactly for files adopted IN PLACE from a Hive-partitioned
    * layout ([[convert]]). Graft's own writers always land files
    * flat under `files/` (or at the table root for flat CONVERT), so
    * a run of `k=v` segments immediately above the file name can
    * only be an adopted external file. This is the signal the read
    * paths use to reinject partition values from the path: the
    * physical parquet under a Hive layout does NOT contain the
    * partition columns.
    *
    * The run is taken from the file name UPWARD (not "all segments")
    * because a SHALLOW CLONE references adopted files by ABSOLUTE
    * path — the source root's plain directories precede the `k=v`
    * run, and requiring every segment to match would silently read
    * the clone's partition columns as null.
    */
  private[tables] def hivePartSegments(path: String): Seq[(String, String)] = {
    val segs = path.replace('\\', '/').split('/').dropRight(1)
    segs.reverse.takeWhile(s => s.indexOf('=') > 0).reverse.toSeq
      .map { seg =>
        val i = seg.indexOf('=')
        seg.substring(0, i) -> unescapePathName(seg.substring(i + 1))
      }
  }

  /** Per-file column stats: numeric [min,max] plus string [min,max]
    * compared in UTF-8 byte order via [[utf8Cmp]] (exact for every
    * string; only over-long values are dropped, as a truncated max
    * would mis-prune), and the footer's exact row count. Every data
    * file a commit lists has an entry.
    */
  private[graft] case class FileStats(mins: Map[String, Double],
      maxs: Map[String, Double],
      smins: Option[Map[String, String]],
      smaxs: Option[Map[String, String]],
      rows: Long,
      // session timezone this file's rows (and any generated
      // partition values) were MATERIALIZED under — the per-commit
      // writer-zone record that lets multi-zone writers coexist:
      // tz-dependent generated-column derivation applies per file,
      // only where the recorded zone matches the reader. Absent when
      // the write stood down (see [[GraftTable.rewriteStampZone]]).
      tz: Option[String])

  /** A resolved version snapshot for scan planning: absolute file
    * paths, their commit-log stats, and the schema to read with.
    */
  private[graft] case class SnapshotInfo(files: Seq[String],
      stats: Map[String, FileStats], schema: StructType,
      partitionBy: Seq[String] = Nil,
      partValues: Map[String, Map[String, String]] = Map.empty)

  /** The commit format this build writes and reads: every commit
    * carries it, and a commit without it (a log written before the
    * protocol state moved out of `metrics`) is refused.
    */
  private[tables] val CommitFormat = 2

  private val identityKey = "identity:highWater"

  /** Protocol state, carried whole by every RESOLVED commit:
    *  - `watermarks`: max-folded counters — exactly-once sink batch ids
    *    (`txn:<app>`), COPY INTO markers (`copy:<md5>`), the identity
    *    high water and MV source/dimension versions;
    *  - `retired`: physical column names a commit removed from the
    *    schema (DROP, OVERWRITE, RESTORE), the fresh-name collision set
    *    beyond the current schema.
    * [[GraftTable.commit]] folds a commit's additions into its
    * parent's state (max, union); a delta commit stores only the
    * entries that changed, a full commit stores all of it.
    */
  private[tables] case class TableState(
      watermarks: Option[Map[String, Long]] = None,
      retired: Option[List[String]] = None) {
    def marks: Map[String, Long] = watermarks.getOrElse(Map.empty)
    def retiredNames: Set[String] = retired.getOrElse(Nil).toSet
    def fold(o: TableState): TableState =
      if (o == TableState.empty) this
      else TableState.of(
        o.marks.foldLeft(marks) { case (m, (k, x)) =>
          m.updated(k, m.get(k).fold(x)(math.max(_, x)))
        },
        retiredNames ++ o.retiredNames)
    /** The entries `parent` does not already hold. */
    def since(parent: TableState): TableState = TableState.of(
      marks.filter { case (k, x) => !parent.marks.get(k).contains(x) },
      retiredNames -- parent.retiredNames)
  }

  private[tables] object TableState {
    val empty: TableState = TableState()
    def of(marks: Map[String, Long],
        names: Set[String] = Set.empty): TableState =
      TableState(if (marks.isEmpty) None else Some(marks),
        if (names.isEmpty) None else Some(names.toList.sorted))
  }

  /** One log entry. `metrics` are this commit's operation metrics
    * (DESCRIBE HISTORY's `operation_metrics`); protocol state lives in
    * `state` ([[TableState]]) and `format` stamps [[CommitFormat]].
    */
  private[tables] case class Commit(version: Long, timestampMs: Long,
      operation: String, files: List[String], schemaJson: String,
      metrics: Map[String, Long],
      stats: Map[String, FileStats] = Map.empty,
      constraints: Option[Map[String, String]] = None,
      cdc: Option[List[String]] = None,
      dv: Option[List[String]] = None,
      partitionBy: Option[List[String]] = None,
      partValues: Option[Map[String, Map[String, String]]] = None,
      columnMap: Option[Map[String, String]] = None,
      properties: Option[Map[String, String]] = None,
      generated: Option[Map[String, String]] = None,
      identityCol: Option[String] = None,
      bucketBy: Option[List[String]] = None,
      numBuckets: Option[Int] = None,
      // delta-encoded commit (checkpointing): `files` holds only the
      // commit's ADDS and `removes` the dropped names; resolution in
      // [[GraftTable.readCommit]]. Absent on full commits.
      delta: Option[Boolean] = None,
      removes: Option[List[String]] = None,
      state: Option[TableState] = None,
      format: Option[Int] = None) {
    def carried: TableState = state.getOrElse(TableState.empty)
  }

  /** Create a new table at `path` from `df` (errors if a log exists).
    * With `partitionBy`, the table is PARTITIONED: every write lands
    * partition-aligned (no file spans two partition tuples) with the
    * tuple recorded per-file in the commit log — the metadata behind
    * [[GraftTable.overwritePartitions]] and exact partition pruning.
    */
  /** CREATE-OR-LOAD, race-safe: the check-then-create shape every
    * lazily-initialized state table uses (dedup index subtables,
    * clusters state, ledgers, audit trails) is a cross-process race
    * — two concurrent initializers can both pass the absent check,
    * and the slower create fails ("table already exists" on the log
    * dir, or a CommitConflictException on the version-0 claim). The
    * loser here LOADS what the winner created instead of surfacing
    * the race; its already-written seed files (if any) are ordinary
    * unreferenced orphans, reported by fsck and reclaimed by vacuum.
    */
  def createIfAbsent(spark: SparkSession, path: String, df: DataFrame,
      props: Map[String, String] = Map.empty): GraftTable = {
    val log = Paths.get(path).resolve("_graft_log")
    // the creator makes the log directory BEFORE its version-0
    // commit lands — a loser arriving inside that window must wait
    // it out, not serve a versionless table
    def loadReady(): GraftTable = {
      val t = load(spark, path)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (t.latestVersion < 0L && System.nanoTime() < deadline)
        Thread.sleep(20)
      require(t.latestVersion >= 0L,
        s"table at $path never finished initializing (empty log)")
      t
    }
    if (Files.exists(log)) return loadReady()
    try create(spark, path, df, properties = props)
    catch {
      case _: IllegalArgumentException | _: CommitConflictException
          if Files.exists(log) => loadReady()
    }
  }

  /** `marks` (watermarks) ride the CREATE commit's protocol state — a
    * caller whose watermark must be transactional with the seed data
    * (the maintained-view create) lands both in ONE commit instead of
    * a create(empty)+overwrite pair (guide §1.2: one write job, one
    * commit). `properties` (TBLPROPERTIES) ride it the same way, so a
    * table never exists without them.
    */
  def create(spark: SparkSession, path: String, df: DataFrame,
      partitionBy: Seq[String] = Nil,
      generated: Map[String, String] = Map.empty,
      identity: Option[String] = None,
      bucketBy: Seq[String] = Nil,
      numBuckets: Int = 0,
      marks: Map[String, Long] = Map.empty,
      properties: Map[String, String] = Map.empty): GraftTable = {
    val root = Paths.get(path)
    val t = new GraftTable(spark, root)
    require(!Files.exists(t.logDir), s"table already exists at $path")
    require(bucketBy.isEmpty == (numBuckets <= 0),
      "bucketBy and numBuckets must be set together")
    require(bucketBy.isEmpty || partitionBy.isEmpty,
      "bucketBy and partitionBy cannot be combined")
    val bkSpec = if (bucketBy.isEmpty) None else Some((bucketBy, numBuckets))
    // generated columns absent from the seed frame are computed; a
    // supplied one must satisfy its expression (checked below)
    val withGen = generated.foldLeft(df) { case (d, (c, genExpr)) =>
      if (d.schema.fieldNames.contains(c)) d
      else d.withColumn(c, org.apache.spark.sql.functions.expr(genExpr))
    }
    generated.foreach { case (c, genExpr) =>
      val bad = withGen.where(s"NOT (`$c` <=> ($genExpr))").count()
      if (bad > 0) throw new ConstraintViolationException(
        s"generated column $c [$genExpr] violated by $bad seed row(s)")
    }
    // identity: seed rows WITH the column set the high water from
    // their max; without it, ids are assigned densely from 0
    val (seeded, hw, idCleanup) = identity match {
      case None => (withGen, None, () => ())
      case Some(idc) if withGen.schema.fieldNames.contains(idc) =>
        require(withGen.schema(idc).dataType ==
          org.apache.spark.sql.types.LongType,
          s"identity column $idc must be BIGINT")
        val mx = withGen.agg(max(col(s"`$idc`"))).head.get(0)
        (withGen, Some(if (mx == null) -1L else mx.asInstanceOf[Long]),
          () => ())
      case Some(idc) =>
        val (assigned, n, cleanup) = t.assignDenseIds(withGen, idc, -1L)
        (assigned, Some(n - 1L), cleanup)
    }
    try {
      requireUnreserved(seeded.schema.fieldNames.toSeq)
      val missing = (partitionBy ++ bucketBy)
        .filterNot(seeded.schema.fieldNames.contains)
      require(missing.isEmpty,
        s"partitionBy/bucketBy names unknown column(s): ${missing.mkString(", ")}")
      val w = t.writeData(seeded, partitionBy, Map.empty, bkSpec)
      // the log directory appears only AFTER the data write: a seed
      // job that fails must leave NO commitless `_graft_log` behind
      // (one would brick the path — create() refuses "already
      // exists", load() serves a versionless table, createIfAbsent
      // times out). The version-0 slot itself is claimed atomically
      // by writeCommit's hard link, so a concurrent creator races to
      // the commit and the loser's seed files are ordinary orphans
      // (fsck/vacuum) — the deepClone DV-branch ordering, applied to
      // CREATE
      Files.createDirectories(t.logDir)
      t.commit("CREATE", -1L, w.files, seeded.schema,
        Map("numAddedFiles" -> w.files.size.toLong),
        t.collectStats(w.files),
        newPartValues = w.partValues,
        newProperties = properties,
        partitionByOpt = if (partitionBy.isEmpty) None else Some(partitionBy),
        generatedOpt = if (generated.isEmpty) None else Some(generated),
        identityOpt = identity,
        bucketByOpt = bkSpec,
        state = TableState.of(hw.map(identityKey -> _).toMap ++ marks))
      t
    } finally idCleanup()
  }

  def load(spark: SparkSession, path: String): GraftTable = {
    val t = new GraftTable(spark, Paths.get(path))
    require(Files.exists(t.logDir), s"not a graft table: $path")
    t
  }

  /** CONVERT TO DELTA analog: adopt an existing plain-parquet
    * directory as a graft table IN PLACE — zero bytes moved, one
    * commit listing the existing files with footer-harvested stats.
    * Subsequent DML/compaction runs copy-on-write as usual (new
    * files land under `files/`; the adopted originals are retired
    * from the listing when rewritten, reclaimed by VACUUM).
    *
    * A HIVE-PARTITIONED layout (`k=v` directory nesting — what a
    * migrating user's existing `df.write.partitionBy(...)` output
    * looks like, reference analog: registering existing tables,
    * Instructor/01-Fraud-Delta.py:116-134) is detected automatically:
    * the `k=v` segments parse into commit-log partition tuples
    * (unescaped with the same rules as graft's own partitioned
    * staging), the table comes up PARTITIONED BY those columns with
    * exact partition pruning and partition-aware DML live from the
    * first commit. Partition-column types are inferred by Spark's own
    * partition discovery. The adopted files keep their original
    * nested paths; reads reinject the path-encoded partition values
    * ([[readRaw]]), and copy-on-write DML retires them into ordinary
    * self-describing graft files.
    */
  def convert(spark: SparkSession, path: String): GraftTable = {
    val root = Paths.get(path)
    val t = new GraftTable(spark, root)
    require(!Files.exists(t.logDir), s"already a graft table: $path")
    val parts = Files.walk(root).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet") &&
        Files.isRegularFile(p))
      .map(p => root.relativize(p).toString.replace('\\', '/'))
      .filterNot(_.split('/').exists(seg =>
        seg.startsWith("_") || seg.startsWith(".")))
      .toSeq.sorted
    require(parts.nonEmpty, s"no parquet files to convert at $path")
    val segs = parts.map(hivePartSegments)
    if (segs.forall(_.isEmpty)) {
      // flat layout: files at the root (nested non-hive dirs refused —
      // an ambiguous layout should fail loudly, not half-adopt)
      val stray = parts.filter(_.contains('/'))
      require(stray.isEmpty,
        s"unrecognized directory layout: ${stray.head} is nested but " +
          "not under k=v partition directories")
      val schema = spark.read.parquet(path).schema
      requireUnreserved(schema.fieldNames.toSeq)
      Files.createDirectories(t.logDir)
      t.commit("CONVERT", -1L, parts, schema,
        Map("numAddedFiles" -> parts.size.toLong), t.collectStats(parts))
    } else {
      // the k=v run must cover the WHOLE directory chain of every
      // file — a layout mixing plain and k=v levels is ambiguous and
      // refuses loudly rather than half-adopting
      val partial = parts.zip(segs).find { case (f, s) =>
        s.length != f.count(_ == '/')
      }
      require(partial.isEmpty,
        s"unrecognized directory layout: ${partial.map(_._1).getOrElse("")} " +
          "mixes k=v and plain directory levels")
      val pcols = segs.head.map(_._1)
      require(segs.forall(_.map(_._1) == pcols),
        s"inconsistent hive partition layout under $path: every file " +
          s"must sit under the same ${pcols.mkString("/")}=... nesting")
      // Spark's partition discovery gives the full schema with
      // partition-column TYPES inferred from the path values
      // (appended after the data columns, Delta/Spark convention)
      val schema = spark.read.parquet(path).schema
      requireUnreserved(schema.fieldNames.toSeq)
      require(pcols.forall(schema.fieldNames.contains),
        s"partition discovery did not surface ${pcols.mkString(",")}")
      val pv = parts.zip(segs).map { case (f, s) => f -> s.toMap }.toMap
      Files.createDirectories(t.logDir)
      t.commit("CONVERT", -1L, parts, schema,
        Map("numAddedFiles" -> parts.size.toLong,
          "numPartitionColumns" -> pcols.size.toLong),
        t.collectStats(parts), newPartValues = pv,
        partitionByOpt = Some(pcols))
    }
    t
  }

  /** SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE` analog):
    * a new table whose first commit REFERENCES the source's current
    * data files by absolute path — zero bytes copied, O(files)
    * metadata. Subsequent writes land in the clone's own directory;
    * copy-on-write DML naturally un-shares files, so the clone is a
    * cheap writable fork (dev/test against production data). Stats
    * and CHECK constraints carry over. The clone must not be
    * vacuumed-ahead by the source: as with Delta, dropping source
    * files the clone still references breaks it — retention policy
    * is the operator's contract.
    */
  def shallowClone(spark: SparkSession, srcPath: String,
      dstPath: String): GraftTable =
    shallowClone(spark, srcPath, dstPath, -1L)

  /** Shallow clone AT A VERSION (Delta `CLONE ... VERSION AS OF`):
    * the fork starts from the source's historical state — zero-copy
    * dev/test against yesterday's data. `version = -1` means HEAD.
    */
  def shallowClone(spark: SparkSession, srcPath: String,
      dstPath: String, version: Long): GraftTable = {
    val src = load(spark, srcPath)
    val v = if (version < 0) src.latestVersion else version
    val c = src.readCommit(v)
    // fail FAST on a version whose files vacuum already reclaimed —
    // otherwise the clone commits fine and breaks on first read
    val gone = c.files.filterNot(f => Files.exists(src.root.resolve(f)))
    require(gone.isEmpty,
      s"cannot clone version $v: ${gone.size} data file(s) already " +
        s"vacuumed (e.g. ${gone.take(2).mkString(", ")})")
    val t = new GraftTable(spark, Paths.get(dstPath))
    require(!Files.exists(t.logDir), s"table already exists at $dstPath")
    Files.createDirectories(t.logDir)
    // absolute refs: Path.resolve passes absolute paths through, so
    // reads and DML on the clone address the source's files directly
    val absFiles = c.files.map(src.abs)
    val absStats = c.stats.map {
      case (f, s) => src.abs(f) -> s
    }
    t.commit("CLONE", -1L, absFiles,
      org.apache.spark.sql.types.DataType.fromJson(c.schemaJson)
        .asInstanceOf[StructType],
      Map("sourceVersion" -> v),
      absStats,
      c.constraints.getOrElse(Map.empty),
      // DV tombstones key on the source's absolute file paths — which
      // is exactly how the clone references those files, so carried
      // DVs mask the same rows
      dv = Some(c.dv.getOrElse(Nil).map(src.abs)),
      newPartValues = c.partValues.getOrElse(Map.empty).map {
        case (f, m) => src.abs(f) -> m
      },
      partitionByOpt = c.partitionBy,
      newColumnMap = Some(c.columnMap.getOrElse(Map.empty)),
      newProperties = c.properties.getOrElse(Map.empty),
      generatedOpt = c.generated,
      identityOpt = c.identityCol,
      bucketByOpt = for { b <- c.bucketBy; n <- c.numBuckets }
        yield (b: Seq[String], n),
      state = cloneState(c))
    t
  }

  /** The protocol state a clone of commit `c` starts from: the
    * identity high water AS OF `c` (later source appends' ids belong
    * to the source; the carried state holds it even after log
    * retention pruned the commits that assigned it) and the retired
    * physical names (the clone references or copies files that may
    * hold them). Sink and COPY INTO watermarks stay with the source.
    */
  private def cloneState(c: Commit): TableState =
    TableState.of(
      c.carried.marks.filter { case (k, _) =>
        c.identityCol.isDefined && k == identityKey },
      c.carried.retiredNames)

  /** DEEP CLONE (Delta `CREATE TABLE ... DEEP CLONE` analog): a new
    * table whose data files are COPIED into its own directory in one
    * commit — the backup/migration spelling. Unlike [[shallowClone]],
    * the result is self-contained: it survives VACUUM on the source,
    * and DML on either side can never cross. Stats carry verbatim on
    * the byte-copy path (same bytes, same footers — no re-scan; bloom
    * sidecars ride along); a source with ACTIVE deletion vectors
    * materializes the DV-masked state instead (the tombstone files
    * reference source paths, so copying them would re-bind masks to
    * the wrong files — a rewrite is the only self-contained form).
    * History starts fresh at the clone (one DEEP_CLONE commit).
    */
  def deepClone(spark: SparkSession, srcPath: String, dstPath: String,
      version: Long = -1L): GraftTable = {
    val src = load(spark, srcPath)
    val v = if (version < 0) src.latestVersion else version
    val c = src.readCommit(v)
    val gone = c.files.filterNot(f => Files.exists(src.root.resolve(f)))
    require(gone.isEmpty,
      s"cannot clone version $v: ${gone.size} data file(s) already " +
        s"vacuumed (e.g. ${gone.take(2).mkString(", ")})")
    val t = new GraftTable(spark, Paths.get(dstPath))
    require(!Files.exists(t.logDir), s"table already exists at $dstPath")
    val schema = org.apache.spark.sql.types.DataType.fromJson(c.schemaJson)
      .asInstanceOf[StructType]
    if (c.dv.exists(_.nonEmpty)) {
      // merge-on-read state: materialize the masked snapshot. The
      // clone's files carry LOGICAL names (fresh physical=logical
      // mapping) — the snapshot read already translated physicals.
      // The materialized rows CARRY the source's generated values, so
      // the zone stamp is the SOURCE files' common recorded zone (or
      // none) — stamping the cloning session's zone would let a
      // matching reader derive bounds over foreign-zone values and
      // prune rows the predicate matches.
      val data = src.snapshotAt(v)
      val w = t.writeData(data, c.partitionBy.getOrElse(Nil),
        Map.empty,
        for { b <- c.bucketBy; n <- c.numBuckets } yield (b: Seq[String], n))
      val srcZone: Option[String] = {
        val stats = c.stats
        val zones = c.files.map(f => stats.get(f).flatMap(_.tz))
        if (zones.exists(_.isEmpty)) None
        else {
          val zs = zones.flatten
          if (zs.isEmpty || zs.tail.forall(src.sameZone(zs.head, _)))
            zs.headOption
          else None
        }
      }
      // the log is born only once the data write has fully succeeded
      // — a failure mid-write must not leave a commitless log dir
      // that permanently fails a retry's "already exists" guard (the
      // byte-copy branch below already orders it this way)
      Files.createDirectories(t.logDir)
      t.commit("DEEP_CLONE", -1L, w.files, data.schema,
        Map("sourceVersion" -> v, "numAddedFiles" -> w.files.size.toLong),
        t.collectStats(w.files, genZone = srcZone),
        c.constraints.getOrElse(Map.empty),
        newPartValues = w.partValues,
        partitionByOpt = c.partitionBy,
        newProperties = c.properties.getOrElse(Map.empty),
        generatedOpt = c.generated,
        identityOpt = c.identityCol,
        bucketByOpt = for { b <- c.bucketBy; n <- c.numBuckets }
          yield (b: Seq[String], n),
        state = cloneState(c))
      // the byte-copy path carries sidecars with the files; this path
      // wrote fresh files, so a declared bloom index backfills here
      if (t.bloomColumns.nonEmpty) t.rebuildBloomIndex()
      return t
    }
    // byte-copy path: same bytes, same footers — stats/partition
    // tuples carry verbatim under the copied files' new names. Hive-
    // adopted relative nesting is preserved; absolute refs (a deep
    // clone OF a shallow clone) land under files/ with a uniquified
    // name.
    Files.createDirectories(t.root.resolve("files"))
    val mapping = c.files.zipWithIndex.map { case (f, i) =>
      f -> (if (Paths.get(f).isAbsolute)
        s"files/clone_${i}_${Paths.get(f).getFileName}"
      else f)
    }.toMap
    val pairs = mapping.toSeq.map { case (f, rel) =>
      (src.abs(f), t.root.resolve(rel).toString) }
    // REPLACE_EXISTING: a retried clone after a mid-copy failure (no
    // commit was written, so the destination log check passes) must
    // complete, not trip over the files the first attempt copied
    def copyOne(sa: String, da: String): Long = {
      val dst = Paths.get(da)
      Files.createDirectories(dst.getParent)
      Files.copy(Paths.get(sa), dst,
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val bloom = Paths.get(sa + ".bloom")
      if (Files.exists(bloom))
        Files.copy(bloom, Paths.get(da + ".bloom"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Files.size(dst)
    }
    // the copy is the whole cost of a deep clone — at thousands of
    // files a serial driver loop is the vacuum-walk problem again, so
    // big clones copy in ONE Spark job (same shard posture as the
    // distributed vacuum enumeration); byte counts ride back from the
    // copy tasks instead of a second serial stat walk
    val copiedBytes =
      if (pairs.size < 64) pairs.map { case (sa, da) => copyOne(sa, da) }.sum
      else spark.sparkContext
        .parallelize(pairs, math.min(pairs.size, 256))
        .map { case (sa, da) => copyOne(sa, da) }.sum().toLong
    Files.createDirectories(t.logDir)
    t.commit("DEEP_CLONE", -1L, c.files.map(mapping), schema,
      Map("sourceVersion" -> v,
        "numAddedFiles" -> c.files.size.toLong,
        "numCopiedBytes" -> copiedBytes),
      c.stats.map { case (f, s) => mapping(f) -> s },
      c.constraints.getOrElse(Map.empty),
      newPartValues = c.partValues.getOrElse(Map.empty).map {
        case (f, m) => mapping(f) -> m },
      partitionByOpt = c.partitionBy,
      newColumnMap = Some(c.columnMap.getOrElse(Map.empty)),
      newProperties = c.properties.getOrElse(Map.empty),
      generatedOpt = c.generated,
      identityOpt = c.identityCol,
      bucketByOpt = for { b <- c.bucketBy; n <- c.numBuckets }
        yield (b: Seq[String], n),
      state = cloneState(c))
    t
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      listPaths(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}
