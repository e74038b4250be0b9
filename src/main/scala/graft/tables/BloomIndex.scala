package graft.tables

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, XxHash64}
import org.apache.spark.sql.functions._

/** Per-file BLOOM FILTER INDEX (Delta's bloom-filter index analog)
  * for point-lookup pruning on declared columns
  * (`graft.bloom.columns` in TBLPROPERTIES).
  *
  * Min/max stats cannot prune a point predicate when every file's key
  * range overlaps (unclustered ingest order); a per-file bloom over
  * the declared columns answers "can this file contain THIS value"
  * at sub-range precision, which is what a 100 TB point DELETE/
  * UPDATE/MERGE needs. Filters live as SIDECAR files next to each
  * data file (`<file>.bloom` — the commit log stays O(metadata);
  * lifecycle follows the data file through VACUUM; shallow clones
  * resolve them through the same absolute path as the data), built by
  * ONE Spark job per write over just the committed files.
  *
  * Hash-domain contract: the WRITE side buckets rows with the
  * codegen'd `xxhash64(seed, col)` expression; the READ side
  * evaluates the SAME Catalyst expression over the pushed literal —
  * bit positions agree by construction, for every type, forever. A
  * missing sidecar, undeclared column, unparseable JSON or saturated
  * filter all answer "may contain" — pruning is only ever
  * conservative.
  */
private[tables] object BloomIndex {
  /** Four independent hash functions via distinct seed prefixes. */
  private val seeds = Seq(0x5eed0001, 0x5eed0002, 0x5eed0003, 0x5eed0004)

  val defaultBits = 1 << 17 // 16 KB/sidecar/col; ~10 bits/key at 13k keys

  private def sidecar(dataFileAbs: String): Path =
    Paths.get(dataFileAbs + ".bloom")

  /** file:-scheme-tolerant local path (matches `_metadata.file_path`
    * spelling back to plain paths).
    */
  private def plain(p: String): String =
    if (p.startsWith("file:"))
      try new java.net.URI(p).getPath match { case null => p; case x => x }
      catch { case _: java.net.URISyntaxException => p }
    else p

  /** Build sidecars for `filesAbs` over physical columns `cols` in
    * ONE Spark job for every column: each row explodes into its
    * (column, bucket) pairs, bucket bits OR-fold into 64-bit words
    * per (file, column, word), and the sorted result STREAMS to the
    * driver one partition at a time — driver memory is one file's
    * filters (~cols × mBits/8 bytes), not the whole table's. Null
    * values set no bits (null never equi-matches).
    */
  def write(spark: SparkSession, filesAbs: Seq[String],
      cols: Seq[String], mBits: Int): Unit = {
    if (filesAbs.isEmpty || cols.isEmpty) return
    val raw = spark.read.parquet(filesAbs: _*)
    // a declared column absent from these files (partition-injected,
    // typo'd) builds no filter — selecting it would fail analysis
    val use = cols.filter(raw.columns.contains)
    if (use.isEmpty) return
    val pairs = array(use.flatMap { c =>
      seeds.map(s => when(col(s"`$c`").isNotNull,
        struct(lit(c).as("c"),
          pmod(xxhash64(lit(s), col(s"`$c`")), lit(mBits.toLong)).as("b"))))
    }: _*)
    val buckets = raw
      .select(col("_metadata.file_path").as("__f"), explode(pairs).as("p"))
      .where(col("p").isNotNull)
      .select(col("__f"), col("p.c").as("c"), col("p.b").as("b"))
    val wanted = filesAbs.map(plain).toSet
    // TWO-level fold, one shuffle of PARTIAL FILTERS: every input
    // partition folds its buckets into per-(file, column) bit arrays
    // map-side, so raw bucket tuples never cross the wire — the
    // shuffle carries at most inputPartitions × filesPerPartition ×
    // cols arrays of mBits/8 bytes — then the
    // file-hash-partitioned reduce ORs partials per (file, column)
    // and streams finished filters to the driver sorted by file.
    // This replaced a groupBy + sort + iterate chain (~4 jobs, a
    // range-sampling pass, and 32 sequential iterator mini-jobs)
    // that dominated small indexed writes. Reduce partitions hold
    // ~64 files each (a file's reduce is one task either way, and
    // toLocalIterator pays ONE sequential job per partition — many
    // tiny partitions would dominate small appends again).
    val nParts = math.max(1, math.min(32, filesAbs.size / 64 + 1))
    val mBitsLocal = mBits
    import org.apache.spark.sql.{Encoder, Encoders}
    implicit val enc: Encoder[(String, String, Array[Long])] =
      Encoders.tuple(Encoders.STRING, Encoders.STRING,
        spark.implicits.newLongArrayEncoder)
    val partials = buckets.mapPartitions { rows =>
      val m = scala.collection.mutable.HashMap
        .empty[(String, String), Array[Long]]
      rows.foreach { r =>
        val arr = m.getOrElseUpdate((r.getString(0), r.getString(1)),
          new Array[Long](mBitsLocal / 64))
        val b = r.getLong(2)
        arr((b / 64).toInt) |= 1L << (b % 64)
      }
      m.iterator.map { case ((f, c), arr) => (f, c, arr) }
    }
    val merged = partials.repartition(nParts, col("_1"))
      .mapPartitions { rows =>
        val m = scala.collection.mutable.HashMap
          .empty[(String, String), Array[Long]]
        rows.foreach { case (f, c, part) =>
          m.get((f, c)) match {
            case Some(acc) =>
              var i = 0
              while (i < acc.length) { acc(i) |= part(i); i += 1 }
            case None => m.put((f, c), part)
          }
        }
        // SORTED by file: a file's columns then arrive contiguously
        // at the driver, so flush-on-file-change is sound (collect
        // concatenates partitions in order; a file never spans two)
        m.toSeq.sortBy(_._1).iterator
          .map { case ((f, c), arr) => (f, c, arr) }
      }
    // small result sets land in ONE collect job; only larger builds
    // pay the partition-at-a-time iterator to bound driver memory.
    // The budget is BYTES (filters × mBits/8 ≤ 64 MB), not a filter
    // count — graft.bloom.bits is user-settable, so a count-only
    // gate would collect gigabytes under a large configured filter
    val it: Iterator[(String, String, Array[Long])] =
      if (filesAbs.size.toLong * math.max(1, use.size) *
          (mBits / 8L) <= (64L << 20))
        merged.collect().iterator
      else {
        import scala.jdk.CollectionConverters._
        merged.toLocalIterator().asScala
      }
    val flushed = scala.collection.mutable.Set.empty[String]
    var curFile: String = null
    val colsMap = scala.collection.mutable.Map.empty[String, Array[Long]]
    def flush(): Unit =
      if (curFile != null && wanted.contains(curFile)) {
        writeSidecar(curFile, mBits, colsMap)
        cache.remove(curFile) // a rebuild replaces any memoized parse
        flushed += curFile
      }
    while (it.hasNext) {
      val (f0, c, arr) = it.next()
      val f = plain(f0)
      if (f != curFile) { flush(); curFile = f; colsMap.clear() }
      colsMap(c) = arr
    }
    flush()
    // a file that produced no (column, bucket) rows — empty file, or
    // every value null — still gets a sidecar: its ALL-ZEROS filter
    // correctly refutes every probe (null never equi-matches), where
    // a missing sidecar would answer "may contain" forever
    (wanted -- flushed).foreach { f =>
      writeSidecar(f, mBits,
        use.map(c => c -> new Array[Long](mBits / 64)).toMap)
      cache.remove(f)
    }
  }

  /** Atomic sidecar publish (tmp file + ATOMIC_MOVE): a racing
    * reader can never observe a truncated filter, and a crash
    * mid-write leaves only a .tmp.
    */
  private def writeSidecar(fileAbs: String, mBits: Int,
      cols: scala.collection.Map[String, Array[Long]]): Unit = {
    val body = cols.map { case (c, arr) =>
      "\"" + c + "\":\"" + arr.map(l => f"$l%016x").mkString + "\""
    }.mkString(",")
    val target = sidecar(fileAbs)
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.writeString(tmp, s"""{"bits":$mBits,"cols":{$body}}""")
    Files.move(tmp, target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  // sidecars are immutable once written (data files never change);
  // memoize SUCCESSFUL parses so repeated DML planning re-reads
  // nothing. Neither a missing sidecar nor a failed parse is ever
  // memoized: an index built later (rebuildBloomIndex, a property
  // declared mid-life) must become visible to a session that already
  // probed, and a torn read during a concurrent rebuild must not
  // silently disable pruning for the rest of the session — only the
  // immutable success is safe to cache.
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, (Int, Map[String, Array[Long]])]()

  /** Bounded-growth guard: drop ~1/8 of entries (arbitrary subset)
    * instead of clear() — a full clear forces a thundering-herd
    * re-parse exactly on the largest tables where the cache matters.
    */
  private def evictSome(): Unit = {
    val it = cache.keySet.iterator()
    var n = cache.size / 8 + 1
    while (n > 0 && it.hasNext) { it.next(); it.remove(); n -= 1 }
  }

  private def load(dataFileAbs: String)
      : Option[(Int, Map[String, Array[Long]])] = {
    val hit = cache.get(dataFileAbs)
    if (hit != null) return Some(hit)
    val p = sidecar(dataFileAbs)
    if (!Files.exists(p)) return None
    val parsed = try {
      val s = Files.readString(p)
      """"bits":(\d+)""".r.findFirstMatchIn(s)
        .map(_.group(1).toInt).flatMap { bits =>
          val cols = """"([^"]+)":"([0-9a-f]+)"""".r.findAllMatchIn(s)
            .filter(_.group(1) != "bits")
            .map(m => m.group(1) -> m.group(2).grouped(16)
              .map(java.lang.Long.parseUnsignedLong(_, 16)).toArray)
            .toMap
          if (cols.values.exists(_.length != bits / 64)) None
          else Some((bits, cols))
        }
    } catch { case scala.util.control.NonFatal(_) => None }
    parsed.foreach { v =>
      if (cache.size > 100000) evictSome()
      cache.put(dataFileAbs, v)
    }
    parsed
  }

  /** Bucket ids of a pushed literal under the write-side hash — the
    * literal node is reused verbatim so the hashed bytes are exactly
    * the column's internal representation.
    */
  private def bucketsOf(lit0: Literal, mBits: Int): Seq[Int] =
    seeds.map { s =>
      val h = XxHash64(Seq(Literal(s), lit0), 42L)
        .eval(InternalRow.empty).asInstanceOf[Long]
      val m = h % mBits
      (if (m < 0) m + mBits else m).toInt
    }

  /** Can `dataFileAbs` contain `value` in column `col`? Missing or
    * damaged index answers true.
    */
  def mayContain(dataFileAbs: String, colName: String,
      value: Literal): Boolean =
    pruneValues(colName, Seq(value), Seq(dataFileAbs)).nonEmpty

  /** Point conjuncts a bloom can refute: `col = lit` and
    * `col IN (lits)` over indexed columns. Returns the files that MAY
    * match every such conjunct (non-point shapes are ignored here —
    * the stats layer already handled them). Each conjunct is one
    * [[pruneValues]] pass — THE probe implementation, shared with the
    * lean internal fetches.
    */
  def prune(conds: Seq[Expression], indexed: Set[String],
      filesAbs: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions._
    val points: Seq[(String, Seq[Literal])] = conds.collect {
      case EqualTo(a: AttributeReference, l: Literal)
        if indexed.contains(a.name) && l.value != null => (a.name, Seq(l))
      case EqualTo(l: Literal, a: AttributeReference)
        if indexed.contains(a.name) && l.value != null => (a.name, Seq(l))
      case In(a: AttributeReference, vs)
        if indexed.contains(a.name) && vs.nonEmpty &&
          vs.forall(v => v.isInstanceOf[Literal] &&
            v.asInstanceOf[Literal].value != null) =>
        (a.name, vs.map(_.asInstanceOf[Literal]))
    }
    points.foldLeft(filesAbs) { case (fs, (c, lits)) =>
      pruneValues(c, lits, fs)
    }
  }

  /** DISTRIBUTED twin of [[pruneValues]] for probe sets too large to
    * collect driver-side: the keys stay a DataFrame — each partition
    * hashes its keys through the SAME write-side expression chain
    * (`xxhash64(seed, col)`; the raw 64-bit hashes are filter-size
    * independent, the mod applies per file) and tests the
    * not-yet-hit files' sidecar filters, short-circuiting a file on
    * its first hit and the whole partition once every file is hit.
    * The only driver traffic is ONE hit-bitset (⌈files/64⌉ longs)
    * per partition, OR-folded here — no key ever reaches the
    * driver. Sidecar parses ride the process-wide memoized cache,
    * so an executor reads each filter once however many partitions
    * it runs; executors resolve the sidecars through the same
    * shared-storage paths as the data files. A missing/damaged
    * sidecar or undeclared column answers "may contain" — only ever
    * conservative, exactly like the driver-side probe.
    */
  def pruneValuesDistributed(colName: String,
      keys: org.apache.spark.sql.DataFrame,
      filesAbs: Seq[String]): Seq[String] = {
    if (filesAbs.isEmpty) return Seq.empty
    val files = filesAbs.toArray
    val n = files.length
    val colNameLocal = colName
    val spark = keys.sparkSession
    implicit val enc: org.apache.spark.sql.Encoder[Array[Long]] =
      spark.implicits.newLongArrayEncoder
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
    import org.apache.spark.sql.types.{BinaryType, BooleanType, ByteType, DateType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, TimestampType}
    // the write-side sidecar hashed the column's NATIVE internal
    // representation, so the probe must feed XxHash64 the SAME
    // internal value — a silent cast would hash a DIFFERENT byte
    // sequence and prune files that actually match (LOST ROWS).
    // Atomic key types convert external→internal on dedicated paths
    // (UTF8String / identity / epoch days / epoch micros / Decimal);
    // every OTHER type — arrays, structs, maps — converts through
    // Catalyst's own external→internal converter, so complex-typed
    // bloom columns prune natively too (previously the one keep-all
    // shape). Callers are responsible for TYPE AGREEMENT with the
    // indexed column ([[GraftTable
    // .snapshotBloomInDistributedWithCount]] keep-alls a mismatch) —
    // the sidecar records no type, and a long probe against a
    // string-hashed filter would refute files that match.
    val keyType = keys.schema.head.dataType
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    val conv: org.apache.spark.sql.Row => AnyRef = keyType match {
      case StringType => r =>
        if (r.isNullAt(0)) null
        else org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0))
      case LongType => r =>
        if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0))
      case IntegerType => r =>
        if (r.isNullAt(0)) null else java.lang.Integer.valueOf(r.getInt(0))
      case ShortType => r =>
        if (r.isNullAt(0)) null else java.lang.Short.valueOf(r.getShort(0))
      case ByteType => r =>
        if (r.isNullAt(0)) null else java.lang.Byte.valueOf(r.getByte(0))
      case DoubleType => r =>
        if (r.isNullAt(0)) null else java.lang.Double.valueOf(r.getDouble(0))
      case FloatType => r =>
        if (r.isNullAt(0)) null else java.lang.Float.valueOf(r.getFloat(0))
      case BooleanType => r =>
        if (r.isNullAt(0)) null else java.lang.Boolean.valueOf(r.getBoolean(0))
      case BinaryType => r =>
        if (r.isNullAt(0)) null else r.getAs[Array[Byte]](0)
      case dt: DecimalType => r =>
        if (r.isNullAt(0)) null
        else org.apache.spark.sql.types.Decimal(
          r.getDecimal(0), dt.precision, dt.scale)
      // Row surfaces either the legacy java.sql or the java8 types
      // depending on spark.sql.datetime.java8API.enabled — accept both
      case DateType => r =>
        if (r.isNullAt(0)) null
        else r.get(0) match {
          case d: java.sql.Date =>
            java.lang.Integer.valueOf(DateTimeUtils.fromJavaDate(d))
          case d: java.time.LocalDate =>
            java.lang.Integer.valueOf(DateTimeUtils.localDateToDays(d))
          case other => throw new IllegalStateException(
            s"unexpected DateType external value: ${other.getClass}")
        }
      case TimestampType => r =>
        if (r.isNullAt(0)) null
        else r.get(0) match {
          case t: java.sql.Timestamp =>
            java.lang.Long.valueOf(DateTimeUtils.fromJavaTimestamp(t))
          case t: java.time.Instant =>
            java.lang.Long.valueOf(DateTimeUtils.instantToMicros(t))
          case other => throw new IllegalStateException(
            s"unexpected TimestampType external value: ${other.getClass}")
        }
      case _ =>
        // every remaining type — arrays, structs, maps, nested
        // combinations — converts external→internal through
        // Catalyst's OWN converter, producing exactly the
        // ArrayData/InternalRow/MapData value the write side's
        // codegen'd xxhash64 hashed (XxHash64 is the engine's
        // hash-partitioning expression: it hashes every type). The
        // hand-rolled atomic paths above stay — they avoid the
        // converter allocation on the hot simple-key shapes — and
        // this generic tail closes what used to be a keep-all
        // (complex-typed bloom columns never pruned distributed)
        val c = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToCatalystConverter(keyType)
        r => if (r.isNullAt(0)) null else c(r.get(0)).asInstanceOf[AnyRef]
    }
    val words = keys
      .select(org.apache.spark.sql.functions.col(keys.columns.head))
      .mapPartitions { it =>
        // per-file filter for the probed column; files with no
        // usable filter are hit (kept) immediately — conservative
        val fl: Array[(Int, Array[Long])] = files.map(f =>
          load(f).flatMap { case (bits, cols) =>
            cols.get(colNameLocal).map(arr => (bits, arr))
          }.orNull)
        val hit = new Array[Boolean](n)
        var remaining = 0
        var i = 0
        while (i < n) {
          if (fl(i) == null) hit(i) = true else remaining += 1
          i += 1
        }
        val exprs = seeds.map(s => XxHash64(
          Seq(Literal(s), BoundReference(0, keyType, true)), 42L)).toArray
        val row = new GenericInternalRow(1)
        val hs = new Array[Long](exprs.length)
        while (it.hasNext && remaining > 0) {
          val r = it.next()
          val k = conv(r)
          if (k != null) {
            row.update(0, k)
            var s = 0
            while (s < exprs.length) {
              hs(s) = exprs(s).eval(row).asInstanceOf[Long]; s += 1
            }
            var j = 0
            while (j < n) {
              if (!hit(j)) {
                val (bits, arr) = fl(j)
                var all = true
                s = 0
                while (all && s < hs.length) {
                  val m0 = hs(s) % bits
                  val b = (if (m0 < 0) m0 + bits else m0).toInt
                  if ((arr(b / 64) & (1L << (b % 64))) == 0L) all = false
                  s += 1
                }
                if (all) { hit(j) = true; remaining -= 1 }
              }
              j += 1
            }
          }
        }
        val out = new Array[Long]((n + 63) / 64)
        i = 0
        while (i < n) {
          if (hit(i)) out(i >>> 6) |= 1L << (i & 63)
          i += 1
        }
        Iterator.single(out)
      }(enc)
      .collect()
    val acc = new Array[Long]((n + 63) / 64)
    words.foreach { w =>
      var i = 0
      while (i < acc.length) { acc(i) |= w(i); i += 1 }
    }
    filesAbs.zipWithIndex.collect {
      case (f, i) if (acc(i >>> 6) & (1L << (i & 63))) != 0L => f
    }
  }

  /** THE memoized bloom probe, shared by every caller: which of
    * `filesAbs` may contain ANY of `lits` in `colName`? Bucket ids
    * are memoized PER LITERAL per filter size — a large probe set
    * (the incremental-dedup signature fetch pushes one bsig per
    * batch band row) hashes each value 4 times total; per-file work
    * is pure bit tests. A missing sidecar, undeclared column or
    * damaged filter answers "may contain" — only ever conservative.
    */
  def pruneValues(colName: String, lits: Seq[Literal],
      filesAbs: Seq[String]): Seq[String] = {
    if (lits.isEmpty) return Seq.empty
    val bucketMemo = new java.util.HashMap[(Literal, Int), Seq[Int]]()
    filesAbs.filter { f =>
      load(f) match {
        case Some((bits, cols)) => cols.get(colName) match {
          case Some(arr) => lits.exists(l =>
            bucketMemo.computeIfAbsent((l, bits), k =>
              bucketsOf(k._1, k._2))
              .forall(b => (arr(b / 64) & (1L << (b % 64))) != 0L))
          case None => true
        }
        case None => true
      }
    }
  }
}
