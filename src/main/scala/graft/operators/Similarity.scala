package graft.operators

import graft.Tables
import graft.functions.VectorExprs
import graft.functions.VectorExprs.{vec_cosine, vec_dot, vec_l2sq, vec_norm}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (SURVEY.md §2.H).
  *
  * Scale posture: brute-force top-k broadcasts the query vector
  * (zero shuffle, one scan, TakeOrderedAndProject — the correct
  * baseline and the recall oracle for ANN). The IVF variant
  * clusters once (seeded, deterministic), then probes only
  * nprobe/k of the corpus — the standard coarse-quantizer ANN
  * layout; at 100 TB the centroid assignment is a broadcast hash
  * join on k centroids and probing prunes partitions.
  */
object Similarity {

  /** Exact top-k cosine neighbors of the vec_id=0 embedding.
    * Scores are decimal-rounded (6 places) before ranking so
    * ordering and output are engine-portable.
    */
  def annTopKBrute(spark: SparkSession, sfDir: String, k: Int = 10): DataFrame = {
    VectorExprs.register(spark)
    val emb = Tables.load(spark, sfDir, "embeddings")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val qCol = typedLit(q)
    emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("label"),
        round(vec_cosine(col("embedding"), qCol).cast("decimal(18,12)"), 6)
          .cast("double").as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Batch retrieval: exact top-k cosine neighbors for EACH query
    * vector (here: vec_id < nQueries as the query set). The query
    * side is broadcast; ranking is a per-query window — one corpus
    * scan total regardless of query count, the right shape for
    * serving embedding-search batches at scale.
    */
  def annTopKBatch(spark: SparkSession, sfDir: String,
      k: Int = 5, nQueries: Int = 5): DataFrame = {
    VectorExprs.register(spark)
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"), vec_norm(col("embedding")).as("nrm"))
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qnrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    emb.filter(col("vec_id") >= nQueries)
      .join(broadcast(queries))
      .select(col("query_id"), col("vec_id"),
        round((vec_dot(col("embedding"), col("qe")) / (col("nrm") * col("qnrm")))
          .cast("decimal(18,12)"), 6).cast("double").as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Embedding near-duplicate pairs: cosine ≥ threshold, candidates
    * blocked by the label column (metadata blocking — the exact-
    * recall counterpart of LSH bucketing; swap the key for a hash
    * bucket when no natural blocking key exists).
    */
  def embeddingNearDup(spark: SparkSession, sfDir: String,
      threshold: Double = 0.3): DataFrame = {
    // Precompute each vector's norm ONCE before the pair join: the
    // join then evaluates only the dot product per pair (vs 3 array
    // passes), and the per-vector work stays linear in corpus size.
    VectorExprs.register(spark)
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"),
        vec_norm(col("embedding")).as("nrm"))
    val a = emb.as("a"); val b = emb.as("b")
    a.join(b, col("a.label") === col("b.label") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round((vec_dot(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm"))).cast("decimal(18,12)"), 6)
          .cast("double").as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Random-hyperplane (SimHash-for-cosine) LSH near-dup pairs: the
    * scale path when NO natural blocking key exists. Each vector gets
    * a b-bit signature (sign of dot with b deterministic pseudo-
    * random hyperplanes); vectors agreeing on a band of bits land in
    * a bucket, pairs are verified with exact cosine. P(bit match) =
    * 1 − θ/π, so high-cosine pairs collide with high probability
    * while the bucket join only shuffles (band, signature) keys.
    * Hyperplanes derive from a seeded hash of (dim, plane) — no
    * driver-side randomness, reproducible across runs/cluster sizes.
    */
  def embeddingNearDupLsh(spark: SparkSession, sfDir: String,
      threshold: Double = 0.3, nBits: Int = 16, bands: Int = 4): DataFrame = {
    val r = nBits / bands
    VectorExprs.register(spark)
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"), vec_norm(col("embedding")).as("nrm"))
    // bit j = sign(Σ_d v[d] · h(j,d)) with h a deterministic ±1 hash.
    // Computed as posexplode + nBits codegen'd SUM aggregates (the
    // aggregates-over-postings shape — array HOF lambdas would run
    // interpreted outside whole-stage codegen).
    val posts = emb.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("d", "v")))
      .select(col("vec_id"), col("d"), col("v").cast("double").as("v"))
    val projAggs = (0 until nBits).map { j =>
      sum(when(pmod(xxhash64(lit(j), col("d")), lit(2)) === 0, col("v"))
        .otherwise(-col("v"))).as(s"p$j")
    }
    val projections = posts.groupBy(col("vec_id"))
      .agg(projAggs.head, projAggs.tail: _*)
    val bits = (0 until nBits).map(j =>
      when(col(s"p$j") >= 0, 1).otherwise(0).as(s"bit$j"))
    val sig = projections.join(emb, Seq("vec_id"))
      .select((Seq(col("vec_id"), col("embedding"), col("nrm")) ++ bits): _*)
    val banded = sig.select(col("vec_id"), col("embedding"), col("nrm"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          concat_ws("", (0 until r).map(i => col(s"bit${b * r + i}")): _*).as("bsig"))): _*))
        .as("bk"))
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b, col("a.bk") === col("b.bk") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round((vec_dot(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm"))).cast("decimal(18,12)"), 6)
          .cast("double").as("cos_sim"))
      .dropDuplicates("vec_a", "vec_b")
      .filter(col("cos_sim") >= threshold)
  }

  /** [[embeddingNearDupLsh]] with a PORTABLE hash family and EXACT
    * projection arithmetic, so the ENTIRE pipeline — hyperplane
    * signs, bit signatures, band bucketing, cosine verification —
    * replays bit-identically in the DuckDB oracle. Hyperplane j's
    * sign for dimension d is BIT j of the dimension's md5 residue
    * (one digest per posting row serves all nBits planes), and the
    * per-plane projection sums the 10⁶-scaled INTEGER coordinates —
    * a float sum's last-ULP order-sensitivity would flip borderline
    * sign bits between engines; integer sums cannot. The xxhash64
    * variant stays the fast path; this is the cross-engine-verifiable
    * spelling (the [[Dedup.minhashPortable]] posture applied to the
    * embedding family).
    */
  def embeddingNearDupLshPortable(spark: SparkSession, sfDir: String,
      threshold: Double = 0.3, nBits: Int = 16, bands: Int = 4): DataFrame = {
    require(nBits <= 60, "portable hyperplane family carries 60 bits")
    val r = nBits / bands
    VectorExprs.register(spark)
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"), vec_norm(col("embedding")).as("nrm"))
    val posts = emb.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("d", "v")))
      .select(col("vec_id"),
        Tables.md5Residue(col("d").cast("string")).as("h"),
        floor(col("v").cast("double") * 1000000.0).cast("long").as("vq"))
    val projAggs = (0 until nBits).map { j =>
      sum(when(shiftrightunsigned(col("h"), j).bitwiseAND(1) === 1,
        col("vq")).otherwise(-col("vq"))).as(s"p$j")
    }
    val projections = posts.groupBy(col("vec_id"))
      .agg(projAggs.head, projAggs.tail: _*)
    val bits = (0 until nBits).map(j =>
      when(col(s"p$j") >= 0, 1).otherwise(0).as(s"bit$j"))
    val sig = projections.join(emb, Seq("vec_id"))
      .select((Seq(col("vec_id"), col("embedding"), col("nrm")) ++ bits): _*)
    val banded = sig.select(col("vec_id"), col("embedding"), col("nrm"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          concat_ws("", (0 until r).map(i => col(s"bit${b * r + i}")): _*).as("bsig"))): _*))
        .as("bk"))
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b, col("a.bk") === col("b.bk") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round((vec_dot(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm"))).cast("decimal(18,12)"), 6)
          .cast("double").as("cos_sim"))
      .dropDuplicates("vec_a", "vec_b")
      .filter(col("cos_sim") >= threshold)
  }

  /** Int8-quantized top-k (scalar quantization, the memory-bound
    * scale path): each vector is quantized per-vector to 8-bit codes
    * (q_i = round(v_i / amax · 127), half-up), similarity is the
    * INTEGER dot product of codes normalized by integer code norms.
    * 4× less scan traffic and an exact-integer dot — at 100 TB the
    * quantized corpus is what stays hot; full-precision re-ranking
    * of the short list is the standard follow-up (`annTopKBrute` on
    * the survivors).
    *
    * Integer arithmetic is engine-exact, so the WHOLE index —
    * quantization, dot, norms, ranking — replays bit-identically in
    * the DuckDB oracle.
    */
  def annQuantizedTopK(spark: SparkSession, sfDir: String, k: Int = 10): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val amax = array_max(transform(col("embedding"),
      x => abs(x.cast("double"))))
    val q8 = emb
      .withColumn("amax", amax)
      .withColumn("qv", transform(col("embedding"), x =>
        when(col("amax") === 0.0, lit(0L)).otherwise(
          floor(x.cast("double") / col("amax") * 127.0 + 0.5).cast("long"))))
      .withColumn("qnormsq",
        aggregate(col("qv"), lit(0L), (acc, x) => acc + x * x))
      .select(col("vec_id"), col("label"), col("qv"), col("qnormsq"))
    val qRow = q8.filter(col("vec_id") === 0)
      .select(col("qv"), col("qnormsq")).head()
    val qv = qRow.getSeq[Long](0); val qn = qRow.getLong(1)
    q8.filter(col("vec_id") =!= 0)
      .withColumn("dotq",
        aggregate(zip_with(col("qv"), typedLit(qv), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x))
      .select(col("vec_id"), col("label"),
        round((col("dotq").cast("double") /
          (sqrt(col("qnormsq").cast("double")) * sqrt(lit(qn.toDouble))))
          .cast("decimal(18,12)"), 6).cast("double").as("q_cos_sim"))
      .orderBy(col("q_cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** IVF with TRAINED centroids: k-means (Lloyd) iterations refine
    * the coarse quantizer before indexing, then nprobe cells are
    * searched and survivors re-ranked with EXACT cosine on the
    * full-precision vectors — the production IVF-flat layout
    * (train → assign → probe → re-rank).
    *
    * All k-means arithmetic runs in scaled integers (qv_i =
    * floor(v_i·10^6); centroid_i = floor(mean)): exact under any
    * partitioning AND engine-portable, so train/assign/probe all
    * replay bit-identically in the DuckDB oracle — no FP-mean drift.
    *
    * Scale posture: each iteration is one broadcast of k·dim longs
    * out, one map-side argmin, one (cent,dim)-grouped partial-agg
    * shuffle back; the driver only ever holds the k·dim centroid
    * table (here 16×64 longs). Assignment and probing never shuffle
    * the vectors themselves.
    */
  // codegen'd integer L2 (VecL2SqLong) — the zip_with/aggregate HOF
  // spelling runs interpreted and kmeans evaluates this k× per vector
  private def intL2(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    VectorExprs.vec_l2sq_long(a, b)

  /** k-means (Lloyd) over the integer-quantized embeddings; returns
    * (final centroid table, per-vector assignment frame). All
    * arithmetic in scaled integers — exact under any partitioning and
    * engine-portable.
    *
    * Scale shape: the quantized corpus is PERSISTED once (at 100 TB
    * each Lloyd iteration would otherwise rescan and re-quantize it);
    * the k centroids ride into each assignment as LITERALS, so the
    * per-vector argmin is a pure projection (`array_min` over k
    * struct(dist, id) candidates — min dist, ties to the lower id) —
    * zero shuffle, no k× row inflation. The only shuffle per
    * iteration is the (cent,dim) partial-agg for the new means; the
    * driver only ever holds the k·dim centroid table.
    */
  private[graft] def kmeansFit(spark: SparkSession, sfDir: String,
      nCentroids: Int, iters: Int)
      : (Seq[(Int, Seq[Long])], DataFrame, () => Unit) =
    kmeansFitOf(spark, Tables.load(spark, sfDir, "embeddings"),
      nCentroids, iters)

  /** Returns (centroids, assigned frame, RELEASE thunk). The release
    * thunk unpersists the quantized-corpus cache Lloyd trained over —
    * callers MUST invoke it once the assignment frame's consumers
    * have run. The thunk (not `assigned.unpersist()`) is the only
    * correct release: the returned frame is DERIVED from the cached
    * one (`withColumn`), and unpersisting a derived Dataset is a
    * silent no-op (Spark's cache manager unpersists by plan identity,
    * cascade only covers sameResult plans) — the leak every caller
    * had before the thunk existed.
    */
  private[graft] def kmeansFitOf(spark: SparkSession, emb0: DataFrame,
      nCentroids: Int, iters: Int)
      : (Seq[(Int, Seq[Long])], DataFrame, () => Unit) = {
    VectorExprs.register(spark)
    // label is a passenger column (carried for the serving layer's
    // result rows) — a label-less feed trains and assigns identically
    val emb = if (emb0.columns.contains("label")) emb0
      else emb0.withColumn("label", lit(null).cast("string"))
    val qemb = emb.select(col("vec_id"), col("label"), col("embedding"),
      transform(col("embedding"),
        x => floor(x.cast("double") * 1000000.0).cast("long")).as("qv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // a failure mid-Lloyd releases the corpus cache instead of
    // stranding it (the SUCCESS return hands the persisted frame to
    // the caller, whose contract is to unpersist when done)
    try {
    // init: first nCentroids vectors by vec_id (deterministic seed)
    var cents: Seq[(Int, Seq[Long])] = qemb.orderBy(col("vec_id"))
      .limit(nCentroids).select(col("qv")).collect()
      .toSeq.zipWithIndex.map { case (r, i) => (i, r.getSeq[Long](0)) }
    def assign() = {
      val candidates = array(cents.map { case (cid, v) =>
        struct(intL2(col("qv"), typedLit(v)).as("d"),
          lit(cid).as("cent_id"))
      }.toIndexedSeq: _*)
      qemb.withColumn("cent_id", array_min(candidates).getField("cent_id"))
    }
    for (_ <- 1 to iters) {
      // Lloyd step: integer-mean per (centroid, dimension); empty
      // clusters drop out (both engines agree — no re-seeding)
      val dims = assign()
        .select(col("cent_id"), posexplode(col("qv")).as(Seq("d", "v")))
        .groupBy(col("cent_id"), col("d"))
        .agg(floor(sum(col("v")).cast("double") / count(lit(1))).as("m"))
        .collect()
      cents = dims.groupBy(_.getInt(0)).toSeq.map { case (cid, rows) =>
        (cid, rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq)
      }.sortBy(_._1)
    }
    (cents, assign(), () => { qemb.unpersist(): Unit })
    } catch { case t: Throwable =>
      qemb.unpersist()
      throw t
    }
  }

  /** Distributed document/embedding clustering as a first-class
    * output: k-means cluster id + size per cluster (the corpus-
    * curation view: topic balance, cluster-based filtering/sampling).
    */
  def embeddingKmeans(spark: SparkSession, sfDir: String,
      nCentroids: Int = 16, iters: Int = 2): DataFrame = {
    val (_, assigned, release) = kmeansFit(spark, sfDir, nCentroids,
      iters)
    // localize the (≤k-row) cluster pane, then RELEASE the Lloyd
    // corpus cache — returning a lazy (or persisted-but-never-
    // released) frame would leak one block-manager entry per
    // invocation; the bench process calls this repeatedly and
    // accumulated caches evict-churn every later query
    val out = assigned.groupBy(col("cent_id"))
      .agg(count(lit(1)).cast("long").as("n_vecs"),
        min(col("vec_id")).as("min_vec"), max(col("vec_id")).as("max_vec"))
    val rows = out.collect().toIndexedSeq
    release()
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      out.schema)
  }

  /** SEMANTIC DEDUP (the SemDeDup shape, Abbas et al. 2023): k-means
    * cluster the embedding space (the same exact-integer Lloyd as
    * [[embeddingKmeans]]), find near-duplicate pairs ONLY within each
    * cluster (full-precision cosine ≥ τ, decimal-rounded like every
    * cosine here), resolve pairs to connected components and keep the
    * minimum vec_id per component — every vector gets a (vec_id,
    * canonical_id, keep/drop) verdict. The within-cluster restriction
    * IS the method's approximation (cross-cluster near-dups are
    * missed by design) and the oracle replays exactly it, so the
    * check is exact.
    *
    * Scale shape: the pairwise step is O(Σ clusterᵢ²), not O(n²) —
    * k grows with the corpus so clusters stay bounded; the self-join
    * shuffles once on cent_id and only (vec_id, embedding) pairs
    * cross; components resolve over the (sparse) near-dup graph only.
    */
  def semanticDedup(spark: SparkSession, sfDir: String,
      nCentroids: Int = 16, iters: Int = 2,
      tau: Double = 0.3): DataFrame = {
    VectorExprs.register(spark)
    val emb = Tables.load(spark, sfDir, "embeddings")
    val (_, assignedRaw, release) = kmeansFitOf(spark, emb,
      nCentroids, iters)
    // the connected components inside the verdict kernel EXECUTE here
    // (per-round localCheckpoint), while the Lloyd corpus cache is
    // still warm; after that the cache's job is done — release it and
    // return the lazy verdict plan (consumption re-derives the
    // map-side assignment in one corpus pass; verdicts are corpus-
    // sized, so a driver collect is not an option, and a returned
    // persisted frame would leak one entry per bench invocation)
    val out = semanticVerdictsOf(assignedRaw, tau)
    out.count() // drives the CC rounds against the warm cache
    release()
    out
  }

  /** [[semanticDedup]] against a PERSISTED IVF(-PQ) index's own
    * cells: the clustering is the index's maintained geometry —
    * vectors that arrived through `ivfIndexIngest`/`ivfPqIndexIngest`
    * are already assigned, and a skew-triggered rebalance refreshes
    * the geometry the next verdict set rides. No retraining, no
    * corpus re-scan: the dedup pass is the within-cell pairwise join
    * plus components, exactly the batch operator's shape. Spec-pinned
    * ≡ [[semanticDedup]] when the index was built over the same
    * corpus with the same Lloyd parameters.
    */
  def semanticDedupIndexed(spark: SparkSession, indexPath: String,
      tau: Double = 0.3): DataFrame = {
    VectorExprs.register(spark)
    semanticVerdictsOf(graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(indexPath, "assignments").toString)
      .snapshot(), tau)
  }

  private val semIdxStages =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** Driver scenario for [[semanticDedupIndexed]]: the IVF index
    * builds ONCE per process over the corpus embeddings (the same
    * Lloyd parameters as [[semanticDedup]], so the SAME oracle
    * checks both paths); every invocation times the INDEX-RIDING
    * verdict pass — the steady-state cost once the index exists.
    */
  def semanticDedupIndexedScenario(spark: SparkSession,
      sfDir: String): DataFrame = {
    val stage = semIdxStages.computeIfAbsent(sfDir, _ => {
      val st = java.nio.file.Files.createTempDirectory("graft_semidx_")
      ivfIndexBuild(spark, st.resolve("idx").toString,
        Tables.load(spark, sfDir, "embeddings"))
      st
    })
    semanticDedupIndexed(spark, stage.resolve("idx").toString)
  }

  /** Hot-cell quadratic guard (default cap for every semantic-dedup
    * entry point): within-cell pairing is O(c²) per cell, and while
    * rebalance bounds *skew*, a legitimately dense semantic cluster
    * (boilerplate-like embedding mass — exactly what dedup exists to
    * find) makes one cell quadratic with no cap. 64k² ≈ 4G candidate
    * pairs is past any sane per-cell budget, and corpora below it
    * are untouched.
    */
  val defaultMaxCellSize: Int = 65536

  /** Restrict the LOW-ID side of within-cell pairing to each
    * over-cap cell's HUB — its `maxCellSize` lowest vec_ids — so a
    * dense cell costs O(c · cap) candidate pairs instead of O(c²)
    * (the [[Dedup]] family's `maxShingleDf` treatment, applied to
    * cells). Correctness shape: verdicts come from CONNECTED
    * COMPONENTS, which need a spanning candidate structure, not all
    * pairs — for the homogeneous dense mass that makes a cell
    * quadratic (every member a near-dup of every other), each member
    * still pairs with the cell's minimum-id member, so components
    * and min-id canonicals are IDENTICAL to the uncapped kernel.
    * Survivor pairs are exact-rescored (full-precision cosine ≥ τ)
    * as always; what a cap can lose is pairs between two non-hub
    * members whose groups never touch the hub — the documented
    * approximation, mirror of Lloyd-subsplit/ADC-prefilter schemes
    * that also cannot bound the all-identical case. Cells at or
    * under the cap are EXACTLY the uncapped kernel (every rank ≤
    * cap). One O(cells) count aggregate decides; balanced corpora
    * never pay the window.
    */
  private def capCells(assigned: DataFrame, maxCellSize: Int): DataFrame = {
    if (maxCellSize <= 0 || maxCellSize == Int.MaxValue) return assigned
    val over = assigned.groupBy(col("cent_id")).count()
      .where(col("count") > maxCellSize).select(col("cent_id"))
      .collect().map(_.get(0))
    if (over.isEmpty) assigned
    else {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"[graft] semantic dedup: ${over.length} cell(s) over " +
          s"$maxCellSize members — pairing against each cell's " +
          s"lowest-$maxCellSize hub (O(c*cap), not O(c^2))")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cent_id")).orderBy(col("vec_id"))
      if (over.length <= 64) {
        val hub = assigned.where(col("cent_id").isin(over: _*))
          .withColumn("__r", row_number().over(w))
          .where(col("__r") <= maxCellSize).drop("__r")
        assigned.where(!col("cent_id").isin(over: _*)).unionByName(hub)
      } else {
        // many hot cells: an O(|over|)-literal In predicate evaluated
        // per row is a pathological plan — mark membership through a
        // broadcast join on a (cent_id) frame instead
        val spark = assigned.sparkSession
        val dt = assigned.schema("cent_id").dataType
        val overDf = spark.createDataFrame(
          spark.sparkContext.parallelize(
            over.map(org.apache.spark.sql.Row(_)).toIndexedSeq, 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("cent_id", dt))))
          .withColumn("__over", lit(true))
        val marked = assigned.join(broadcast(overDf), Seq("cent_id"), "left")
        val hub = marked.where(col("__over")).drop("__over")
          .withColumn("__r", row_number().over(w))
          .where(col("__r") <= maxCellSize).drop("__r")
        marked.where(col("__over").isNull).drop("__over")
          .unionByName(hub)
      }
    }
  }

  /** Within-cell cosine pairs ≥ τ over an assigned (vec_id,
    * embedding, cent_id) frame, hot cells hub-capped ([[capCells]]).
    * Orientation vec_a < vec_b (each pair once: the hub holds the
    * cell's LOWEST ids, so the a-leg is always the hub leg).
    */
  private[graft] def semanticPairsOf(assigned: DataFrame, tau: Double,
      maxCellSize: Int = defaultMaxCellSize): DataFrame = {
    val a = capCells(assigned, maxCellSize)
      .select(col("cent_id"), col("vec_id").as("vec_a"),
        col("embedding").as("emb_a"))
    val b = assigned
      .select(col("cent_id"), col("vec_id").as("vec_b"),
        col("embedding").as("emb_b"))
    a.join(b, Seq("cent_id"))
      .where(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(vec_cosine(col("emb_a"), col("emb_b"))
          .cast("decimal(18,12)"), 6).cast("double").as("cs"))
      .where(col("cs") >= tau)
  }

  /** Shared verdict kernel: within-cell cosine pairs ≥ τ over an
    * assigned (vec_id, embedding, cent_id) frame → connected
    * components → min-id canonical per component, one verdict per
    * member vector.
    */
  private def semanticVerdictsOf(assigned: DataFrame,
      tau: Double, maxCellSize: Int = defaultMaxCellSize): DataFrame = {
    val pairs = semanticPairsOf(assigned, tau, maxCellSize)
    val cc = Dedup.connectedComponents(
      pairs.select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
    assigned.select(col("vec_id"))
      .join(cc.select(col("doc_id").as("vec_id"), col("cluster_id")),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster_id"), col("vec_id")).as("canonical_id"))
      .withColumn("action",
        when(col("canonical_id") === col("vec_id"), "keep")
          .otherwise("drop"))
  }

  /** SEMANTIC SCREEN for admission control ([[Dedup.admitBatch]]'s
    * embedding leg): assign an arriving batch MAP-SIDE against a
    * persisted IVF index's stored centroids, then surface cosine ≥ τ
    * pairs between the batch and the index's members of the TOUCHED
    * cells only — the stored read prunes to those cells' partitions
    * (≤k driver ints), so per-batch semantic I/O is O(batch + touched
    * cells), never O(corpus). Intra-batch pairs surface too (the
    * batch joins its own cell population), each pair once
    * (least/greatest + distinct). Hot cells hub-cap exactly like the
    * batch kernel ([[capCells]] over stored ∪ batch). Returns
    * (doc_a, doc_b) with doc_a < doc_b, at least one side from the
    * batch. READ-ONLY — the caller ingests the batch separately
    * (exactly-once, [[ivfIndexIngest]]).
    */
  private[graft] def semanticScreenPairs(spark: SparkSession,
      indexPath: String, batchVecs: DataFrame, tau: Double,
      maxCellSize: Int = defaultMaxCellSize): DataFrame = {
    VectorExprs.register(spark)
    val cents = loadCents(spark, indexPath)
    // SINGLE EVALUATION (the batchRouted posture): the assignment
    // pins through an eager localCheckpoint BEFORE the touched-cell
    // set collects, so the collected set and the pair join consume
    // the same frozen rows — a batch frame that re-evaluates
    // differently (sample()/rand-derived, or recomputed cache blocks
    // against a moved upstream) could otherwise route rows into
    // cells outside `touched`, whose stored members were pruned
    // away, and drop near-dup pairs with no error. Also saves the
    // second batch scan+quantize the lazy spelling paid.
    val batchAsg = assignToCents(batchVecs, cents)
      .select(col("vec_id"), col("embedding"), col("cent_id"))
      .localCheckpoint(true)
    val touched = batchAsg.select(col("cent_id")).distinct()
      .collect().map(r => Integer.valueOf(r.getInt(0)))
    // VERSION-PINNED stored read: the returned pair plan reads the
    // pre-ingest assignments whenever it is evaluated, so the caller
    // no longer needs an eager materializing count between the screen
    // and its own ingest (guide §1.2 — admitBatch paid one
    // batch-sized count action per semantic screen for that ordering)
    val asgPath = java.nio.file.Paths.get(indexPath, "assignments").toString
    val asgV = graft.tables.GraftTable.load(spark, asgPath).latestVersion
    val stored = spark.read.format("graft-table")
      .option("versionAsOf", asgV)
      .load(asgPath)
      .where(col("cent_id").isin(touched.toIndexedSeq: _*))
      .select(col("vec_id"), col("embedding"), col("cent_id"))
    val all = capCells(stored.unionByName(batchAsg), maxCellSize)
      .select(col("cent_id"), col("vec_id").as("vec_b"),
        col("embedding").as("emb_b"))
    batchAsg
      .select(col("cent_id"), col("vec_id").as("vec_a"),
        col("embedding").as("emb_a"))
      .join(all, Seq("cent_id"))
      .where(col("vec_a") =!= col("vec_b"))
      .where(round(vec_cosine(col("emb_a"), col("emb_b"))
        .cast("decimal(18,12)"), 6).cast("double") >= tau)
      .select(least(col("vec_a"), col("vec_b")).as("doc_a"),
        greatest(col("vec_a"), col("vec_b")).as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
  }

  def annIvfTrained(spark: SparkSession, sfDir: String, k: Int = 10,
      nCentroids: Int = 16, nprobe: Int = 4, iters: Int = 2): DataFrame = {
    import spark.implicits._
    VectorExprs.register(spark)
    val (cents, assignedRaw, release) = kmeansFit(spark, sfDir,
      nCentroids, iters)
    val assigned = assignedRaw
      .select(col("vec_id"), col("label"), col("embedding"), col("cent_id"))
    val qRow = assignedRaw.filter(col("vec_id") === 0)
      .select(col("qv"), col("embedding")).head()
    val qQv = typedLit(qRow.getSeq[Long](0))
    val qVec = typedLit(qRow.getSeq[Float](1))
    val probeCells = cents.toDF("cent_id", "cent")
      .withColumn("d", intL2(col("cent"), qQv))
      .orderBy(col("d"), col("cent_id")).limit(nprobe)
      .select(col("cent_id"))
    // re-rank the probed candidates with exact full-precision cosine;
    // the ≤k result localizes so the Lloyd corpus cache releases
    // before return (a lazy return over the cache would either leak
    // it or re-scan the corpus on consumption)
    val out = assigned.join(broadcast(probeCells), Seq("cent_id"))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("label"),
        round(vec_cosine(col("embedding"), qVec).cast("decimal(18,12)"), 6)
          .cast("double").as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
    val rows = out.collect().toIndexedSeq
    release()
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      out.schema)
  }

  /** Two-stage retrieval (the standard ANN serving layout): a cheap
    * int8-quantized scan produces a `shortlist`, full-precision
    * cosine re-ranks only those survivors to the final top-k. The
    * scan stays memory-bound on 8-bit codes; the expensive exact
    * math touches `shortlist` rows, not the corpus. Both stages are
    * integer/decimal-exact → the whole cascade replays in DuckDB.
    */
  def annQuantizedRerank(spark: SparkSession, sfDir: String,
      k: Int = 10, shortlist: Int = 50): DataFrame = {
    VectorExprs.register(spark)
    val short = annQuantizedTopK(spark, sfDir, shortlist).select(col("vec_id"))
    val emb = Tables.load(spark, sfDir, "embeddings")
    val qVec = typedLit(emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0))
    emb.join(short, Seq("vec_id"))
      .select(col("vec_id"), col("label"),
        round(vec_cosine(col("embedding"), qVec).cast("decimal(18,12)"), 6)
          .cast("double").as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Product-quantization ANN (PQ/ADC): split each vector into m
    * subspaces, encode every subvector as its nearest codebook entry
    * (m codes of log2(ksub) bits — 8 bytes/vector here vs 256 for
    * the raw floats), then answer queries with the ASYMMETRIC
    * distance: per-subspace lookup tables from the query to every
    * codebook entry, approx distance = Σ table[code]. The scan reads
    * only codes; at 100 TB the code table is what stays resident,
    * the standard memory-bound ANN layout (Jégou et al., PQ).
    *
    * Codebooks are deterministic (first ksub vectors' subvectors —
    * the integer-Lloyd trainer from kmeansFit slots in per subspace)
    * and all arithmetic is scaled-integer, so encode, tables and
    * ranking replay bit-identically in the DuckDB oracle.
    */
  def annPqTopK(spark: SparkSession, sfDir: String, k: Int = 10,
      m: Int = 8, ksub: Int = 16): DataFrame = {
    import spark.implicits._
    VectorExprs.register(spark)
    val emb = Tables.load(spark, sfDir, "embeddings")
    val qemb = emb.select(col("vec_id"), col("label"),
      transform(col("embedding"),
        x => floor(x.cast("double") * 1000000.0).cast("long")).as("qv"))
    val dim = qemb.select(size(col("qv"))).head().getInt(0)
    require(dim % m == 0,
      s"PQ needs dim divisible by m: dim=$dim, m=$m")
    val sub = dim / m
    // codebook: subvectors of the first ksub vectors (driver holds
    // ksub·dim longs); j is the codebook index within each subspace
    val seeds = qemb.orderBy(col("vec_id")).limit(ksub)
      .select(col("qv")).collect().map(_.getSeq[Long](0))
    require(seeds.length >= ksub,
      s"PQ needs at least ksub=$ksub seed vectors, got ${seeds.length}")
    val codebook = for (s <- 0 until m; j <- 0 until ksub)
      yield (s, j, seeds(j).slice(s * sub, (s + 1) * sub))
    val cbDf = broadcast(codebook.toDF("s", "j", "cent"))
    // encode: explode each vector into its m subvectors, broadcast-join
    // the codebook, argmin via min(struct(dist, j)) — partial-agg
    // friendly and deterministically tie-broken by j
    val subvecs = qemb.select(col("vec_id"), col("qv"),
        explode(array((0 until m).map(s =>
          struct(lit(s).as("s"), slice(col("qv"), s * sub + 1, sub).as("sv"))): _*)).as("x"))
      .select(col("vec_id"), col("x.s").as("s"), col("x.sv").as("sv"))
    val codes = subvecs.join(cbDf, Seq("s"))
      .groupBy(col("vec_id"), col("s"))
      .agg(min(struct(VectorExprs.vec_l2sq_long(col("sv"), col("cent")).as("d"),
        col("j").as("j"))).as("best"))
      .select(col("vec_id"), col("s"), col("best.j").as("code"))
    // ADC lookup tables: distance from the QUERY's subvectors to every
    // codebook entry — ksub·m integers, computed on the driver
    val qv = qemb.filter(col("vec_id") === 0).select(col("qv"))
      .head().getSeq[Long](0)
    val dt = codebook.map { case (s, j, cent) =>
      val qs = qv.slice(s * sub, (s + 1) * sub)
      var acc = 0L; var i = 0
      while (i < sub) { val d = qs(i) - cent(i); acc += d * d; i += 1 }
      (s, j, acc)
    }
    val dtDf = broadcast(dt.toDF("s", "code", "d"))
    codes.join(dtDf, Seq("s", "code"))
      .groupBy(col("vec_id"))
      .agg(sum(col("d")).as("approx_dist"))
      .filter(col("vec_id") =!= 0)
      .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
      .select(col("vec_id"), col("label"), col("approx_dist"))
      .orderBy(col("approx_dist"), col("vec_id"))
      .limit(k)
  }

  /** IVF-flat ANN: deterministic seeded centroids (first nCentroids
    * vectors by vec_id — a fixed coarse quantizer), assign every
    * vector to its nearest centroid (broadcast join), then search
    * only the nprobe centroids closest to the query. Returns exact
    * cosine scores within the probed cells.
    */
  def annIvf(spark: SparkSession, sfDir: String, k: Int = 10,
      nCentroids: Int = 16, nprobe: Int = 4): DataFrame = {
    VectorExprs.register(spark)
    val emb = Tables.load(spark, sfDir, "embeddings")
    val cents = emb.orderBy(col("vec_id")).limit(nCentroids)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent"))
    // centroids ride into the assignment as LITERALS (k·dim driver
    // floats), so the per-vector argmin is a pure map-side projection
    // — `array_min` over k struct(dist, id) candidates, min distance
    // with ties to the lower id — instead of a k× crossJoin row
    // inflation plus a window shuffle per vector (the kmeansFit
    // assignment shape; distances come from the same codegen'd
    // VecL2Sq, so the assignment is value-identical)
    val centLit = cents.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val candidates = array(centLit.map { case (cid, v) =>
      struct(vec_l2sq(col("embedding"), typedLit(v)).as("d"),
        lit(cid).as("cent_id"))
    }.toIndexedSeq: _*)
    val assigned = emb
      .withColumn("cent_id", array_min(candidates).getField("cent_id"))
      .select(col("vec_id"), col("label"), col("embedding"), col("cent_id"))
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val qCol = typedLit(q)
    val probeCells = cents
      .withColumn("d", vec_l2sq(col("cent"), qCol))
      .orderBy(col("d"), col("cent_id")).limit(nprobe)
      .select(col("cent_id"))
    assigned.join(broadcast(probeCells), Seq("cent_id"))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("label"),
        round(vec_cosine(col("embedding"), qCol).cast("decimal(18,12)"), 6)
          .cast("double").as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  // ---- persisted IVF index + incremental ingestion ----------------------

  private def quantize(c: org.apache.spark.sql.Column) =
    transform(c, x => floor(x.cast("double") * 1000000.0).cast("long"))

  private[graft] def assignToCents(vecs: DataFrame,
      cents: Seq[(Int, Seq[Long])]): DataFrame = {
    // quantize ONCE into a column — the interpreted HOF transform has
    // no codegen and no subexpression elimination, so spelling it
    // inside each of the k candidates would cost k array passes/row
    val candidates = array(cents.map { case (cid, v) =>
      struct(intL2(col("__qv"), typedLit(v)).as("d"),
        lit(cid).as("cent_id"))
    }.toIndexedSeq: _*)
    // preserve EVERY input column (an IVF+PQ index's rows carry their
    // codes through re-assignment — codes are codebook-relative, not
    // cell-relative, so a rebalance must not strip them)
    val keep = vecs.columns.filterNot(_ == "cent_id").map(col).toIndexedSeq
    vecs.withColumn("__qv", quantize(col("embedding")))
      .withColumn("cent_id", array_min(candidates).getField("cent_id"))
      .select(keep :+ col("cent_id"): _*)
  }

  private[graft] def loadCents(spark: SparkSession, indexPath: String)
      : Seq[(Int, Seq[Long])] =
    graft.tables.GraftTable
      .load(spark, java.nio.file.Paths.get(indexPath, "centroids").toString)
      .snapshot().collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1))).sortBy(_._1).toSeq

  /** PERSISTED IVF index — the serving-side ANN layout a 100 TB
    * corpus needs: centroids train ONCE (exact-integer Lloyd over the
    * seed corpus) and persist alongside the cell assignments, the
    * latter as a GraftTable PARTITIONED BY cent_id — a query probing
    * nprobe cells reads exactly those partitions' files (commit-log
    * partition pruning), not the corpus.
    */
  def ivfIndexBuild(spark: SparkSession, indexPath: String,
      seed: DataFrame, nCentroids: Int = 16, iters: Int = 2): Unit = {
    import spark.implicits._
    import graft.tables.GraftTable
    val (cents, assignedRaw, release) = kmeansFitOf(spark, seed,
      nCentroids, iters)
    GraftTable.create(spark,
      java.nio.file.Paths.get(indexPath, "centroids").toString,
      cents.toDF("cent_id", "cent"))
    GraftTable.create(spark,
      java.nio.file.Paths.get(indexPath, "assignments").toString,
      assignedRaw.select(col("vec_id"), col("label"), col("embedding"),
        col("cent_id")),
      partitionBy = Seq("cent_id"))
    // the assignments are materialized in the table now — release the
    // quantized-corpus cache kmeansFitOf persisted for Lloyd
    release()
  }

  /** Idempotency key for exactly-once IVF ingest ([[ivfIndexIngest]]
    * with `batchId` ≥ 0 — the admission path's index append). */
  val ivfIngestAppId = "graft-ivf-ingest"

  /** Conform an ingest frame to the index's stored schema: columns
    * the index declares but the batch lacks (label on a label-less
    * feed) land null; column order normalizes. A genuinely FOREIGN
    * extra column refuses loudly — silently projecting it away would
    * accept a misspelled column (its intended slot null-filled) with
    * no error.
    */
  private def conformToIndex(rows: DataFrame,
      t: graft.tables.GraftTable): DataFrame = {
    val schema = t.snapshot().schema
    val extra = rows.columns.filterNot(schema.fieldNames.contains)
    require(extra.isEmpty,
      s"ingest frame carries column(s) the index does not declare: " +
        s"${extra.mkString(", ")} (index schema: " +
        s"${schema.fieldNames.mkString(", ")})")
    schema.fields.foldLeft(rows) { (d, f) =>
      if (d.columns.contains(f.name)) d
      else d.withColumn(f.name, lit(null).cast(f.dataType))
    }.select(schema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** Whether the index at `path` is the IVF+PQ family (a persisted
    * codebook subtable exists) — the ONE family-dispatch predicate
    * [[indexIngest]], [[indexQuery]] and the ann_search TVF share.
    */
  def isPqIndex(indexPath: String): Boolean =
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(indexPath, "pq", "_graft_log"))

  /** Family-dispatching query front door: IVF+PQ indexes answer
    * through the ADC shortlist + exact re-rank, flat IVF through the
    * probed-cell exact scan — the serve-side twin of [[indexIngest]].
    */
  def indexQuery(spark: SparkSession, indexPath: String,
      queryVec: Seq[Float], k: Int = 10, nprobe: Int = 4,
      excludeVecId: Long = -1L,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame =
    if (isPqIndex(indexPath))
      ivfPqIndexQuery(spark, indexPath, queryVec, k = k, nprobe = nprobe,
        excludeVecId = excludeVecId, filter = filter)
    else ivfIndexQuery(spark, indexPath, queryVec, k = k, nprobe = nprobe,
      excludeVecId = excludeVecId, filter = filter)

  // (index path, committed version, predicate SQL) → (total,
  // matching): the counts are a pure function of that key, so the
  // steady-state filtered serve pays the counting scan once per
  // (index version, filter shape) instead of per query. Bounded —
  // clears wholesale past 256 shapes (a serving layer reuses a
  // handful; unbounded filter text would otherwise leak).
  private val selectivityMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, String),
      (Long, Long)]()
  // counting-scan observability for the memo spec
  private[graft] val selectivityScans =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** FILTERED-SEARCH probe expansion: a metadata predicate shrinks
    * each probed cell's usable population, so a fixed nprobe would
    * return fewer than k filtered survivors exactly when the filter
    * is selective. Scale nprobe by the predicate's measured
    * selectivity — ceil(nprobe · total / matching), exact integer
    * arithmetic over exact counts (engine-portable: an oracle replays
    * the same expansion relationally), capped at the cell count. The
    * counting pass reads ONLY the filter's columns (column pruning)
    * and MEMOIZES per (index path, committed version, predicate SQL)
    * — an ingest or rebalance bumps the version and naturally
    * invalidates. A filter matching nothing probes everything and
    * returns empty rather than guessing.
    */
  private def filteredNprobe(spark: SparkSession, asgPath: String,
      filter: Option[org.apache.spark.sql.Column], nprobe: Int,
      nCells: Int): Int = filter match {
    case None => nprobe
    case Some(f) =>
      val t = graft.tables.GraftTable.load(spark, asgPath)
      val version = t.latestVersion
      if (selectivityMemo.size > 256) selectivityMemo.clear()
      // Column.toString is the expression's canonical text — stable
      // for equal constructions, the memo's predicate identity
      val (total, matching) = selectivityMemo.computeIfAbsent(
        (asgPath, version, f.toString), _ => {
          selectivityScans.incrementAndGet()
          // count over the PINNED snapshot of the memo-key version —
          // a concurrent ingest committing between the version read
          // and the scan must not cache post-ingest counts under the
          // pre-ingest key (wrong selectivity until the next bump)
          val r = t.snapshotAt(version)
            .agg(count(lit(1)).as("t"), count(when(f, 1)).as("m")).head()
          (r.getLong(0), r.getLong(1))
        })
      if (matching <= 0L) nCells
      else math.min(nCells.toLong,
        (nprobe.toLong * total + matching - 1L) / matching).toInt
  }

  /** INCREMENTAL ingestion into a built index: new vectors assign
    * MAP-SIDE against the ≤k stored centroid literals (no retrain, no
    * corpus re-scan — one projection + a partition-aligned append).
    * The assignment rule is the same exact-integer argmin the build
    * used, so an ingested vector lands exactly where a full rebuild
    * would put it. `batchId` ≥ 0 makes the append IDEMPOTENT under
    * replay (appendIfNew keyed by `appId` — pass a per-pipeline id
    * when several batch-id sequences share one index, the
    * sigs/shingles lesson).
    */
  def ivfIndexIngest(spark: SparkSession, indexPath: String,
      vecs: DataFrame, batchId: Long = -1L,
      appId: String = ivfIngestAppId): Unit = {
    val cents = loadCents(spark, indexPath)
    val t = graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(indexPath, "assignments").toString)
    val rows = conformToIndex(assignToCents(vecs, cents), t)
    if (batchId >= 0L) t.appendIfNew(rows, batchId, appId = appId): Unit
    else t.append(rows): Unit
  }

  /** Family-dispatching ingest front door: an IVF+PQ index (a `pq`
    * subtable exists) additionally PQ-encodes the batch against the
    * stored codebook; a flat IVF index assigns only. Both exactly-once
    * under `batchId` ≥ 0 — the one call admission needs without
    * knowing which index family it screens against.
    */
  def indexIngest(spark: SparkSession, indexPath: String,
      vecs: DataFrame, batchId: Long = -1L,
      appId: String = ivfIngestAppId): Unit =
    if (isPqIndex(indexPath))
      ivfPqIndexIngest(spark, indexPath, vecs, batchId, appId)
    else ivfIndexIngest(spark, indexPath, vecs, batchId, appId)

  /** PERSISTED IVF+PQ index (Jégou et al.'s IVFADC, the industrial
    * ANN layout): the coarse quantizer is the trained-IVF build
    * ([[ivfIndexBuild]]'s exact-integer Lloyd, assignments
    * PARTITIONED BY cent_id), and every member additionally carries
    * its m-subspace PQ CODE — so a query reads the probed cells'
    * (vec_id, codes) pages only (parquet column pruning keeps the
    * raw embeddings unread), ranks by asymmetric distance over a
    * broadcast lookup table, and re-reads full vectors for just the
    * shortlist's exact re-rank. At 100 TB the code columns are what
    * the scan touches: m bytes-ish per vector instead of 4·dim.
    * Codebook (raw subvectors of the first ksub seed vectors —
    * deterministic, integer arithmetic) persists as a third subtable
    * so any session serves without retraining.
    */
  def ivfPqIndexBuild(spark: SparkSession, indexPath: String,
      seed: DataFrame, nCentroids: Int = 16, m: Int = 8,
      ksub: Int = 16, iters: Int = 2): Unit = {
    import spark.implicits._
    import graft.tables.GraftTable
    VectorExprs.register(spark)
    val (cents, assignedRaw, release) = kmeansFitOf(spark, seed,
      nCentroids, iters)
    GraftTable.create(spark,
      java.nio.file.Paths.get(indexPath, "centroids").toString,
      cents.toDF("cent_id", "cent"))
    val dim = assignedRaw.select(size(col("qv"))).head().getInt(0)
    // FAISS's divisibility requirement: dim % m != 0 would silently
    // exclude the trailing dimensions from every PQ code — the ADC
    // shortlist would be biased and the exact re-rank only repairs
    // ordering WITHIN that biased shortlist
    require(dim % m == 0,
      s"IVF+PQ needs dim divisible by m: dim=$dim, m=$m")
    val sub = dim / m
    val seedQv = assignedRaw.orderBy(col("vec_id")).limit(ksub)
      .select(col("qv")).collect().map(_.getSeq[Long](0))
    // a corpus smaller than the codebook cannot seed ksub entries —
    // fail with the contract, not an IndexOutOfBoundsException
    require(seedQv.length >= ksub,
      s"IVF+PQ needs at least ksub=$ksub seed vectors, " +
        s"got ${seedQv.length}")
    val codebook = for (s <- 0 until m; j <- 0 until ksub)
      yield (s, j, seedQv(j).slice(s * sub, (s + 1) * sub))
    GraftTable.create(spark,
      java.nio.file.Paths.get(indexPath, "pq").toString,
      codebook.toDF("s", "j", "cent"))
    val codes = pqEncode(assignedRaw, codebook, m, sub)
    GraftTable.create(spark,
      java.nio.file.Paths.get(indexPath, "assignments").toString,
      assignedRaw.select(col("vec_id"), col("label"), col("embedding"),
          col("cent_id"))
        .join(codes, Seq("vec_id")),
      partitionBy = Seq("cent_id"))
    release()
  }

  /** PQ encode kernel (the annPqTopK encoder, shared by build and
    * ingest): explode a `qv`-carrying frame into subvectors,
    * broadcast-join the codebook, argmin via min(struct(dist, j)),
    * reassemble each vector's codes ordered by subspace.
    */
  private def pqEncode(vecs: DataFrame,
      codebook: Seq[(Int, Int, Seq[Long])], m: Int, sub: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val cbDf = broadcast(codebook.toDF("s", "j", "cent"))
    vecs.select(col("vec_id"),
        explode(array((0 until m).map(s =>
          struct(lit(s).as("s"),
            slice(col("qv"), s * sub + 1, sub).as("sv"))): _*)).as("x"))
      .select(col("vec_id"), col("x.s").as("s"), col("x.sv").as("sv"))
      .join(cbDf, Seq("s"))
      .groupBy(col("vec_id"), col("s"))
      .agg(min(struct(
        VectorExprs.vec_l2sq_long(col("sv"), col("cent")).as("d"),
        col("j").as("j"))).as("best"))
      .select(col("vec_id"), col("s"), col("best.j").as("code"))
      .groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("s"), col("code")))),
        x => x.getField("code")).as("codes"))
  }

  /** Incremental ingestion into a built IVF+PQ index: new vectors
    * assign map-side against the stored centroids AND encode against
    * the stored codebook — both pure projections, one partition-
    * aligned append; an ingested vector lands exactly where (and
    * codes exactly as) a full rebuild would put it.
    */
  def ivfPqIndexIngest(spark: SparkSession, indexPath: String,
      vecs: DataFrame, batchId: Long = -1L,
      appId: String = ivfIngestAppId): Unit = {
    VectorExprs.register(spark)
    val cents = loadCents(spark, indexPath)
    val cb = graft.tables.GraftTable.load(spark,
        java.nio.file.Paths.get(indexPath, "pq").toString)
      .snapshot().collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2))).toSeq
    val m = cb.map(_._1).max + 1
    val sub = cb.head._3.length
    val codes = pqEncode(
      vecs.withColumn("qv", quantize(col("embedding"))), cb, m, sub)
    val t = graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(indexPath, "assignments").toString)
    val rows = conformToIndex(
      assignToCents(vecs, cents).join(codes, Seq("vec_id")), t)
    if (batchId >= 0L) t.appendIfNew(rows, batchId, appId = appId): Unit
    else t.append(rows): Unit
  }

  /** Top-k query against the persisted IVF+PQ index: probe cells
    * resolve driver-side over the collected centroids, the ADC
    * lookup table (m·ksub integers from the quantized query)
    * broadcasts, the probed cells rank on CODES only, and exact
    * full-precision cosine re-ranks just the `shortlist` survivors —
    * the two-stage cascade with partition pruning under it.
    */
  /** `filter` semantics match [[ivfIndexQuery]]: the predicate runs
    * on the probed cells BEFORE the ADC ranking, so the shortlist is
    * built from filtered candidates only (k holds as long as the
    * expanded probe window holds ≥ shortlist matches) and the code
    * scan still never touches the raw embeddings of non-matching rows.
    */
  def ivfPqIndexQuery(spark: SparkSession, indexPath: String,
      queryVec: Seq[Float], k: Int = 10, nprobe: Int = 4,
      shortlist: Int = 50, excludeVecId: Long = -1L,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    import spark.implicits._
    VectorExprs.register(spark)
    val cents = loadCents(spark, indexPath)
    val asgPathPq =
      java.nio.file.Paths.get(indexPath, "assignments").toString
    val nprobeEff = filteredNprobe(spark, asgPathPq, filter, nprobe,
      cents.size)
    val qQv = queryVec.map(x => math.floor(x.toDouble * 1000000.0).toLong)
    val probe = cents.map { case (cid, cent) =>
      (cent.zip(qQv).map { case (a, b) =>
        val diff = a - b; diff * diff }.sum, cid)
    }.sorted.take(nprobeEff).map(_._2)
    val cb = graft.tables.GraftTable.load(spark,
        java.nio.file.Paths.get(indexPath, "pq").toString)
      .snapshot().collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2)))
    val sub = cb.head._3.length
    val dt = cb.map { case (s, j, cent) =>
      val qs = qQv.slice(s * sub, (s + 1) * sub)
      var acc = 0L; var i = 0
      while (i < sub) { val d = qs(i) - cent(i); acc += d * d; i += 1 }
      (s, j, acc)
    }
    val dtDf = broadcast(dt.toSeq.toDF("s", "code", "d"))
    val probed = spark.read.format("graft-table").load(asgPathPq)
      .where(col("cent_id").isin(probe.map(Integer.valueOf): _*))
    val asg = filter.fold(probed)(f => probed.where(f))
      .filter(col("vec_id") =!= excludeVecId)
    // a shortlist below k would silently truncate the answer to
    // shortlist rows — the cascade's contract is "k of the probed
    // cells", so the shortlist widens to at least k
    val shortlistEff = math.max(shortlist, k)
    val approx = asg
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("s", "code")))
      .join(dtDf, Seq("s", "code"))
      .groupBy(col("vec_id")).agg(sum(col("d")).as("approx_dist"))
      .orderBy(col("approx_dist"), col("vec_id")).limit(shortlistEff)
    val qCol = typedLit(queryVec)
    asg.join(approx.select(col("vec_id")), Seq("vec_id"))
      .select(col("vec_id"), col("label"),
        round(vec_cosine(col("embedding"), qCol).cast("decimal(18,12)"), 6)
          .cast("double").as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  private val ivfPqStages =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** Driver scenario for the persisted IVF+PQ index: build once per
    * process over the full corpus (serve-path honesty — every
    * invocation times probe + ADC + re-rank, the steady-state serve
    * latency), query vector 0's embedding excluding itself.
    */
  def ivfPqServeScenario(spark: SparkSession, sfDir: String): DataFrame = {
    val (path, qv) = pqServeStage(spark, sfDir)
    ivfPqIndexQuery(spark, path, qv, excludeVecId = 0L)
  }

  private def pqServeStage(spark: SparkSession,
      sfDir: String): (String, Seq[Float]) = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val stage = ivfPqStages.computeIfAbsent(sfDir, _ => {
      val st = java.nio.file.Files.createTempDirectory("graft_ivfpq_")
      ivfPqIndexBuild(spark, st.resolve("idx").toString, emb)
      st
    })
    (stage.resolve("idx").toString,
      emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toSeq)
  }

  /** FILTERED retrieval against the served IVF+PQ index — the
    * [[annFilteredScenario]] posture on the ADC cascade: `label = 7`
    * (~10% selective) saturates the probe expansion past the 16-cell
    * geometry, so the ADC stage ranks ALL filtered members' codes and
    * the result is geometry-independent — the oracle replays
    * PQ-encode → ADC shortlist (capped BELOW the match count, so the
    * code stage genuinely decides) → exact cosine re-rank, without
    * needing the Lloyd replay. The partial-probe filtered regime is
    * covered by the flat-IVF spec (same [[filteredNprobe]] kernel).
    */
  def annFilteredPqScenario(spark: SparkSession, sfDir: String,
      k: Int = 10, shortlist: Int = 25): DataFrame = {
    val (path, qv) = pqServeStage(spark, sfDir)
    ivfPqIndexQuery(spark, path, qv, k = k, shortlist = shortlist,
      excludeVecId = 0L, filter = Some(col("label") === 7))
  }

  /** Cell-size skew of the persisted IVF index: the largest cell's
    * row count over the MEAN cell size with EMPTY cells counted in
    * the mean (k from the centroids table, not from the non-empty
    * partitions — a forget-hollowed cell that lost every member
    * vanishes from the partition list but still warps the geometry).
    * Balanced = 1.0; drift that bloats one cell or forgets that
    * hollow others both push it up. O(cells) commit-log metadata
    * (partitionsInfo's stats-derived counts); under live deletion
    * vectors (footer counts dishonest) the counts come from footer
    * rows MINUS the DV tombstones — one O(dv) aggregation over the
    * tombstone parquet, still never a corpus read.
    */
  private[graft] def cellSkew(spark: SparkSession,
      indexPath: String): Double = {
    val t = graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(indexPath, "assignments").toString)
    val info = t.partitionsInfo().select(col("num_rows")).collect()
    val counts: Seq[Long] =
      if (info.exists(_.isNullAt(0))) t.partitionRowCountsDvAdjusted()
      else info.map(_.getLong(0)).toSeq
    val k = loadCents(spark, indexPath).size
    val total = counts.sum
    if (total == 0L || k == 0 || counts.isEmpty) 1.0
    else counts.max.toDouble * k / total.toDouble
  }

  /** Sampled RECALL@k probe for the persisted IVF index — the quality
    * metric cell-size skew cannot see: symmetric between-centroid
    * drift (new mass landing mid-way between frozen centroids) keeps
    * cells balanced while splitting true neighborhoods across cells,
    * so nprobe-cell search silently loses neighbors. A DETERMINISTIC
    * hash-sample of the stored vectors (xxhash64(vec_id) % m == 0,
    * capped at `corpusCap`) stands in for the corpus; its `nQueries`
    * lowest-id members become query vectors; ground truth is exact
    * cosine top-k over the sample, the IVF answer is top-k within
    * each query's nprobe probed cells, and the metric is the mean
    * per-query overlap fraction. O(sample² /-ish) work bounded by
    * corpusCap — never a corpus scan beyond the one sample filter
    * pass — and a pure function of the index state (no randomness),
    * so the same geometry always probes to the same recall.
    */
  def indexRecall(spark: SparkSession, indexPath: String, k: Int = 10,
      nprobe: Int = 4, nQueries: Int = 16,
      corpusCap: Long = 4096L): Double = {
    import spark.implicits._
    VectorExprs.register(spark)
    val cents = loadCents(spark, indexPath)
    val t = graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(indexPath, "assignments").toString)
    val asg = t.snapshot()
      .select(col("vec_id"), col("embedding"), col("cent_id"))
    val total = t.rowCount.getOrElse(asg.count())
    val m = math.max(1L, (total + corpusCap - 1L) / corpusCap)
    val sample = (if (m <= 1L) asg
      else asg.where(pmod(xxhash64(col("vec_id")), lit(m)) === 0L))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val qRows = sample.orderBy(col("vec_id")).limit(nQueries)
        .select(col("vec_id"), col("embedding")).collect()
      if (qRows.isEmpty) return 1.0
      // per-query probe cells: driver math over the ≤k centroid
      // literals — the same exact-integer distances the serve path uses
      val probePairs = qRows.toIndexedSeq.flatMap { r =>
        val qv = r.getSeq[Float](1)
          .map(x => math.floor(x.toDouble * 1000000.0).toLong)
        cents.map { case (cid, c) =>
          (c.zip(qv).map { case (a, b) =>
            val d = a - b; d * d }.sum, cid)
        }.sorted.take(nprobe).map { case (_, cid) => (r.getLong(0), cid) }
      }
      val qDf = broadcast(qRows.toIndexedSeq
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
        .toDF("query_id", "qe"))
      // ONE sample scan scores every query (broadcast query pane);
      // decimal-rounded cosine + id tie-break, the family contract
      val scored = sample.join(qDf)
        .where(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"), col("cent_id"),
          round(vec_cosine(col("embedding"), col("qe"))
            .cast("decimal(18,12)"), 6).cast("double").as("cs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("cs").desc, col("vec_id"))
      def topk(df: DataFrame): Map[Long, Set[Long]] =
        df.withColumn("__r", row_number().over(w))
          .where(col("__r") <= k)
          .select(col("query_id"), col("vec_id")).collect()
          .groupBy(_.getLong(0))
          .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val gt = topk(scored)
      // a 1-member sample has no (query, candidate) pairs at all —
      // nothing measurable, report perfect rather than NaN
      if (gt.isEmpty) return 1.0
      val probeDf = broadcast(probePairs.toDF("query_id", "cent_id"))
      val ivf = topk(scored.join(probeDf, Seq("query_id", "cent_id")))
      val recalls = gt.toSeq.map { case (q, truth) =>
        if (truth.isEmpty) 1.0
        else ivf.getOrElse(q, Set.empty)
          .count(truth.contains).toDouble / truth.size
      }
      recalls.sum / recalls.size
    } finally sample.unpersist(): Unit
  }

  /** RE-TRAIN + re-assign the persisted IVF index — the rebalance
    * an append-only IVF eventually needs: ingestion assigns against
    * FROZEN centroids, so distribution drift bloats the cells near
    * the new mass while forgets hollow others, and probe latency
    * (scan ∝ largest probed cell) and recall (nprobe cells cover a
    * shrinking fraction of the mass) degrade unboundedly. Centroids
    * re-train with the same exact-integer Lloyd as the build over a
    * DETERMINISTIC hash-sample of the current members (capped —
    * k-means never needs the full 100 TB corpus), then EVERY member
    * re-assigns map-side against the ≤k new centroid literals: one
    * projection over the corpus, one partition-aligned OVERWRITE
    * commit. No Math.random anywhere: the sample is
    * xxhash64(vec_id) % m == 0, so the same index state always
    * rebalances to the same geometry.
    *
    * Serving stays LIVE throughout: the assignments rewrite keeps the
    * same cent_id space (0..k-1), so a query racing the rebalance
    * reads either wholly-old or wholly-new assignments (snapshot
    * isolation); between the assignments commit and the centroids
    * commit it may pick probe cells with the old geometry over new
    * partitions — an approximate answer from valid cells, never an
    * error or an empty result. A concurrent ingest racing the
    * OVERWRITE resolves through ordinary conflict detection (the
    * overwrite claims the whole table; the loser retries against the
    * new geometry).
    */
  def rebalanceIndex(spark: SparkSession, indexPath: String,
      iters: Int = 2, sampleCap: Long = 65536L): Unit = {
    import spark.implicits._
    import graft.tables.GraftTable
    val asgT = GraftTable.load(spark,
      java.nio.file.Paths.get(indexPath, "assignments").toString)
    // drop ONLY the stale cell id: extra columns (an IVF+PQ index's
    // codes) are codebook-relative and ride through the re-assignment
    val members = asgT.snapshot().drop("cent_id")
    val total = asgT.rowCount.getOrElse(members.count())
    val m = math.max(1L, (total + sampleCap - 1L) / sampleCap)
    val sample = if (m <= 1L)
      members.select(col("vec_id"), col("label"), col("embedding"))
    else members.select(col("vec_id"), col("label"), col("embedding"))
      .where(pmod(xxhash64(col("vec_id")), lit(m)) === 0L)
    val k = loadCents(spark, indexPath).size
    val (cents, _, release) = kmeansFitOf(spark, sample, k, iters)
    release() // Lloyd's sample cache — the re-assignment uses members
    // assignments FIRST (the big commit), centroids second: the
    // in-between window serves old-geometry probes over new cells —
    // degraded recall for one query, never a miss on a valid cent_id
    asgT.overwrite(assignToCents(members, cents))
    GraftTable.load(spark,
        java.nio.file.Paths.get(indexPath, "centroids").toString)
      .overwrite(cents.toDF("cent_id", "cent"))
  }

  /** Periodic MAINTENANCE for the persisted IVF index: continuous
    * ingestion appends one small file per touched cent_id partition
    * per batch; bin-pack them (compaction is partition-aligned, so
    * the cent_id layout — and with it the probe's partition pruning —
    * survives). Ordinary GraftTable commit: concurrent ingests
    * resolve through conflict detection.
    *
    * Rebalance trigger: when [[cellSkew]] (O(cells) metadata) reaches
    * `rebalanceSkewThreshold`, the maintenance cycle re-trains and
    * re-assigns ([[rebalanceIndex]]) BEFORE compacting — drift and
    * forget-hollowing now have a bounded lifetime of one maintenance
    * window instead of degrading recall/latency forever. Pass a
    * non-positive threshold to opt out. Returns whether a rebalance
    * ran.
    */
  def maintainIndex(spark: SparkSession, indexPath: String,
      vacuumRetainHours: Double = -1.0,
      rebalanceSkewThreshold: Double = 4.0,
      rebalanceIters: Int = 2,
      rebalanceSampleCap: Long = 65536L,
      recallFloor: Double = -1.0): Boolean =
    maintainIndexStats(spark, indexPath, vacuumRetainHours,
      rebalanceSkewThreshold, rebalanceIters, rebalanceSampleCap,
      recallFloor).rebalanced

  /** One maintenance cycle's observed state: the skew and (when a
    * recall floor is armed) sampled recall@k that drove the decision,
    * plus whether a rebalance ran. MAINTAIN ANN INDEX surfaces this
    * as its result row.
    */
  case class MaintainStats(rebalanced: Boolean, cellSkew: Double,
      recall: Option[Double])

  /** [[maintainIndex]] returning the cycle's metrics. `recallFloor`
    * in (0, 1] arms the RECALL TRIGGER: a sampled [[indexRecall]]
    * probe runs each cycle and a rebalance fires when it drops below
    * the floor EVEN IF cellSkew is quiet — the drift mode where new
    * mass lands symmetrically between frozen centroids (cells stay
    * balanced, neighborhoods split across cells) is invisible to the
    * skew metric but caught here. Non-positive floor (the default)
    * skips the probe entirely, so skew-only maintenance pays nothing.
    */
  def maintainIndexStats(spark: SparkSession, indexPath: String,
      vacuumRetainHours: Double = -1.0,
      rebalanceSkewThreshold: Double = 4.0,
      rebalanceIters: Int = 2,
      rebalanceSampleCap: Long = 65536L,
      recallFloor: Double = -1.0,
      recallK: Int = 10, recallNprobe: Int = 4,
      recallQueries: Int = 16, recallCorpusCap: Long = 4096L)
      : MaintainStats = {
    val skew = cellSkew(spark, indexPath)
    val recall = if (recallFloor > 0.0)
      Some(indexRecall(spark, indexPath, recallK, recallNprobe,
        recallQueries, recallCorpusCap))
    else None
    val rebalance =
      (rebalanceSkewThreshold > 0.0 && skew >= rebalanceSkewThreshold) ||
        recall.exists(_ < recallFloor)
    if (rebalance)
      rebalanceIndex(spark, indexPath, rebalanceIters, rebalanceSampleCap)
    val t = graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(indexPath, "assignments").toString)
    t.compactToSize()
    // nightly maintenance owns the whole cycle: compaction strands
    // the pre-compaction partition files as dead versions — reclaim
    // them here (bounded by the caller's retention window for
    // concurrent readers) instead of leaving them to a separate
    // vacuum schedule
    if (vacuumRetainHours >= 0) t.vacuumRetainHours(vacuumRetainHours)
    MaintainStats(rebalance, skew, recall)
  }

  /** CONTINUOUS maintenance for the persisted IVF index — the
    * Delta-Live-Tables posture applied to the ANN story: a streaming
    * query over the assignments table's registered CDC stream drives
    * one [[maintainIndex]] cycle per micro-batch (the rows are only
    * the TRIGGER — never acted on, so no read job runs; change
    * detection is commit-log metadata), so ingest-driven drift meets
    * its skew-triggered rebalance within one trigger interval of
    * landing instead of waiting for a human-scheduled nightly job.
    * Cross-session arbitration is the SAME lease registry the
    * maintained views use (atomic hard-link claim, per-epoch
    * heartbeat CAS, interval-scaled stale window): of any number of
    * sessions starting maintenance on one index, exactly one loop
    * survives — two concurrent rebalances would thrash the geometry
    * and double the compaction I/O. Maintenance commits are ordinary
    * GraftTable commits, so a crash replays idempotently and a cycle
    * racing a concurrent ingest resolves through conflict detection.
    * The loop settles: a cycle that changed nothing commits nothing,
    * so it does not re-trigger itself.
    */
  def continuousMaintain(spark: SparkSession, indexPath: String,
      interval: String = "10 seconds",
      vacuumRetainHours: Double = -1.0,
      rebalanceSkewThreshold: Double = 4.0,
      rebalanceIters: Int = 2,
      rebalanceSampleCap: Long = 65536L,
      recallFloor: Double = -1.0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val root = java.nio.file.Paths.get(indexPath).toAbsolutePath.toString
    val asgPath = java.nio.file.Paths.get(indexPath, "assignments").toString
    graft.tables.GraftSql.continuousRegistry.start(spark, root, interval,
      beforeEpoch => spark.readStream.format("graft-table")
        .option("path", asgPath)
        // CDC mode: rebalance OVERWRITEs and forget MERGEs surface as
        // ordinary trigger batches instead of refusing the stream
        .option("mode", "cdc")
        .load()
        .writeStream
        .option("checkpointLocation", java.nio.file.Paths
          .get(root, "_continuous_maintain_cp").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger
          .ProcessingTime(interval))
        .foreachBatch { (_: DataFrame, _: Long) =>
          beforeEpoch()
          // a cycle racing a concurrent ingest loses conflict
          // resolution cleanly — skip to the next trigger (the
          // ingest's commit re-fires the stream anyway) instead of
          // killing the loop; heartbeat throws above DO propagate
          // (they are the cross-session stop/takeover signal)
          try maintainIndex(spark, indexPath, vacuumRetainHours,
            rebalanceSkewThreshold, rebalanceIters, rebalanceSampleCap,
            recallFloor)
          catch { case e: graft.tables.CommitConflictException =>
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"[graft] continuous maintenance cycle for $indexPath " +
                s"lost a commit race; retrying next trigger: ${e.getMessage}")
          }
          ()
        }
        .start())
  }

  /** Stop this session's continuous maintenance loop for `indexPath`
    * (or, under a foreign lease, release it so the owning session's
    * loop self-terminates at its next heartbeat — returns false then;
    * the registry's cross-session STOP semantics, verbatim).
    */
  def stopContinuousMaintain(indexPath: String): Boolean =
    graft.tables.GraftSql.continuousRegistry.stop(
      java.nio.file.Paths.get(indexPath).toAbsolutePath.toString)

  /** FORGET path for the persisted IVF index — the ANN twin of
    * [[Dedup.forgetDocs]]: a corpus DELETE must propagate into the
    * cell table or the deleted vectors keep surfacing as neighbors
    * (served content that no longer exists) and their embeddings are
    * retained indefinitely. MERGE-DELETE on vec_id; the rewrite is
    * partition-aligned (only the cells holding retired vectors
    * rewrite, pruned by the merge key-envelope probe), centroids are
    * untouched (they are statistics, not member content — the cell
    * geometry survives). Idempotent: a replay matches nothing.
    */
  def forgetVectors(spark: SparkSession, indexPath: String,
      retired: DataFrame): Unit = {
    import graft.tables.GraftTable
    val t = GraftTable.load(spark,
      java.nio.file.Paths.get(indexPath, "assignments").toString)
    t.merge(retired.select(col("vec_id")).distinct(), "vec_id",
      Seq(GraftTable.MatchedDelete()), None)
  }

  /** Top-k cosine query against the persisted index: probe cells
    * resolve DRIVER-SIDE over the ≤k collected centroids (exact
    * integer distances), and the registered scan reads ONLY the
    * probed cells' partitions. `excludeVecId` drops the query vector
    * itself from results.
    */
  /** `filter` (a predicate over the index's stored columns — label,
    * any metadata the ingest carried) runs INSIDE the probed-cell
    * scan, BEFORE scoring and the top-k: the predicate pushes into
    * the partition-pruned read (parquet row-group stats apply), and
    * nprobe expands by the measured selectivity ([[filteredNprobe]])
    * so the post-filter k still holds — filtered retrieval, the
    * first capability a real ANN user reaches for.
    */
  def ivfIndexQuery(spark: SparkSession, indexPath: String,
      queryVec: Seq[Float], k: Int = 10, nprobe: Int = 4,
      excludeVecId: Long = -1L,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    VectorExprs.register(spark)
    val cents = loadCents(spark, indexPath)
    val asgPath = java.nio.file.Paths.get(indexPath, "assignments").toString
    val nprobeEff = filteredNprobe(spark, asgPath, filter, nprobe,
      cents.size)
    val qQv = queryVec.map(x => math.floor(x.toDouble * 1000000.0).toLong)
    val probe = cents.map { case (cid, cent) =>
      val d = cent.zip(qQv).map { case (a, b) =>
        val diff = a - b; diff * diff }.sum
      (d, cid)
    }.sorted.take(nprobeEff).map(_._2)
    val qCol = typedLit(queryVec)
    val cells = spark.read.format("graft-table").load(asgPath)
      .where(col("cent_id").isin(probe.map(Integer.valueOf): _*))
    filter.fold(cells)(f => cells.where(f))
      .filter(col("vec_id") =!= excludeVecId)
      .select(col("vec_id"), col("label"),
        round(vec_cosine(col("embedding"), qCol).cast("decimal(18,12)"), 6)
          .cast("double").as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** INDEX-BACKED BATCH SERVE — a whole FRAME of query vectors
    * against the persisted flat-IVF index in ONE distributed plan
    * (the retrieval join batch inference runs: embed a batch, top-k
    * for each). Per query the geometry is EXACTLY [[ivfIndexQuery]]'s:
    * integer-quantized L2 against the ≤k stored centroid literals
    * picks the nprobe nearest cells MAP-SIDE (an array_sort over k
    * candidate structs — no driver loop over queries, no join for the
    * routing), the probed (query, cell) pairs equi-join the
    * cent_id-partitioned assignments pruned to the UNION of probed
    * cells (an O(nCells) driver pane, bounded by the geometry, never
    * the query count), and a per-query window takes the cosine top-k.
    * Scale shape: queries never broadcast as a whole, the index side
    * reads only probed partitions, the only shuffles are the cent_id
    * join and the query_id-partitioned window.
    */
  def indexQueryBatch(spark: SparkSession, indexPath: String,
      queries: DataFrame, k: Int = 10, nprobe: Int = 4,
      filter: Option[org.apache.spark.sql.Column] = None,
      excludeSelf: Boolean = true, shortlist: Int = 50): DataFrame =
    if (isPqIndex(indexPath))
      ivfPqIndexQueryBatch(spark, indexPath, queries, k, nprobe,
        shortlist, filter, excludeSelf)
    else ivfIndexQueryBatch(spark, indexPath, queries, k, nprobe,
      filter, excludeSelf)

  /** Shared routing for both batch legs: per-query nprobe cells rank
    * MAP-SIDE over the centroid literals (the single-vector server's
    * exact integer rule), the union of probed cells collects as a
    * bounded O(nCells) driver pane, and the partition-pruned
    * assignments come back alongside the exploded (query, cell)
    * pairs. `extra` names the per-query columns each leg carries
    * through the join (the raw query vector, the PQ distance LUT).
    *
    * SINGLE EVALUATION, enforced: the routed pane materializes
    * through an eager localCheckpoint BEFORE anything reads it — the
    * collected cell set and the execution-time join consume the same
    * frozen rows, so a nondeterministic queries source (sample(), a
    * rand-derived view) can no longer route outside the collected set
    * and silently lose candidates, and the query scan runs exactly
    * once however many downstream joins read the pane (blocks release
    * on GC; an executor loss under the truncated lineage fails loudly
    * rather than silently re-drawing the source). The UNIQUE-query_id
    * half of the old comment-contract is now a runtime check over the
    * already-materialized pane: per query exactly nprobe routed rows —
    * a duplicated id would merge two embeddings' candidate pools into
    * one ranked window.
    */
  private def batchRouted(spark: SparkSession, asgPath: String,
      cents: Seq[(Int, Seq[Long])], nprobeEff: Int, queries: DataFrame,
      extra: Seq[org.apache.spark.sql.Column])
      : (DataFrame, DataFrame) = {
    val candidates = array(cents.map { case (cid, v) =>
      struct(intL2(col("__qv"), typedLit(v)).as("d"),
        lit(cid).as("cent_id"))
    }.toIndexedSeq: _*)
    val probed = queries
      .withColumn("__qv", quantize(col("embedding")))
      .withColumn("cent_id", explode(
        slice(array_sort(candidates), 1, nprobeEff)
          .getField("cent_id")))
      .select(Seq(col("query_id"), col("cent_id")) ++ extra: _*)
      .localCheckpoint(true)
    // ONE pass over the checkpointed pane serves both the guard and
    // the probed-cell set (collect_set is bounded by the geometry)
    val g = probed.agg(count(lit(1)),
      countDistinct(col("query_id")),
      collect_set(col("cent_id"))).head()
    require(g.getLong(0) == g.getLong(1) * nprobeEff,
      s"indexQueryBatch needs a unique query_id per query row: " +
        s"${g.getLong(0)} routed rows over ${g.getLong(1)} distinct " +
        s"ids at nprobe $nprobeEff (a duplicated id would merge two " +
        "embeddings' candidate pools)")
    val cellSet = g.getSeq[Int](2).toArray
    val cells = spark.read.format("graft-table").load(asgPath)
      .where(col("cent_id").isin(cellSet.map(Integer.valueOf)
        .toIndexedSeq: _*))
    (probed, cells)
  }

  private def ivfIndexQueryBatch(spark: SparkSession, indexPath: String,
      queries: DataFrame, k: Int, nprobe: Int,
      filter: Option[org.apache.spark.sql.Column],
      excludeSelf: Boolean): DataFrame = {
    VectorExprs.register(spark)
    val cents = loadCents(spark, indexPath)
    val asgPath = java.nio.file.Paths.get(indexPath, "assignments")
      .toString
    val nprobeEff = math.min(
      filteredNprobe(spark, asgPath, filter, nprobe, cents.size),
      cents.size)
    val (probed, cells0) = batchRouted(spark, asgPath, cents, nprobeEff,
      queries, Seq(col("embedding").as("__qe")))
    val cells = filter.fold(cells0)(f => cells0.where(f))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    val joined = probed.join(cells, Seq("cent_id"))
    // query-by-example batches (query_id = a corpus vec_id) drop the
    // query row itself; batches with their OWN id space pass false —
    // an id collision there is not an identity
    (if (excludeSelf) joined.filter(col("vec_id") =!= col("query_id"))
     else joined)
      .select(col("query_id"), col("vec_id"), col("label"),
        round(vec_cosine(col("embedding"), col("__qe"))
          .cast("decimal(18,12)"), 6).cast("double").as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** The IVF+PQ leg of [[indexQueryBatch]] — the ADC cascade over a
    * query FRAME: each query's per-code distance table (the LUT the
    * single-vector server builds on the driver) evaluates MAP-SIDE as
    * an array of integer sub-L2 expressions over the collected
    * codebook literals (m·codes rows — bounded by the geometry, not
    * the corpus); the probed (query, cell) pairs carry that LUT
    * through ONE cent_id equi-join against the partition-pruned code
    * rows, every joined row's ADC distance folds its code bytes
    * through the LUT (a bounded m-step fold), a per-query window
    * keeps the shortlist by CODE distance, and the exact cosine
    * re-rank repairs it to top-k. Same tie-breaks as the
    * single-vector server, so the two agree row-for-row at equal
    * parameters (spec).
    */
  private def ivfPqIndexQueryBatch(spark: SparkSession,
      indexPath: String, queries: DataFrame, k: Int, nprobe: Int,
      shortlist: Int, filter: Option[org.apache.spark.sql.Column],
      excludeSelf: Boolean): DataFrame = {
    VectorExprs.register(spark)
    val cents = loadCents(spark, indexPath)
    val asgPath = java.nio.file.Paths.get(indexPath, "assignments")
      .toString
    val nprobeEff = math.min(
      filteredNprobe(spark, asgPath, filter, nprobe, cents.size),
      cents.size)
    // the codebook collects once — m·codes sub-centroids, geometry-
    // sized — and becomes per-query LUT slot expressions ordered by
    // s·codesPer + code (dense code ids, checked)
    val cb = graft.tables.GraftTable.load(spark,
        java.nio.file.Paths.get(indexPath, "pq").toString)
      .snapshot().collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2)))
      .sortBy(x => (x._1, x._2))
    val sub = cb.head._3.length
    val m = cb.map(_._1).max + 1
    val codesPer = cb.count(_._1 == 0)
    require(cb.map(x => (x._1, x._2)).sameElements(
      for (s <- 0 until m; j <- 0 until codesPer) yield (s, j)),
      "ivfPqIndexQueryBatch needs a dense (subspace, code) codebook")
    val lut = array(cb.map { case (s, _, cent) =>
      intL2(slice(col("__qv"), s * sub + 1, sub), typedLit(cent))
    }.toIndexedSeq: _*)
    // the raw query vector rides the routed pane next to the LUT, so
    // the exact re-rank below reads the CHECKPOINTED pane instead of
    // re-evaluating the queries frame a third time
    val (probed, cells0) = batchRouted(spark, asgPath, cents, nprobeEff,
      queries, Seq(lut.as("__lut"), col("embedding").as("__qe")))
    val cells = filter.fold(cells0)(f => cells0.where(f))
    // CODE-ONLY approx stage: the rows that ride the shortlist window
    // carry (query_id, vec_id, approx_dist) — never the LUT, the
    // codes, or an embedding (the cascade's whole point is that the
    // wide columns move only for the shortlist's survivors)
    val joined0 = probed.join(
      cells.select(col("cent_id"), col("vec_id"), col("codes")),
      Seq("cent_id"))
    val joined =
      if (excludeSelf) joined0.filter(col("vec_id") =!= col("query_id"))
      else joined0
    val shortlistEff = math.max(shortlist, k)
    val wApprox = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("approx_dist"), col("vec_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    val survivors = joined
      .withColumn("approx_dist", aggregate(
        zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
          (c, s) => element_at(col("__lut"),
            (s * codesPer + c + 1).cast("int"))),
        lit(0L), (acc, x) => acc + x))
      .select(col("query_id"), col("vec_id"), col("approx_dist"))
      .withColumn("__ar", row_number().over(wApprox))
      .filter(col("__ar") <= shortlistEff)
      .select(col("query_id"), col("vec_id"))
    // exact re-rank: only the survivors fetch their stored vectors
    // and the query vector
    survivors
      .join(cells.select(col("vec_id"), col("label"), col("embedding")),
        Seq("vec_id"))
      .join(probed.select(col("query_id"), col("__qe"))
        .dropDuplicates("query_id"), Seq("query_id"))
      .select(col("query_id"), col("vec_id"), col("label"),
        round(vec_cosine(col("embedding"), col("__qe"))
          .cast("decimal(18,12)"), 6).cast("double").as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Driver scenario for the PQ leg of [[indexQueryBatch]]: the same
    * first-5 query frame against the staged IVF+PQ index with an
    * all-cells probe AND a saturated shortlist — the CODE stage
    * passes everything through and the exact re-rank makes the
    * answer brute-force-equivalent, so [[annTopKBatch]]'s oracle
    * checks the routed ADC plumbing end-to-end (the
    * shortlist-genuinely-decides regime is spec-pinned per query
    * against the single-vector ADC server).
    */
  def annBatchIndexedPqScenario(spark: SparkSession, sfDir: String,
      k: Int = 5, nQueries: Int = 5): DataFrame = {
    val (path, _) = pqServeStage(spark, sfDir)
    val emb = Tables.load(spark, sfDir, "embeddings")
    indexQueryBatch(spark, path,
      emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding")),
      k = k, nprobe = Int.MaxValue, shortlist = Int.MaxValue,
      filter = Some(col("vec_id") >= nQueries))
      .select(col("query_id"), col("vec_id"), col("cos_sim"),
        col("rank"))
  }

  /** Driver scenario for [[indexQueryBatch]]: the first 5 vectors
    * query the SQL-staged served index (seed + ingest) with an
    * all-cells probe and a corpus-side filter excluding the query
    * ids — the saturated regime where the index-backed batch is
    * exactly the brute-force batch, so [[annTopKBatch]]'s relational
    * oracle checks the whole routed path (the nprobe < cells regime
    * is spec-pinned against the single-vector server per query).
    */
  def annBatchIndexedScenario(spark: SparkSession, sfDir: String,
      k: Int = 5, nQueries: Int = 5): DataFrame = {
    val (path, _) = serveStage(spark, sfDir)
    val emb = Tables.load(spark, sfDir, "embeddings")
    indexQueryBatch(spark, path,
      emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding")),
      k = k, nprobe = Int.MaxValue,
      filter = Some(col("vec_id") >= nQueries))
      .select(col("query_id"), col("vec_id"), col("cos_sim"),
        col("rank"))
  }

  /** Driver scenario: build on the 75% slice (vec_id % 4 ≠ 0),
    * incrementally ingest the rest, query vector 0's embedding —
    * which itself arrived through the INGEST path. The oracle
    * replays train-on-seed → assign-all → probe → exact cosine.
    */
  def annIncremental(spark: SparkSession, sfDir: String,
      k: Int = 10): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivfidx_").toString
    ivfIndexBuild(spark, path, emb.filter(col("vec_id") % 4 =!= 0))
    ivfIndexIngest(spark, path, emb.filter(col("vec_id") % 4 === 0))
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    ivfIndexQuery(spark, path, q, k = k, excludeVecId = 0L)
  }

  private val sqlLifecycleStages =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Seq[Float])]()

  /** Driver scenario for the SQL index lifecycle: the [[annIncremental]]
    * split (build on the 75%, ingest the rest, query vector 0) driven
    * ENTIRELY through the SQL statements — CREATE ANN INDEX / INGEST
    * INTO ANN INDEX / MAINTAIN ANN INDEX over plain-parquet staging
    * dirs — then served by the ordinary probed-cell query. Same
    * result as the API path, so the same oracle checks it. Lifecycle
    * runs once per process; every invocation times the serve.
    */
  def annSqlLifecycleScenario(spark: SparkSession,
      sfDir: String): DataFrame = {
    val (path, q) = sqlLifecycleStages.computeIfAbsent(sfDir, _ => {
      val emb = Tables.load(spark, sfDir, "embeddings")
      val st = java.nio.file.Files.createTempDirectory("graft_sqllife_")
      val seedDir = st.resolve("seed").toString
      val arrDir = st.resolve("arr").toString
      emb.filter(col("vec_id") % 4 =!= 0).write.parquet(seedDir)
      emb.filter(col("vec_id") % 4 === 0).write.parquet(arrDir)
      val ivf = st.resolve("ivf").toString
      graft.tables.GraftSql.sql(spark,
        s"CREATE ANN INDEX '$ivf' ON '$seedDir'")
      graft.tables.GraftSql.sql(spark,
        s"INGEST INTO ANN INDEX '$ivf' FROM '$arrDir'")
      // compaction-only maintain: this scenario shares ann_incremental's
      // oracle (a seed-trained Lloyd replay), so a skew-triggered
      // rebalance here — possible if a future corpus/centroid config
      // crosses the default threshold — would silently diverge the
      // served geometry from the oracle's
      graft.tables.GraftSql.sql(spark,
        s"MAINTAIN ANN INDEX '$ivf' REBALANCE THRESHOLD 0")
      (ivf, emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toSeq)
    })
    ivfIndexQuery(spark, path, q, excludeVecId = 0L)
  }

  // one built index per (process, sfDir): the serve-path scenario
  // measures STEADY-STATE query latency, so the build must not be
  // re-paid per invocation (the bench samples each query ≥2×)
  private val servedIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Seq[Float])]()

  /** The SERVING half of [[annIncremental]]: the same index content
    * and the same query, but the build+ingest runs ONCE per process
    * and every invocation times only the query path — centroid load
    * (≤k driver rows), probe-partition scan, top-k. This is the
    * steady-state latency a deployed index answers at; the combined
    * scenario's number is ~all one-time build cost. Result ≡
    * [[annIncremental]], so the same oracle checks it.
    */
  def annIncrementalServe(spark: SparkSession, sfDir: String,
      k: Int = 10): DataFrame = {
    val (path, q) = serveStage(spark, sfDir)
    ivfIndexQuery(spark, path, q, k = k, excludeVecId = 0L)
  }

  private def serveStage(spark: SparkSession,
      sfDir: String): (String, Seq[Float]) =
    servedIndexes.computeIfAbsent(sfDir, _ => {
      val emb = Tables.load(spark, sfDir, "embeddings")
      val p = java.nio.file.Files
        .createTempDirectory("graft_ivfserve_").toString
      ivfIndexBuild(spark, p, emb.filter(col("vec_id") % 4 =!= 0))
      ivfIndexIngest(spark, p, emb.filter(col("vec_id") % 4 === 0))
      (p, emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toSeq)
    })

  /** FILTERED retrieval scenario against the served index: the same
    * staged state and query as [[annIncrementalServe]], restricted to
    * `label = 7` — a ~10%-selective predicate, so [[filteredNprobe]]'s
    * expansion (ceil(4 · total/matching) ≈ 40 cells) saturates past
    * the 16-cell geometry and the served answer is EXACTLY
    * filter-then-brute-force top-k — which is what the oracle replays
    * relationally. The un-saturated regime (selective-but-wide
    * predicates probing a strict subset of cells) is spec-pinned
    * against a manual probe-window replay.
    */
  def annFilteredScenario(spark: SparkSession, sfDir: String,
      k: Int = 10): DataFrame = {
    val (path, q) = serveStage(spark, sfDir)
    ivfIndexQuery(spark, path, q, k = k, excludeVecId = 0L,
      filter = Some(col("label") === 7))
  }
}
