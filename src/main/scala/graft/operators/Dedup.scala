package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication family for LLM-data pipelines (SURVEY.md §2.G) over
  * the `documents` table.
  *
  * Scale posture (100 TB): every sketch (md5, shingles, minhash,
  * simhash) is computed map-side with codegen'd expressions; only
  * compact keys (hash, band signature, shingle id) ever shuffle.
  * Candidate pairs are generated by inverted-index joins (explode →
  * equi-join), never cross joins; verification runs only on
  * candidates.
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the minimum doc_id.
    * One map-side hash + one shuffle on the 128-bit digest. Null
    * texts have no content hash — grouping them would report N
    * unrelated null-text documents as copies of one another, so they
    * are excluded exactly like [[incrementalExactWithStats]]'s
    * ledger guard (the batch twin and the incremental twin must
    * agree on the same input).
    */
  def exact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .where(col("text").isNotNull)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("content_hash"), col("n_copies"))

  /** Distinct word-3-gram shingle set per doc, as (doc_id, shingle)
    * pairs. Words via regexp (portable vs split()'s empty-token edge
    * cases).
    */
  private[graft] def shingles(docs: DataFrame, n: Int = 3): DataFrame = {
    // Native WordShingles expression: one tight loop per row instead
    // of an interpreted per-element transform/slice lambda — measured
    // ~3 s/pass cheaper at sf0.1, and every dedup operator recomputes
    // this. Short docs (< n tokens) yield an empty array, never an
    // error. Output is byte-identical to the
    // transform+slice+concat_ws(' ') spelling the oracles replicate.
    graft.functions.WordShingles.register(docs.sparkSession)
    docs.select(col("doc_id"),
      regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("w"))
      .select(col("doc_id"), array_distinct(
        graft.functions.WordShingles.word_shingles(col("w"), n)).as("sh"))
  }

  /** Near-dup pairs by exact n-gram Jaccard ≥ minJaccard.
    * Inverted-index candidate generation: docs sharing ≥1 shingle
    * (a superset of all pairs with J>0 — exact, no recall loss);
    * n_common falls straight out of the postings join as a
    * codegen'd COUNT, so no per-pair set intersection is ever
    * materialized. Postings carry 64-bit shingle hashes, not
    * strings — xxhash64 collisions would need ≈2^32 distinct
    * shingles per corpus partition to matter.
    *
    * (A PPJoin-style prefix filter was measured here and LOST:
    * it trades the codegen'd count for per-pair array_intersect,
    * which only wins when candidates are sparse — on heavily
    * overlapping corpora the count-based join is strictly better.
    * Skew on hot shingles is bounded by AQE skew-join handling.)
    */
  def ngramJaccard(spark: SparkSession, sfDir: String,
      minJaccard: Double = 0.6,
      maxShingleDf: Int = Int.MaxValue): DataFrame =
    ngramJaccardOf(Tables.spreadCpu(
      Tables.load(spark, sfDir, "documents")), minJaccard,
      maxShingleDf)

  /** Exact n-gram Jaccard pairs over any (doc_id, text) frame.
    *
    * `maxShingleDf` is the HOT-SHINGLE GUARD for the exact variant's
    * Σdf² worst case: candidate generation drops shingles whose
    * document frequency exceeds the cap (a boilerplate banner shared
    * by 10⁶ documents would otherwise contribute 10¹² join rows on
    * its own — exactly the df-cap real pipelines apply). Kept pairs
    * still score EXACT Jaccard: the intersection is recounted over
    * the FULL shingle sets of candidate docs only, so the cap can
    * only lose pairs whose every shared shingle is hot — never change
    * a reported score. Default: no cap (fully exact; use the minhash
    * family when the corpus is too hot for that).
    */
  def ngramJaccardOf(docs: DataFrame, minJaccard: Double = 0.6,
      maxShingleDf: Int = Int.MaxValue): DataFrame = {
    val sh = shingles(docs)
    // postings carry the doc's shingle COUNT (+4 bytes/row) so that
    // (a) the LENGTH FILTER prunes inside the join — J ≥ τ forces
    //     τ·|A| ≤ |B| ≤ |A|/τ, so length-mismatched pairs (≈half on
    //     this corpus) never reach the pair aggregation; exact, the
    //     1e-9 slack only errs toward keeping boundary pairs — and
    // (b) sizes ride the groupBy keys, dropping the two post-hoc
    //     size joins entirely.
    val inv = sh.select(col("doc_id"), size(col("sh")).as("n_sh"),
        explode(col("sh")).as("s"))
      .select(col("doc_id"), col("n_sh"), xxhash64(col("s")).as("shingle_h"))
    def pairJoin(posts: DataFrame) = {
      val a = posts.as("a"); val b = posts.as("b")
      a.join(b,
        col("a.shingle_h") === col("b.shingle_h") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("b.n_sh") >= col("a.n_sh") * minJaccard - 1e-9 &&
          col("a.n_sh") >= col("b.n_sh") * minJaccard - 1e-9)
    }
    def score(joined: DataFrame) = joined
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("na") + col("nb") - col("n_common")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"),
        col("n_common").cast("int").as("n_common"), col("jaccard"))
    if (maxShingleDf == Int.MaxValue) score(pairJoin(inv))
    else {
      val cool = inv.groupBy("shingle_h")
        .agg(count(lit(1)).as("df"))
        .where(col("df") <= maxShingleDf)
        .select("shingle_h")
      // eager localCheckpoint, not persist: the candidate set is
      // baked into the RETURNED lazy plan (docsIn + the left_semi
      // below), so no caller could ever unpersist a cache entry —
      // checkpoint blocks instead release when the returned plan is
      // garbage-collected, and the pair join still runs exactly once
      val cands = pairJoin(inv.join(cool, Seq("shingle_h")))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
        .localCheckpoint(true)
      // exact rescore over FULL postings, shrunk to candidate docs
      // and restricted to candidate pairs — O(candidates), not Σdf²
      val docsIn = cands.select(col("doc_a").as("doc_id"))
        .unionByName(cands.select(col("doc_b").as("doc_id"))).distinct()
      val shrunk = inv.join(docsIn, Seq("doc_id"), "left_semi")
      score(pairJoin(shrunk).join(cands,
        col("a.doc_id") === cands("doc_a") &&
          col("b.doc_id") === cands("doc_b"), "left_semi"))
    }
  }

  /** Split decontamination — the train/eval leakage check every LLM
    * pipeline needs: near-duplicate pairs (n-gram Jaccard ≥ τ) whose
    * members land in DIFFERENT deterministic splits. Composes the
    * exact-jaccard join with the content-hash split assignment; at
    * scale the pair join is the same inverted-index shape as
    * `ngramJaccard` and the split columns ride the postings for free.
    */
  def crossSplitLeaks(spark: SparkSession, sfDir: String,
      minJaccard: Double = 0.6,
      maxShingleDf: Int = Int.MaxValue): DataFrame =
    crossSplitLeaksOf(
      ngramJaccard(spark, sfDir, minJaccard, maxShingleDf),
      TextAnalysis.deterministicSplit(spark, sfDir))

  /** Decontamination over ANY near-dup pair source: any frame with
    * (doc_a, doc_b, jaccard) columns works — the exact join (df-capped
    * or not), `minhashLshOf`, `minhashPortable`, … — so a 100 TB
    * pipeline rides the SAME banded-LSH pair pass it already runs for
    * dedup instead of being pinned to the uncapped exact join (whose
    * Σdf² candidate join is exactly what a corpus-wide
    * decontamination must avoid). The split columns join on after
    * pair generation: two hash-partitioned joins on doc ids, no
    * full-corpus shuffle beyond what the pair source itself did.
    */
  def crossSplitLeaksOf(pairs: DataFrame, splits0: DataFrame): DataFrame = {
    val splits = splits0.select(col("doc_id"), col("split"))
    pairs
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")), Seq("doc_a"))
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")), Seq("doc_b"))
      .filter(col("split_a") =!= col("split_b"))
      .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"),
        col("jaccard"))
  }

  /** Near-dup CLUSTER RESOLUTION — the step after pair generation in
    * every dedup pipeline: pairs → connected components → one
    * survivor per cluster (min doc_id). Alternating LARGE-STAR /
    * SMALL-STAR contraction (Kiveris et al., "Connected Components in
    * MapReduce and Beyond"): each round rewires every node toward its
    * neighborhood minimum, so component depth HALVES per round and
    * convergence is O(log n) rounds — not O(graph diameter) like
    * plain min-label propagation, which on chain-shaped clusters
    * (crawl mirrors) means dozens of full-edge-list shuffles at
    * 100 TB. Each round is two groupBy+join passes over the shrinking
    * edge list; only (node, node) id pairs ever shuffle — never the
    * documents. Deterministic: the component id IS the minimum doc_id
    * reachable.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 50): DataFrame =
    connectedComponentsWithRounds(pairs, maxIters)._1

  /** [[connectedComponents]] plus the round count it converged in —
    * the O(log n) bound is part of the contract and spec-asserted.
    *
    * `localThreshold`: once the contracting edge list fits this many
    * rows (and ids are integral), finish with DRIVER-SIDE union-find
    * instead of more rounds of tiny jobs — the contraction TAIL is
    * exactly where every distributed round costs full job overhead to
    * move a few thousand rows. 2^18 edges ≈ 4 MB of longs, an
    * explicit memory bound, not an unbounded collect; the asymptotic
    * 100 TB path stays fully distributed until the graph has shrunk
    * to that size. Pass 0 to force the all-distributed path.
    */
  private[graft] def connectedComponentsWithRounds(pairs: DataFrame,
      maxIters: Int = 50, localThreshold: Long = 1L << 18): (DataFrame, Int) = {
    val realPairs = pairs.where(col("doc_a") =!= col("doc_b"))
    // ORIENTATION INVARIANT: the edge list is kept directed max→min
    // (u > v) between rounds — half the rows/bytes of the symmetric
    // form per checkpoint, and it COALESCES the two stars: large-star
    // emits on exactly the key small-star groups by, so a round is
    // agg+join on the symmetrized neighborhood (one exchange, reused),
    // a repartition onto the rewiring key for small-star's agg+join
    // (one exchange, reused), and the round-final distinct — no
    // intermediate distinct shuffle between the stars.
    // large-star: every node's strictly-LARGER neighbors rewire to
    // the minimum of its closed neighborhood. Output needs no dedup:
    // duplicate (v, m) rows cannot change small-star's min and die in
    // the round-final distinct.
    def largeStar(e: DataFrame): DataFrame = {
      val nb = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val m = nb.groupBy("u")
        .agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      // emitted rows have u(new)=v > u(old) ≥ m = v(new): max→min holds
      nb.join(m, Seq("u"))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }
    // small-star: input is max→min by the invariant (no re-orient
    // pass) — rewire every node's smaller neighborhood onto its
    // minimum. Both output branches keep u > v.
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy(col("u").as("a")).agg(min(col("v")).as("m"))
      e.join(m, col("u") === col("a")).drop("a")
        .where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(m.select(col("a").as("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .distinct()
    }
    // eager localCheckpoint per round: each round's plan references
    // the previous round's TWICE (contraction + fixpoint check), so
    // raw lineage would double per round — exponential plan blowup by
    // round ~20. Checkpointing truncates lineage to the materialized
    // edge list, keeping every round's plan O(1).
    val e0 = realPairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .distinct().localCheckpoint(true)
    // the node set derives from the CHECKPOINTED edge list, not the
    // raw pair source: the final label join consumes it lazily after
    // this function returns, and a plan over realPairs would re-run
    // the whole (corpus-scale) pair generation a second time there —
    // over e0 it re-reads the materialized edge blocks instead.
    // e0 therefore stays alive through the loop (the round unpersist
    // skips it) and releases with the returned plan on GC.
    val nodes = e0.select(col("u"))
      .unionByName(e0.select(col("v").as("u"))).distinct()
    var e = e0
    var cnt = e.count()
    var converged = cnt == 0
    var rounds = 0
    // union-find only matches Spark's least()/min() label choice for
    // integral ids (driver String order ≠ UTF8 binary order above the
    // surrogate range) — other types stay fully distributed
    val integralIds = {
      import org.apache.spark.sql.types.{IntegerType, LongType, ShortType}
      Seq(IntegerType, LongType, ShortType).contains(e.schema("u").dataType)
    }
    while (!converged && rounds < maxIters) {
      if (integralIds && cnt <= localThreshold) {
        val local = e.select(col("u").cast("long"), col("v").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        // the union-find labels are pure driver data — both edge
        // frames can release here
        if (e ne e0) e.unpersist()
        e0.unpersist()
        val spark = pairs.sparkSession
        import spark.implicits._
        val labels = unionFindMinLabels(local).toSeq.toDF("u", "label")
          .select(col("u").cast(e.schema("u").dataType).as("doc_id"),
            col("label").cast(e.schema("u").dataType).as("cluster_id"))
          .withColumn("is_survivor",
            (col("doc_id") === col("cluster_id")).cast("int"))
        return (labels, rounds)
      }
      val next = smallStar(largeStar(e)).localCheckpoint(true)
      val nextCnt = next.count()
      // exact fixpoint: equal cardinality + subset ⇒ equal edge sets
      // (both sides are distinct); at the fixpoint the edges form
      // rooted stars — every node points at its component minimum
      converged = nextCnt == cnt &&
        next.exceptAll(e).limit(1).collect().isEmpty
      // safe: next is materialized, no longer depends on e — but e0
      // must survive the loop (the final label join reads it)
      if (e ne e0) e.unpersist()
      e = next
      cnt = nextCnt
      rounds += 1
    }
    // returning unconverged labels would silently split real clusters
    // (and diverge from the transitive-closure oracle) — fail instead
    if (!converged && rounds >= maxIters)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIters rounds; " +
          "raise maxIters")
    // lazy over the two materialized edge frames (e0 for the node
    // set, the fixpoint e for the star roots); their checkpoint
    // blocks release when the returned plan is garbage-collected
    val labels = nodes
      .join(e.groupBy("u").agg(min(col("v")).as("label")), Seq("u"), "left")
      .select(col("u"), coalesce(col("label"), col("u")).as("label"))
    (labels.select(col("u").as("doc_id"), col("label").as("cluster_id"),
      (col("u") === col("label")).cast("int").as("is_survivor")), rounds)
  }

  /** Driver-side union-find with union-by-MIN-root and path
    * compression: the final root of every component IS its minimum
    * member, matching the distributed contraction's label choice
    * exactly. O(E α(E)); bounded by `localThreshold` rows upstream.
    */
  private def unionFindMinLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    parent.keysIterator.map(k => k -> find(k)).toMap
  }

  /** Driver query: resolve the exact-jaccard near-dup pairs into
    * clusters and flag survivors.
    */
  def clusterSurvivors(spark: SparkSession, sfDir: String,
      minJaccard: Double = 0.6): DataFrame =
    connectedComponents(ngramJaccard(spark, sfDir, minJaccard))

  /** QUALITY-BASED SURVIVORSHIP — keep-the-BEST member per near-dup
    * cluster instead of keep-the-min-id: real pipelines usually elect
    * the longest (most content) or highest-quality member, since the
    * min-id rule is bookkeeping, not a content decision. Every
    * cluster elects its most-words member (ties to the smaller
    * doc_id — fully deterministic); every doc maps to its cluster's
    * elect, singletons to themselves. The policy is one argmax over
    * the clustering the pipeline already maintains, so it composes
    * with [[sweepCurated]]-style retirement unchanged.
    * Returns (doc_id, survivor_id, is_best).
    */
  def clusterSurvivorsByQuality(spark: SparkSession, sfDir: String,
      minJaccard: Double = 0.6): DataFrame = {
    val docs = Tables.spreadCpu(Tables.load(spark, sfDir, "documents"))
    val nw = docs.select(col("doc_id"),
      size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"),
        lit(0))).cast("long").as("n_words"))
    val cc = connectedComponents(ngramJaccard(spark, sfDir, minJaccard))
    // argmax via max(struct(quality, -id)): max words, ties to the
    // SMALLER id — partial-agg friendly, no window shuffle
    val best = cc.select(col("doc_id"), col("cluster_id"))
      .join(nw, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(max(struct(col("n_words").as("q"),
        (-col("doc_id")).as("nid"))).as("b"))
      .select(col("cluster_id"), (-col("b.nid")).as("best_id"))
    docs.select(col("doc_id"))
      .join(cc.select(col("doc_id"), col("cluster_id")),
        Seq("doc_id"), "left")
      .join(best, Seq("cluster_id"), "left")
      .select(col("doc_id"),
        coalesce(col("best_id"), col("doc_id")).as("survivor_id"))
      .withColumn("is_best",
        (col("survivor_id") === col("doc_id")).cast("int"))
  }

  private def rotl(b: Column, i: Int): Column =
    if (i == 0) b
    else shiftleft(b, i).bitwiseOR(shiftrightunsigned(b, 64 - i))

  /** MinHash signatures as 64 codegen'd MIN aggregates over exploded
    * shingle postings. Permutation i mixes the two base hashes as
    * h1 XOR rotl(h2, i) — bijective, bitwise (no ANSI overflow).
    *
    * Why aggregates instead of array higher-order functions: Spark's
    * transform/zip_with lambdas run interpreted per row (outside
    * whole-stage codegen), while min() aggregates are fully
    * codegen'd AND partially aggregated map-side — each shingle
    * string is hashed exactly twice, and only (doc_id, 64 longs)
    * cross the shuffle.
    */
  private def minhashSigs(sh: DataFrame, numPerm: Int): DataFrame = {
    val posts = sh.select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"),
        xxhash64(col("s")).as("h1"), xxhash64(col("s"), lit(1)).as("h2"))
    val aggs = (0 until numPerm).map(i =>
      min(col("h1").bitwiseXOR(rotl(col("h2"), i))).as(s"m$i"))
    posts.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash + banded LSH near-dup candidates, verified with exact
    * Jaccard. numPerm=64 , bands=16 (r=4): P(candidate) = 1-(1-J^4)^16,
    * ~0.97 at J=0.8.
    *
    * Shuffle posture: the banded self-join carries only (doc_id,
    * band-signature) — ~50 bytes/row; the (large) shingle arrays are
    * re-joined only for the deduplicated candidate PAIRS, so sketch
    * bytes never fan out through the bucket join.
    */
  def minhashLsh(spark: SparkSession, sfDir: String,
      numPerm: Int = 64, bands: Int = 16,
      minJaccard: Double = 0.6): DataFrame =
    minhashLshOf(Tables.spreadCpu(Tables.load(spark, sfDir, "documents")),
      numPerm, bands, minJaccard)

  /** MinHash-LSH pairs over any (doc_id, text) frame — the pair
    * source `crossSplitLeaksOf` rides at 100 TB.
    */
  def minhashLshOf(docs: DataFrame,
      numPerm: Int = 64, bands: Int = 16,
      minJaccard: Double = 0.6): DataFrame = {
    val r = numPerm / bands
    val sh = shingles(docs)
      .filter(size(col("sh")) > 0)
    val sig = minhashSigs(sh, numPerm)
    val banded = sig.select(col("doc_id"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          concat_ws(",", (0 until r).map(i => col(s"m${b * r + i}")): _*)
            .as("bsig"))): _*)).as("bk"))
    val a = banded.as("a"); val b = banded.as("b")
    val cand = a.join(b,
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val withSets = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
    // length filter BEFORE the per-pair set intersection: J ≥ τ needs
    // compatible sizes, and size() is O(1) vs array_intersect's O(n)
    withSets
      .withColumn("na", size(col("sh_a"))).withColumn("nb", size(col("sh_b")))
      .filter(col("nb") >= col("na") * minJaccard - 1e-9 &&
        col("na") >= col("nb") * minJaccard - 1e-9)
      .withColumn("n_common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("na") + col("nb") - col("n_common")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** PORTABLE Carter-Wegman banded minhash signatures of a
    * (doc_id, sh) shingle frame — flat (doc_id, band, bsig) rows.
    * Per-doc and engine-deterministic (md5-derived residues, exact
    * integer arithmetic), so a doc sketched today and a doc sketched
    * next month carry comparable signatures — the property the
    * INCREMENTAL index ([[incrementalDedup]]) is built on.
    */
  private[graft] def portableBands(sh: DataFrame,
      numPerm: Int = 16, bands: Int = 4): DataFrame = {
    val r = numPerm / bands
    // Carter-Wegman family in GF(2^31−1): sig_i = (a_i·x + y) mod p
    // with x,y the md5-half residues. Products stay < 2^62 (ANSI-
    // safe) and the arithmetic is engine-portable. (A first attempt
    // used h1 + i·h2 over the raw 60-bit halves — the i·h2 term is
    // negligible against h1, so every "permutation" ordered
    // identically; caught by the Jaccard-estimator property test.)
    val p = 2147483647L
    val rawPosts = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    // md5 DICTIONARY: hash each DISTINCT shingle once and join the
    // (shingle → residues) table back over the postings — ~10×
    // fewer digest computations on repetitive corpora. The distinct
    // agg shuffles only per-partition partials (vocab-bounded). NO
    // explicit broadcast hint: a hint is never demoted (a corpus-
    // sized vocabulary would OOM the driver instead of degrading);
    // unhinted, AQE broadcasts when the built dictionary is small
    // and shuffle-joins when the vocabulary is corpus-sized.
    val dict = rawPosts.select(col("s")).distinct()
      .select(col("s"),
        (Tables.md5Residue(col("s")) % p).as("x"),
        (Tables.md5Residue(col("s"), offset = 17) % p).as("y"))
    val posts = rawPosts.join(dict, Seq("s"))
      .select(col("doc_id"), col("x"), col("y"))
    val aggs = (0 until numPerm).map { i =>
      val ai = (i.toLong * 1103515245L + 12345L) % p
      min((lit(ai) * col("x") + col("y")) % p).as(s"m$i")
    } :+ count(lit(1)).as("n_sh") // the doc's shingle-set size rides
    // the same aggregate for free — the incremental index stores it
    // so probes length-filter before any shingle fetch
    val sig = posts.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    sig.select(col("doc_id"), col("n_sh").cast("int").as("n_sh"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            concat_ws(",", (0 until r).map(i => col(s"m${b * r + i}")): _*)
              .as("bsig"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.bsig").as("bsig"), col("n_sh"))
  }

  /** MinHash-LSH with a PORTABLE hash family — h1/h2 are the two
    * md5-hex halves of each shingle parsed as 60-bit ints,
    * permutation i is h1 + i·(h2 mod 1e9+7) (overflow-free under
    * ANSI) — so the ENTIRE index (signatures, bands, candidates,
    * verification) is replicated in the DuckDB oracle and checked
    * end-to-end, not just spec-tested. xxhash64 variant
    * (`minhashLsh`) stays the fast path; this one is the
    * cross-engine-verifiable spelling. numPerm=16, bands=4 (r=4).
    */
  def minhashPortable(spark: SparkSession, sfDir: String,
      numPerm: Int = 16, bands: Int = 4,
      minJaccard: Double = 0.6): DataFrame = {
    val sh = shingles(Tables.spreadCpu(
      Tables.load(spark, sfDir, "documents")))
      .filter(size(col("sh")) > 0)
    val banded = portableBands(sh, numPerm, bands)
    val a = banded.as("a"); val b = banded.as("b")
    val cand = a.join(b,
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      // same length filter as minhashLsh: prune before the O(n)
      // intersection; only drops pairs that cannot reach τ
      .withColumn("na", size(col("sh_a"))).withColumn("nb", size(col("sh_b")))
      .filter(col("nb") >= col("na") * minJaccard - 1e-9 &&
        col("na") >= col("nb") * minJaccard - 1e-9)
      .withColumn("n_common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("na") + col("nb") - col("n_common")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"),
        col("n_common").cast("int").as("n_common"), col("jaccard"))
  }

  /** Idempotency keys for the incremental index's two appends —
    * public so a replay harness (or spec) can observe/seed the
    * transaction ledger the appends write under.
    */
  val incrShinglesAppId = "graft-dedup-incr-shingles"
  val incrSigsAppId = "graft-dedup-incr-sigs"

  /** Driver-side cap on the candidate doc_id set collected to prune
    * the verification fetch — 4M ids ≈ 32 MB on the driver. Above it
    * the fetch falls back to the full (column-pruned) shingle scan.
    */
  private val candidateFetchCap = 4 << 20

  /** BYTE budget for the STRING probe keys the bloom-scoped fetch
    * collects driver-side (rows × the caller's declared per-key
    * length bound — a count cap sized for 8-byte doubles would admit
    * multi-GB string sets): past it the probe switches to the
    * EXECUTOR-SIDE sidecar consult
    * ([[graft.tables.GraftTable.snapshotBloomInDistributedWithCount]])
    * — same pruning, no driver key collect at any batch size.
    * Overridable for tests.
    */
  private[graft] var candidateKeyByteBudget: Long = 32L << 20

  /** Shared BLOOM-SCOPED point fetch for the incremental probes (the
    * minhash signature fetch and the exact-dedup ledger join): the
    * batch's distinct keys prune `t`'s read through the per-file
    * bloom sidecars (no Catalyst round-trip: min/max stats can't
    * prune a hash-uniform key anyway), and a LEFT-SEMI join against
    * the key frame restricts rows without building an N-literal IN
    * (AQE broadcasts the batch side; rows whose key matches no batch
    * key can't satisfy the downstream equi-join, so the restriction
    * is semantics-preserving). Small key sets (within BOTH the count
    * cap and the byte budget) collect driver-side and probe the
    * memoized sidecar cache; larger sets keep the keys distributed
    * and fan the same consult out over executors — per-batch probe
    * I/O stays O(batch + matches) at ANY batch size, with no driver
    * allocation past the budget. Returns (stored frame, files read).
    */
  private def bloomScopedFetch(t: graft.tables.GraftTable,
      keyCol: String, keys: DataFrame, filesTotal: Int,
      maxKeyLen: Int): (DataFrame, Int) = {
    val distinctKeys = keys.where(col(keyCol).isNotNull).distinct()
    // ONE bounded action routes AND fetches the driver-side keys
    // (guide §1.2 — this ran as a count+bytes aggregate followed by a
    // second full collect): the caller declares its keys' structural
    // length bound (md5 hex = 32, banded sigs = digits+commas), so a
    // ROW cap of byteBudget/maxKeyLen bounds the collected bytes the
    // way the byte-denominated budget did. A key over the declared
    // bound (impossible by construction; checked anyway) or an
    // overflowing head routes to the executor-side consult, which
    // never needed the count.
    val rowCap = math.max(0L, math.min(candidateFetchCap.toLong,
      candidateKeyByteBudget / math.max(1, maxKeyLen))).toInt
    val head = distinctKeys.limit(rowCap + 1).collect()
    if (head.isEmpty) (t.snapshot().limit(0), 0)
    else if (head.length <= rowCap &&
        head.forall(_.getString(0).length <= maxKeyLen)) {
      val (df, kept, _) = t.snapshotBloomInWithCount(keyCol,
        head.map(_.getString(0)).toIndexedSeq)
      (df.join(keys.distinct(), Seq(keyCol), "left_semi"), kept)
    } else {
      // over budget: the consult runs where the keys already live
      val dk = distinctKeys
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (df, kept, _) =
        t.snapshotBloomInDistributedWithCount(keyCol, dk)
      val out = (df.join(keys.distinct(), Seq(keyCol), "left_semi"), kept)
      dk.unpersist()
      out
    }
  }

  /** Diagnostics from one [[incrementalDedup]] run — how much of the
    * stored shingle table the verification fetch read, and how much
    * of the stored signature table the band probe read.
    */
  final case class IncrementalDedupStats(
      shingleFilesTotal: Int, shingleFilesRead: Int, candidatePairs: Long,
      sigFilesTotal: Int = 0, sigFilesRead: Int = 0)

  /** INCREMENTAL dedup against a PERSISTED signature index — the
    * continuous-ingestion shape of the minhash family, which is how a
    * 100 TB pipeline actually runs: the corpus's banded signatures
    * and shingle sets live in two GraftTables under `indexPath`
    * (`sigs/`, `shingles/`); each new batch sketches MAP-SIDE only
    * itself, probes the index by band-signature equi-join (no
    * re-sketch, no corpus re-scan — the join touches only matching
    * band buckets), verifies candidates with EXACT Jaccard over the
    * stored shingle sets, and appends its own rows (shingles first —
    * see the fail-safe note below). CANDIDATE GENERATION is
    * bucket-scoped — the sigs join touches only matching band
    * buckets, AND the stored-signature FETCH itself is BLOOM-scoped:
    * the sigs table declares a per-file bloom index on bsig at
    * creation, and the batch's own signatures prune the read to
    * files that may hold a matching one (range stats never could:
    * bsig is hash-uniform), so per-batch signature I/O is
    * O(batch + true matches), not O(corpus). A LENGTH FILTER on the
    * n_sh carried in the sigs rows kills size-incompatible
    * candidates before any shingle fetch. VERIFICATION is
    * candidate-pruned: appends land doc_id-
    * clustered (range-partitioned, sorted — [[clusteredByDocId]]), so
    * each stored file covers a narrow doc_id interval, and the fetch
    * reads only files whose interval intersects the collected
    * candidate id set ([[graft.tables.GraftTable.filesPrunedIn]]) —
    * per-batch verification I/O is O(batch + candidates), not
    * O(corpus). Candidate sets past [[candidateFetchCap]] fall back
    * to the full column-pruned scan rather than flooding the driver.
    *
    * Signatures are per-doc deterministic ([[portableBands]]'s
    * md5-derived integer arithmetic), so incremental probing is
    * EXACTLY equivalent to running the batch family over
    * (corpus ∪ batch) and keeping the pairs that touch the batch —
    * each pair surfaces exactly once, in the batch of its later
    * member (spec-asserted as set equality; the driver oracle
    * replays index construction + probe relationally in DuckDB).
    *
    * `batchId` ≥ 0 makes the two index appends IDEMPOTENT under
    * replay (GraftTable.appendIfNew keyed by
    * [[incrShinglesAppId]]/[[incrSigsAppId]]): a crash between the
    * two commits, then a replay of the same batch, re-appends only
    * the missing side — no duplicate (doc_id, sh) rows that would
    * multiply future verification pairs. Pass a monotonically
    * increasing id per batch; -1 (ad-hoc) appends unconditionally.
    *
    * Returns (doc_a, doc_b, n_common, jaccard) with doc_a < doc_b,
    * at least one side from `newDocs`.
    */
  def incrementalDedup(spark: SparkSession, indexPath: String,
      newDocs: DataFrame, numPerm: Int = 16, bands: Int = 4,
      minJaccard: Double = 0.6, batchId: Long = -1L,
      pipelineId: String = ""): DataFrame =
    incrementalDedupWithStats(spark, indexPath, newDocs, numPerm,
      bands, minJaccard, batchId, pipelineId = pipelineId)._1

  /** PROBE-ONLY serving path: the same bucket-scoped candidate join
    * and candidate-pruned verification as [[incrementalDedup]], but
    * READ-ONLY — the batch is not indexed. This is the steady-state
    * "screen an arriving batch against the corpus" latency a deployed
    * index answers at, separated from the one-time sketch-and-append
    * cost (admission control, dry-run dedup, what-if screening).
    * Result ≡ [[incrementalDedup]]'s pair set for the same batch.
    */
  def incrementalProbe(spark: SparkSession, indexPath: String,
      newDocs: DataFrame, numPerm: Int = 16, bands: Int = 4,
      minJaccard: Double = 0.6): DataFrame =
    incrementalDedupWithStats(spark, indexPath, newDocs, numPerm,
      bands, minJaccard, batchId = -1L, append = false)._1

  /** [[incrementalDedup]] plus its verification-fetch diagnostics.
    * `append = false` probes without indexing the batch
    * ([[incrementalProbe]]).
    */
  def incrementalDedupWithStats(spark: SparkSession, indexPath: String,
      newDocs: DataFrame, numPerm: Int = 16, bands: Int = 4,
      minJaccard: Double = 0.6, batchId: Long = -1L,
      append: Boolean = true, pipelineId: String = "")
      : (DataFrame, IncrementalDedupStats) = {
    val (sigsT, shT, newSh, newBands) =
      sketchAndLoad(spark, indexPath, newDocs, numPerm, bands)
    // any failure below (a lost append race, a bad index state)
    // releases every persisted intermediate — the sketch caches and
    // the candidate/pair frames — instead of stranding block-manager
    // entries per streaming retry (the admitBatch discipline)
    var candRef: Option[DataFrame] = None
    var outRef: Option[DataFrame] = None
    try {
    // SIGNATURE fetch is BLOOM-SCOPED (the r10 shingle treatment's
    // twin, closing the last O(corpus) term in the probe): the
    // batch's own band signatures collect driver-side (bounded by
    // bands × batch docs, capped) and push an IN probe through
    // snapshotCandidates — the per-file bloom sidecars the sigs
    // table declares at creation (graft.bloom.columns=bsig) admit
    // only files that may hold a MATCHING signature. A signature
    // matches a stored one only for genuine near-dups (r values in
    // GF(2^31−1) agreeing by chance is ~2^-124), so the probe reads
    // ≈ files holding true candidates + bloom false positives — not
    // the signature table. Min/max stats could never do this: bsig
    // is hash-uniform, every file's range covers the space. The
    // row-level restriction after the file prune is semantics-
    // preserving — a stored row whose bsig matches no batch
    // signature cannot satisfy the band equi-join.
    val sigInfo = sigsT.snapshotInfo(sigsT.latestVersion)
    // bsig length bound: r = numPerm/bands residues < 2^31 (≤10
    // digits each) joined by r-1 commas
    val (stored, sigFilesRead) = bloomScopedFetch(sigsT, "bsig",
      newBands.select(col("bsig")), sigInfo.files.size,
      maxKeyLen = (numPerm / bands) * 11)
    // candidates: new docs against the WHOLE population (index ∪ this
    // batch) — orient (min, max) so a pair surfaces exactly once; the
    // LENGTH FILTER runs on the n_sh carried in the sigs rows, so
    // size-incompatible pairs die before any shingle set is fetched
    val all = stored.unionByName(newBands)
    val cand = newBands.as("a").join(all.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.doc_id") =!= col("b.doc_id") &&
          col("b.n_sh") >= col("a.n_sh") * minJaccard - 1e-9 &&
          col("a.n_sh") >= col("b.n_sh") * minJaccard - 1e-9)
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("b.doc_id"), col("a.doc_id")).as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      // the pair set is candidate-scale (post-LSH, post-length-filter)
      // — materialize it once; its ids then prune the shingle fetch
      // and the verify join reuses the cached rows
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    candRef = Some(cand)
    // The EXPENSIVE action comes first (guide §1.2): the id collect
    // materializes the candidate cache (the LSH join), so the stats
    // count below is a cache-local scan instead of a second candidate
    // join — and the driver cap now bounds the ACTUAL collected ids
    // rather than the old 2·pairs proxy (same memory bound, strictly
    // rarer full-scan fallback). An Observation metric riding the
    // collect was measured here and REVERTED: registering session
    // observations made the later ml_risk_score LR-model closure
    // serialization reach the session's non-serializable
    // ObservationManager in full-sweep sessions (order-dependent
    // verify failure) — not worth one cache-local count.
    val idRows = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("id"))
      .distinct().limit(candidateFetchCap + 1).collect()
    // the distinct above aggregates over EVERY cand partition, so the
    // collect fully materialized the cache — the pair count reads the
    // InMemoryRelation row-count statistic without a job (the
    // clusteredByDocId posture; guide §1.2 — this was a separate
    // cache-local count action per probe)
    val nPairs = if (idRows.isEmpty) 0L
      else cand.queryExecution.optimizedPlan.stats.rowCount
        .map(_.toLong).getOrElse(cand.count())
    // distinct candidate ids, driver-side (capped at candidateFetchCap)
    val candIds: Array[Double] =
      if (idRows.length > candidateFetchCap) null
      else {
        val ids = idRows.map(_.getAs[Number](0).longValue)
        // the stats-prune interval is DOUBLE-typed: an id at/above
        // 2^53 does not round-trip, so a file whose [min, max] holds
        // the true id but not the rounded one would be pruned and
        // its verified pair silently lost — above the exactness
        // ceiling the probe falls back to the full scan (the
        // statExactCeiling posture, correctness over pruning)
        if (ids.exists(id => math.abs(id) >= (1L << 53))) null
        else ids.map(_.toDouble)
      }
    val info = shT.snapshotInfo(shT.latestVersion)
    val (shStored, filesRead) =
      if (candIds == null) (shT.snapshot(), info.files.size)
      else shT.snapshotPrunedInWithCount("doc_id", candIds)
    // defense-in-depth vs a pre-idempotency index holding replayed
    // duplicate rows: one row per stored doc. The dedupe runs AFTER
    // file pruning, so it shuffles candidates, not the corpus.
    val shAll = shStored.dropDuplicates("doc_id").unionByName(newSh)
    val pairs = cand
      .join(shAll.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(shAll.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("na", size(col("sh_a"))).withColumn("nb", size(col("sh_b")))
      .withColumn("n_common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("na") + col("nb") - col("n_common")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"),
        col("n_common").cast("int").as("n_common"), col("jaccard"))
    // materialize the (small) pair result while the batch sketches
    // are still cached — the corpus-scale newSh/newBands frames then
    // unpersist below without forcing a full re-sketch when the
    // caller collects
    val out = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    outRef = Some(out)
    out.count()
    if (append) appendBatch(sigsT, shT, newSh, newBands, batchId,
      pipelineId, bands)
    cand.unpersist()
    newSh.unpersist()
    newBands.unpersist()
    (out, IncrementalDedupStats(info.files.size, filesRead, nPairs,
      sigInfo.files.size, sigFilesRead))
    } catch { case t: Throwable =>
      newSh.unpersist()
      newBands.unpersist()
      candRef.foreach(_.unpersist())
      outRef.foreach(_.unpersist())
      throw t
    }
  }

  /** Index a batch WITHOUT probing — seeding a fresh index, or bulk
    * back-fill, where computing (and discarding) the intra-batch pair
    * verification would be pure waste. `batchId` as in
    * [[incrementalDedup]].
    */
  def incrementalIndex(spark: SparkSession, indexPath: String,
      docs: DataFrame, numPerm: Int = 16, bands: Int = 4,
      batchId: Long = -1L, pipelineId: String = ""): Unit = {
    val (sigsT, shT, newSh, newBands) =
      sketchAndLoad(spark, indexPath, docs, numPerm, bands)
    // a lost append race must not strand the sketch caches (one
    // batch-sized pair per streaming retry)
    try appendBatch(sigsT, shT, newSh, newBands, batchId, pipelineId,
      bands)
    finally {
      newSh.unpersist()
      newBands.unpersist(): Unit
    }
  }

  /** The index's two appends. FAIL-SAFE order: shingles FIRST, then
    * signatures. A crash between the two commits leaves orphan
    * shingle rows (inert — candidates originate from sigs), never
    * orphan signatures (whose candidates would silently drop in the
    * verify join and lose pairs forever). With `batchId` ≥ 0 each
    * append is additionally IDEMPOTENT (keyed per table), so a
    * replay after any crash point re-lands exactly the missing side.
    * Shingles land doc_id-clustered so the candidate fetch prunes.
    */
  private def appendBatch(sigsT: graft.tables.GraftTable,
      shT: graft.tables.GraftTable, newSh: DataFrame,
      newBands: DataFrame, batchId: Long,
      pipelineId: String, bands: Int): Unit = {
    // one count sizes both appends: sigs rows are exactly docs × bands
    // (portableBands explodes one struct per band), so the shingle
    // count sizes the sig files too — no extra action
    val docRows = batchDocRows(newSh)
    val clustered = clusteredByDocId(newSh, docRows)
    val sized = sizedBands(newBands, docRows, bands)
    if (batchId >= 0L) {
      // the watermark key carries the PIPELINE id: two pipelines
      // (two curationStreams, two checkpoints) sharing one index
      // each run their own batch-id sequence from 0 — on one
      // constant key the second pipeline's batch 0 would read as a
      // replay of the first's and its index append would silently
      // skip (lost signatures, near-dups admitted forever). The
      // admission-audit lesson (r11), applied to the index appends.
      shT.appendIfNew(clustered, batchId,
        appId = incrShinglesAppId + pipelineId)
      sigsT.appendIfNew(sized, batchId,
        appId = incrSigsAppId + pipelineId)
    } else {
      shT.append(clustered)
      sigsT.append(sized)
    }
  }

  /** Periodic MAINTENANCE for the incremental index — the piece a
    * continuous pipeline runs nightly: thousands of batches leave one
    * shingle file each (ranges overlapping across batches, which
    * widens what the candidate fetch must read) and as many sig
    * files. Re-CLUSTER the shingles by doc_id (restores tight,
    * disjoint per-file ranges — plain compaction would merge ranges
    * and blunt the pruning) and bin-pack the sigs — their bloom
    * sidecars rebuild with the rewrite (every GraftTable write path
    * builds sidecars for declared columns), so the band probe's
    * per-file pruning survives compaction. Both are ordinary
    * GraftTable commits: every commit carries the idempotency
    * watermarks forward in its protocol state, so they survive the
    * rewrite, and a concurrent batch conflicts safely instead of
    * losing rows.
    *
    * `clustersPath`/`curatedPath` make this the ONE nightly front
    * door (the [[forgetEverywhere]] lesson applied to maintenance):
    * with `clustersPath`, the clusters state table bin-packs too
    * ([[maintainClusters]]); with both, the curated table is first
    * SWEPT of cross-cycle near-dup slip-throughs ([[sweepCurated]] —
    * survivorship repair needs the clustering, so it rides the same
    * schedule) and then bin-packed itself, so the sweep's
    * merge-stranded versions are reclaimed by the same vacuum window
    * instead of accreting until someone remembers a fourth job.
    */
  def maintainIndex(spark: SparkSession, indexPath: String,
      targetDocsPerFile: Long = 250000L,
      vacuumRetainHours: Double = -1.0,
      clustersPath: Option[String] = None,
      curatedPath: Option[String] = None): Unit = {
    require(curatedPath.isEmpty || clustersPath.nonEmpty,
      "curatedPath needs clustersPath: the sweep keys off the " +
        "maintained clustering")
    // sweep FIRST: it reads the clustering and merges deletes into
    // the curated table, so the bin-pack below reclaims its strands
    for (cur <- curatedPath; cl <- clustersPath) {
      val t = graft.tables.GraftTable.load(spark, cur)
      sweepCurated(spark, t, cl): Unit
      t.compactToSize()
      if (vacuumRetainHours >= 0) t.vacuumRetainHours(vacuumRetainHours)
    }
    clustersPath.foreach(maintainClusters(spark, _, vacuumRetainHours))
    import graft.tables.GraftTable
    val shT = GraftTable.load(spark,
      java.nio.file.Paths.get(indexPath, "shingles").toString)
    val n = math.max(1L, (shT.rowCount.getOrElse(0L) +
      targetDocsPerFile - 1) / targetDocsPerFile).toInt
    shT.clusterBy(n, "doc_id")
    // the sigs table declares its bloom index at creation
    // (sketchAndLoad), so compaction rebuilds sidecars with the files
    val sigsT = GraftTable.load(spark,
      java.nio.file.Paths.get(indexPath, "sigs").toString)
    sigsT.compactToSize()
    // the re-cluster/compaction strands the per-batch files as dead
    // versions; nightly maintenance reclaims them too (bounded by the
    // retention window so concurrent probes finish their reads)
    if (vacuumRetainHours >= 0) {
      shT.vacuumRetainHours(vacuumRetainHours)
      sigsT.vacuumRetainHours(vacuumRetainHours)
    }
  }

  /** CONTINUOUS nightly maintenance — [[maintainIndex]]'s one front
    * door as a lease-arbitrated loop (the exact posture
    * [[Similarity.continuousMaintain]] gives the ANN index): a
    * streaming query over the index's shingles subtable CDC stream
    * (rows are only the trigger — never acted on) runs one
    * maintenance cycle per micro-batch, so per-batch file debris,
    * curated survivorship slip-throughs and cluster-table bloat are
    * repaired within a trigger interval of the admission that caused
    * them. Cross-session arbitration is the shared lease registry
    * (atomic claim, heartbeat CAS, interval-scaled stale window):
    * exactly one maintenance loop per index, however many sessions
    * start one. A cycle racing a live admission loses conflict
    * resolution cleanly and retries next trigger. The loop settles:
    * once swept, clustered and packed, a cycle commits nothing and
    * stops re-triggering itself.
    */
  def continuousMaintain(spark: SparkSession, indexPath: String,
      interval: String = "10 seconds",
      targetDocsPerFile: Long = 250000L,
      vacuumRetainHours: Double = -1.0,
      clustersPath: Option[String] = None,
      curatedPath: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val root = java.nio.file.Paths.get(indexPath).toAbsolutePath.toString
    val shPath = java.nio.file.Paths.get(indexPath, "shingles").toString
    graft.tables.GraftSql.continuousRegistry.start(spark, root, interval,
      beforeEpoch => spark.readStream.format("graft-table")
        .option("path", shPath)
        .option("mode", "cdc")
        .load()
        .writeStream
        .option("checkpointLocation", java.nio.file.Paths
          .get(root, "_continuous_maintain_cp").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger
          .ProcessingTime(interval))
        .foreachBatch { (_: DataFrame, _: Long) =>
          beforeEpoch()
          try maintainIndex(spark, indexPath, targetDocsPerFile,
            vacuumRetainHours, clustersPath, curatedPath)
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
    * (foreign-lease semantics exactly as the registry defines them).
    */
  def stopContinuousMaintain(indexPath: String): Boolean =
    graft.tables.GraftSql.continuousRegistry.stop(
      java.nio.file.Paths.get(indexPath).toAbsolutePath.toString)

  /** Range-partition a batch's shingle rows by doc_id (sorted within
    * partitions) before the append: every stored file then covers a
    * NARROW doc_id interval, which is what lets the verification
    * fetch prune by commit-log min/max stats. One extra O(batch)
    * shuffle per batch buys O(candidates) verification I/O forever.
    * ~250k docs per file; a single-partition batch skips the shuffle.
    */
  private def clusteredByDocId(newSh: DataFrame, docRows: Long): DataFrame = {
    val parts = math.max(1L, (docRows + 249999L) / 250000L).toInt
    if (parts == 1) newSh.coalesce(1).sortWithinPartitions("doc_id")
    else newSh.repartitionByRange(parts, col("doc_id"))
      .sortWithinPartitions("doc_id")
  }

  /** Row count of the persisted batch shingle frame. When the probe
    * already materialized the cache, the InMemoryRelation's row-count
    * statistic answers without a job (guide §1.2 — one fewer action
    * per append). The index-only path (append before any probe
    * action) falls back to the count, which doubles as the cache
    * materialization.
    */
  private def batchDocRows(newSh: DataFrame): Long =
    newSh.queryExecution.optimizedPlan.stats.rowCount
      .map(_.toLong).getOrElse(newSh.count())

  /** Target sig rows per stored file. A sig row is tens of bytes
    * (doc_id, band, ~40-char bsig, n_sh), so 2M rows ≈ 60–120 MB —
    * guide §6's file-size band. Small enough that a nightly
    * maintainIndex bin-pack still has work to do only on pathological
    * trickles; large enough that per-file costs (bloom sidecar write,
    * listing, sidecar probe) stay amortized.
    */
  private val sigRowsPerFile = 2000000L

  /** Size the banded-signature append by DATA, not by core count
    * (guide §6 output file sizing / §2.2 fewer-larger): the sketch
    * plan's shuffle partitioning is frozen by the persisted cache
    * (AQE cannot re-coalesce a cached plan's output partitioning), so
    * an un-coalesced append writes one file PER CORE-COUNT PARTITION
    * per batch — measured on a 10× corpus at 32 vs 8 cores: 129 vs 33
    * sig files for the identical data, and every file pays a bloom
    * sidecar write at append time plus a sidecar consult at probe
    * time forever. `coalesce` is narrow (no shuffle, reads the cache)
    * and a no-op when the frame already has fewer partitions, so a
    * corpus-sized batch at scale keeps its parallelism.
    */
  private def sizedBands(newBands: DataFrame, docRows: Long,
      bands: Int): DataFrame = {
    val parts = math.max(1L,
      (docRows * bands + sigRowsPerFile - 1) / sigRowsPerFile)
    newBands.coalesce(math.min(parts, Int.MaxValue.toLong).toInt)
  }

  /** Shared sketch+load for the incremental index: (sigs table,
    * shingles table, persisted batch shingles, persisted batch
    * banded sigs with n_sh).
    */
  private def sketchAndLoad(spark: SparkSession, indexPath: String,
      newDocs: DataFrame, numPerm: Int, bands: Int)
      : (graft.tables.GraftTable, graft.tables.GraftTable,
         DataFrame, DataFrame) = {
    import graft.tables.GraftTable
    val sigsPath = java.nio.file.Paths.get(indexPath, "sigs").toString
    val shPath = java.nio.file.Paths.get(indexPath, "shingles").toString
    val newSh = shingles(newDocs).filter(size(col("sh")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // sigs rows carry the doc's shingle count (computed inside the
    // signature aggregate — no extra join) so the probe's length
    // filter runs before any stored shingle set is fetched
    val newBands = portableBands(newSh, numPerm, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // race-safe create-or-load: two pipelines' first batches can
    // initialize one shared index concurrently — the loser loads
    def tableOrCreate(path: String, template: DataFrame,
        props: Map[String, String] = Map.empty): GraftTable =
      GraftTable.createIfAbsent(spark, path, template.limit(0), props)
    // the sigs table declares a bloom index on bsig from birth: every
    // append then writes per-file sidecars, and the band probe's IN
    // push-down prunes through them (min/max stats are useless on a
    // hash-uniform key). The shingle table prunes by doc_id RANGE
    // stats instead — appends land range-clustered.
    (tableOrCreate(sigsPath, newBands,
        Map("graft.bloom.columns" -> "bsig")),
      tableOrCreate(shPath, newSh),
      newSh, newBands)
  }

  /** Incremental EXACT dedup against a persisted content-hash
    * LEDGER: (content_hash, canonical_id) rows live in a GraftTable;
    * each new batch hashes map-side, joins the ledger to find
    * duplicates of already-indexed docs (plus in-batch dups), and
    * appends only its NOVEL hashes' canonical rows — O(batch) per
    * batch forever, the exact-dedup twin of [[incrementalDedup]].
    * Spec-covered on a constructed corpus (the synthetic documents
    * table has no exact duplicates at the driver's gate SFs — a
    * driver oracle would be a 0-row no-op).
    * Returns (doc_id, canonical_id, content_hash) for every batch doc
    * duplicating an earlier doc (stored, or earlier-in-batch by min
    * doc_id).
    */
  def incrementalExact(spark: SparkSession, indexPath: String,
      newDocs: DataFrame): DataFrame =
    incrementalExactWithStats(spark, indexPath, newDocs)._1

  /** Ledger-probe diagnostics for [[incrementalExact]]. */
  final case class IncrementalExactStats(
      ledgerFilesTotal: Int, ledgerFilesRead: Int)

  /** [[incrementalExact]] plus how much of the stored hash ledger the
    * batch probe actually read.
    */
  def incrementalExactWithStats(spark: SparkSession, indexPath: String,
      newDocs: DataFrame): (DataFrame, IncrementalExactStats) = {
    import graft.tables.GraftTable
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // null text hashes to null, which never equi-matches: without the
    // guard every batch would append another (null, min) ledger row
    // and null-text docs would never flag as duplicates of each other
    val hashed = newDocs
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
      .where(col("content_hash").isNotNull)
      .persist(MEMORY_AND_DISK)
    // the ledger declares a bloom index on content_hash from birth
    // (hash-uniform key: range stats cannot prune it); race-safe
    // create-or-load — a concurrent initializer's loser loads
    val t = GraftTable.createIfAbsent(spark, indexPath, hashed
        .select(col("content_hash"), col("doc_id").as("canonical_id"))
        .limit(0),
      Map("graft.bloom.columns" -> "content_hash"))
    // LEDGER probe is BLOOM-SCOPED, like the minhash sig fetch: the
    // batch's distinct hashes push an IN probe through the per-file
    // sidecars, so the left join below reads ≈ files holding true
    // re-occurrences (+ false positives), not the whole O(corpus)
    // ledger. The row restriction is join-semantics-preserving.
    val ledgerInfo = t.snapshotInfo(t.latestVersion)
    val (stored0, ledgerRead) = bloomScopedFetch(t, "content_hash",
      hashed.select(col("content_hash")), ledgerInfo.files.size,
      maxKeyLen = 32) // md5 hex digest
    // defense-in-depth vs duplicate ledger rows (two racing batches
    // both blind-appending the same novel hash — the minhash twin's
    // shStored.dropDuplicates posture): one canonical per hash,
    // deterministically the minimum; duplicates would otherwise fan
    // every future probe's join into conflicting verdict rows forever
    val stored = stored0.groupBy("content_hash")
      .agg(min(col("canonical_id")).as("canonical_id"))
    val canon = hashed.groupBy("content_hash")
      .agg(min(col("doc_id")).as("batch_min"))
      .join(stored, Seq("content_hash"), "left")
      .select(col("content_hash"),
        coalesce(col("canonical_id"), col("batch_min")).as("canon"),
        col("canonical_id").isNull.as("novel"), col("batch_min"))
    val dups = hashed.join(canon, Seq("content_hash"))
      .where(col("doc_id") =!= col("canon"))
      .select(col("doc_id"), col("canon").as("canonical_id"),
        col("content_hash"))
    // the returned plan reads the pre-append ledger snapshot
    // (version-pinned), so no materialization is needed before the
    // append; the ledger advances with only the novel canonicals
    t.append(canon.where(col("novel"))
      .select(col("content_hash"), col("batch_min").as("canonical_id")))
    hashed.unpersist()
    (dups, IncrementalExactStats(ledgerInfo.files.size, ledgerRead))
  }

  /** Driver scenario for [[incrementalDedup]]: the 80% slice of the
    * corpus (doc_id % 5 ≠ 0) is indexed first; the 20% slice arrives
    * as the incremental batch and is deduped against index + itself.
    * The oracle replays signatures, banding, candidates and exact
    * verification over the FULL corpus in DuckDB and keeps exactly
    * the batch-touching pairs — equality proves incremental ≡ batch.
    */
  def incrementalScenario(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val path = java.nio.file.Files
      .createTempDirectory("graft_dedupidx_").toString
    incrementalIndex(spark, path, docs.filter(col("doc_id") % 5 =!= 0),
      batchId = 0L)
    // localized(): the pair frame incrementalDedupWithStats persists
    // by contract is collected (screen results are pair-sized) and
    // released — a bench harness only counts the return, so the
    // persisted spelling would strand one cache entry per invocation
    localized(incrementalDedup(spark, path,
      docs.filter(col("doc_id") % 5 === 0), batchId = 1L))
  }

  private val probeIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Serve-path twin of [[incrementalScenario]] (the honest-bench
    * split the ANN family got in `annIncrementalServe`): the index
    * over the 80% corpus builds ONCE per process; every invocation
    * times only the READ-ONLY probe of the 20% batch — the
    * steady-state screening latency, separated from the one-time
    * index build the combined scenario is dominated by. Same pair
    * set, same oracle as `dedup_incremental`.
    */
  def incrementalProbeScenario(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val path = probeIndexes.computeIfAbsent(sfDir, _ => {
      val p = java.nio.file.Files
        .createTempDirectory("graft_dedupserve_").toString
      incrementalIndex(spark, p, docs.filter(col("doc_id") % 5 =!= 0),
        batchId = 0L)
      p
    })
    localized(incrementalProbe(spark, path,
      docs.filter(col("doc_id") % 5 === 0)))
  }

  /** INCREMENTALLY maintained clustering over ACCUMULATING dup pairs
    * — the continuous companion of [[connectedComponents]]: a
    * pipeline that screens every arriving batch ([[incrementalDedup]])
    * wants the CLUSTER assignment (canonical id per near-dup group)
    * maintained too, without re-running connected components over
    * every edge ever seen. The maintained state is a GraftTable at
    * `clustersPath` holding (doc_id, root) with root = the MIN doc_id
    * of the component — identical to the batch algorithm's labels, so
    * incremental ≡ batch at any point.
    *
    * Per batch: (1) map the new pairs' endpoints to their CURRENT
    * roots (left join against the state; unseen docs are their own
    * root); (2) contract — distinct root-level edges are
    * BATCH-scale, not corpus-scale; (3) run connected components on
    * that contracted graph only; (4) MERGE the changed assignments —
    * rows of merged components re-root, new docs insert — through the
    * transactional upsert, whose key-envelope probe keeps the
    * rewrite file-granular. Per-batch cost is
    * O(batch pairs + rows of touched components); untouched
    * components are never read or written. The single MERGE commit
    * makes a replayed batch a semantic no-op (same values upsert
    * again).
    *
    * Returns the batch's DELTA: (doc_id, cluster_id, is_survivor)
    * for every assignment this batch created or changed.
    * [[clustersView]] reads the full maintained state.
    */
  def incrementalClusters(spark: SparkSession, clustersPath: String,
      newPairs: DataFrame, localThreshold: Long = 65536L): DataFrame = {
    import graft.tables.GraftTable
    val rootsT = GraftTable.createIfAbsent(spark, clustersPath,
      spark.range(0).select(col("id").as("doc_id"), col("id").as("root")))
    // pin the READ version: the fold's values derive from this
    // snapshot, and the delta merge below pins its conflict base here
    // (mergeFromRead) — a concurrent re-rooting landing in the
    // read→merge window conflicts instead of being silently
    // overwritten with stale roots (the anchors pattern's missing
    // half; see ConflictResolutionSpec's GDPR race)
    val readV = rootsT.latestVersion
    val roots = rootsT.snapshotAt(readV)
    val pairs = newPairs.select(col("doc_a"), col("doc_b"))
      .where(col("doc_a") =!= col("doc_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // SMALL-BATCH fast path (the common continuous-pipeline shape:
    // dup pairs per batch are few even when the batch is large): the
    // whole contraction runs driver-side in TWO Spark jobs — one
    // semi-joined root lookup, one delta merge — instead of the
    // distributed chain's ~8. Same contract, same results; the
    // threshold mirrors connectedComponents' localThreshold design.
    // ONE bounded action both routes AND feeds the small path (guide
    // §1.2 — this ran as a full count, then a second full collect of
    // the same rows inside the small path): collect at most
    // localThreshold+1 pairs; an overflowing head routes to the
    // distributed path, which never needed the exact count.
    // integral ids only (the connectedComponents guard): the driver
    // union-find's Long labels must match least()/min() over the id
    // type; other types stay fully distributed
    val integralIds = {
      import org.apache.spark.sql.types.{IntegerType, LongType, ShortType}
      Seq(IntegerType, LongType, ShortType)
        .contains(pairs.schema("doc_a").dataType)
    }
    val lt = math.min(localThreshold, (Int.MaxValue - 2).toLong).toInt
    // ONE bounded action routes, feeds the small path AND resolves
    // the head endpoints' current roots (guide §1.2 — the root lookup
    // ran as a second collect inside the small path): the bounded
    // pair head left-joins the state on both endpoints, so the
    // collect carries (a, b, root_a, root_b) in one job. An
    // overflowing head routes to the distributed path as before.
    val head = if (!integralIds) null
      else {
        val lim = pairs
          .select(col("doc_a").cast("long").as("doc_a"),
            col("doc_b").cast("long").as("doc_b"))
          .limit(lt + 1)
        val ra = roots.select(col("doc_id").cast("long").as("doc_a"),
          col("root").cast("long").as("__ra"))
        val rb = roots.select(col("doc_id").cast("long").as("doc_b"),
          col("root").cast("long").as("__rb"))
        lim.join(ra, Seq("doc_a"), "left").join(rb, Seq("doc_b"), "left")
          .select(col("doc_a"), col("doc_b"), col("__ra"), col("__rb"))
          .collect()
      }
    if (head != null && head.length <= lt) {
      val out = incrementalClustersSmall(spark, rootsT, roots, head, readV)
      pairs.unpersist()
      return out
    }
    val ends = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // endpoints → current roots (unseen docs root themselves)
    val endRoots = ends.join(roots, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("root"), col("doc_id")).as("r"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ra = endRoots.select(col("doc_id").as("doc_a"), col("r").as("ra"))
    val rb = endRoots.select(col("doc_id").as("doc_b"), col("r").as("rb"))
    // contracted root-graph: batch-scale however large the corpus
    val rootEdges = pairs.join(ra, Seq("doc_a")).join(rb, Seq("doc_b"))
      .where(col("ra") =!= col("rb"))
      .select(least(col("ra"), col("rb")).as("doc_a"),
        greatest(col("ra"), col("rb")).as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    // min-label components over the contracted graph; roots are the
    // min ids of their old components, so the new label is the global
    // min of the merged component
    val remap = connectedComponents(rootEdges)
      .where(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("old_root"), col("cluster_id").as("new_root"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // existing rows of merged components re-root...
    val rerooted = roots.join(remap, col("root") === col("old_root"))
      .select(col("doc_id"), col("new_root").as("root"))
    // ...new docs insert with their (possibly remapped) root
    val inserts = endRoots.join(roots.select(col("doc_id")), Seq("doc_id"),
        "left_anti")
      .join(remap, col("r") === col("old_root"), "left")
      .select(col("doc_id"), coalesce(col("new_root"), col("r")).as("root"))
    val delta = rerooted.unionByName(inserts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE action (see incrementalClustersSmall): materialize the
    // returned frame and let its count answer the merge-skip probe
    val out = delta.select(col("doc_id"), col("root").as("cluster_id"),
      (col("doc_id") === col("root")).cast("int").as("is_survivor"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (out.count() > 0) {
      // ROOT ANCHORS — see incrementalClustersSmall: known endpoints
      // whose component did not merge upsert their unchanged row, so
      // the mapping this fold read is in the merge's write set and a
      // concurrent re-rooting conflicts instead of interleaving
      val anchors = endRoots
        .join(roots.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .join(remap, col("r") === col("old_root"), "left_anti")
        .select(col("doc_id"), col("r").as("root"))
      rootsT.mergeFromRead(readV, delta.unionByName(anchors), Seq("doc_id"),
        Seq(GraftTable.MatchedUpdate()),
        Some(GraftTable.NotMatchedInsert()))
    }
    Seq(pairs, ends, endRoots, remap, delta).foreach(_.unpersist())
    out
  }

  /** Driver-side small-batch path for [[incrementalClusters]]:
    * the (bounded) pair batch arrives ALREADY collected by the
    * routing probe WITH each endpoint's current root (one action
    * serves routing, feed and lookup — guide §1.2), union-find runs
    * over the contracted root edges in memory, and the delta merges.
    * The distributed path and this one are result-identical
    * (union-by-min matches the contraction's label choice); only the
    * job count differs.
    */
  private def incrementalClustersSmall(spark: SparkSession,
      rootsT: graft.tables.GraftTable, roots: DataFrame,
      head: Array[org.apache.spark.sql.Row], readV: Long): DataFrame = {
    import spark.implicits._
    val pe = head.map(r => (r.getLong(0), r.getLong(1)))
    // endpoints' current roots arrived with the head (the entry
    // collect left-joined the state on both legs — state doc_id is
    // unique, so the join preserved pair multiplicity)
    val known: Map[Long, Long] = head.iterator.flatMap { r =>
      Iterator(
        if (r.isNullAt(2)) None else Some((r.getLong(0), r.getLong(2))),
        if (r.isNullAt(3)) None else Some((r.getLong(1), r.getLong(3))))
    }.flatten.toMap
    val endIds = pe.iterator.flatMap(t => Iterator(t._1, t._2))
      .toArray.distinct
    def rootOf(d: Long): Long = known.getOrElse(d, d)
    val remap = unionFindMinLabels(
      pe.iterator.map(t => (rootOf(t._1), rootOf(t._2)))
        .filter(t => t._1 != t._2).toSeq)
      .filter { case (o, n) => o != n }
    // delta: re-rooted EXISTING rows of merged components (the join
    // side — the remap frame is tiny and broadcast) + new docs
    val newDocs = endIds.filterNot(known.contains)
      .map(d => (d, remap.getOrElse(d, d)))
    val inserts = newDocs.toSeq.toDF("doc_id", "root")
    val delta =
      if (remap.isEmpty) inserts
      else {
        val remapDf = remap.toSeq.toDF("old_root", "new_root")
        roots.join(broadcast(remapDf), col("root") === col("old_root"))
          .select(col("doc_id"), col("new_root").as("root"))
          .unionByName(inserts)
      }
    // The returned frame is the ONLY persisted one; the merge's
    // source derives from it, so the merge's own source scan
    // materializes the cache BEFORE its commit (the delta reads the
    // readV-pinned snapshot, so its value is merge-independent either
    // way). The merge-skip probe is DRIVER-DECIDED (guide §1.2 — this
    // ran as a separate materializing count action): delta is
    // nonempty iff a new endpoint inserts or any component merged —
    // every remapped old root is some known endpoint's current root,
    // so its state row re-roots.
    val out = delta.select(col("doc_id"), col("root").as("cluster_id"),
      (col("doc_id") === col("root")).cast("int").as("is_survivor"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (newDocs.nonEmpty || remap.nonEmpty) {
      // ROOT ANCHORS (r14): identical-value upserts for the known
      // endpoint rows whose current mapping this fold READ but does
      // not rewrite (their component did not merge). They change no
      // value; they put the read rows into the merge's write set, so
      // a concurrent re-rooting of the same component (a forgetDocs
      // retiring the canonical this delta names) draws a
      // CommitConflictException — the loser retries against fresh
      // roots — instead of the two interleaving into a state that
      // matches NO serial order (a cluster naming a retired root).
      // O(endpoints) rows; a replayed batch still commits nothing
      // (anchors ride only when a true delta exists).
      val anchors = known.toSeq
        .filter { case (_, r) => !remap.contains(r) }
        .toDF("doc_id", "root")
      rootsT.mergeFromRead(readV,
        out.select(col("doc_id"), col("cluster_id").as("root"))
          .unionByName(anchors),
        Seq("doc_id"), Seq(graft.tables.GraftTable.MatchedUpdate()),
        Some(graft.tables.GraftTable.NotMatchedInsert()))
    }
    out
  }

  /** The full maintained clustering state at `clustersPath`:
    * (doc_id, cluster_id, is_survivor) — the same shape (and, fed the
    * same pairs, the same rows) as [[clusterSurvivors]].
    */
  def clustersView(spark: SparkSession, clustersPath: String): DataFrame =
    graft.tables.GraftTable.load(spark, clustersPath).snapshot()
      .select(col("doc_id"), col("root").as("cluster_id"),
        (col("doc_id") === col("root")).cast("int").as("is_survivor"))

  /** Periodic MAINTENANCE for the clusters state table — the
    * [[maintainIndex]] twin for [[incrementalClusters]]' roots
    * GraftTable: every batch MERGE strands a version and small
    * files, so a long-running pipeline bin-packs the state and
    * reclaims dead versions nightly. Ordinary commits: replayed
    * batches stay semantic no-ops (the MERGE upserts identical
    * values), and verdicts read identically before and after.
    */
  def maintainClusters(spark: SparkSession, clustersPath: String,
      vacuumRetainHours: Double = -1.0): Unit = {
    val t = graft.tables.GraftTable.load(spark, clustersPath)
    t.compactToSize()
    if (vacuumRetainHours >= 0) t.vacuumRetainHours(vacuumRetainHours)
  }

  /** Default idempotency key for the forget audit table's appends.
    * Pipelines SHARING one audit table must pass their own
    * `auditAppId` (the admission-audit lesson, r11): batch-id
    * watermarks are per appId, so two pipelines on one constant key
    * silently log nothing for whichever replays a colliding id.
    */
  val forgetAuditAppId = "graft-forget-audit"

  /** FORGET path — delete propagation into the dedup indexes (the
    * reference's GDPR DELETE scenario, Instructor/01-Fraud-Delta.py:159,
    * applied to the pipeline's own state): a corpus DELETE that stops
    * at the documents table leaves the deleted docs' SKETCHES in
    * `sigs/` and `shingles/` forever — a compliance gap (derived
    * content retained indefinitely) AND a correctness gap (a future
    * arrival drops as a duplicate of a document that no longer
    * exists, its canonical pointing at nothing, vetoing admissions
    * forever). `forgetDocs` MERGE-DELETEs the retired ids' rows from
    * both index tables (file-granular blast radius through the merge
    * key-envelope probe, pruned by the doc_id clustering / bloom
    * sidecars like every other point DML), and — when `clustersPath`
    * is given — repairs the maintained clustering in ONE transactional
    * merge: retired members' rows delete, and a component whose MIN
    * (its root, i.e. the canonical every member names) retired
    * re-roots every remaining member to the new minimum — no
    * surviving assignment ever names a forgotten doc. Components are
    * NOT split (members linked only through a retired doc stay
    * together): transitivity was already applied at admission time,
    * and un-merging would resurrect already-dropped near-dups — the
    * conservative direction for curation.
    *
    * Idempotent end-to-end: a replay deletes nothing (no rows match),
    * re-roots to identical values, and — with an `auditPath` and
    * `batchId` ≥ 0 — logs nothing twice (the same appendIfNew
    * watermark as admission). Per-call cost is O(retired + touched
    * components' rows): every lookup is a semi-join against the
    * retired-id frame, never a corpus pass.
    *
    * Returns the distinct retired ids (the audit rows' id set).
    */
  def forgetDocs(spark: SparkSession, indexPath: String,
      retired: DataFrame, clustersPath: Option[String] = None,
      auditPath: Option[String] = None, batchId: Long = -1L,
      auditAppId: String = forgetAuditAppId): DataFrame = {
    import graft.tables.GraftTable
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val ids = retired.select(col("doc_id")).distinct()
      .persist(MEMORY_AND_DISK)
    try {
    val nIds = ids.count()
    def tableAt(sub: String): Option[GraftTable] = {
      val p = java.nio.file.Paths.get(indexPath, sub)
      if (java.nio.file.Files.exists(p.resolve("_graft_log")))
        Some(GraftTable.load(spark, p.toString))
      else None
    }
    if (nIds > 0) {
      // sigs FIRST — the append order's mirror: candidates originate
      // from sigs, so a crash between the two deletes leaves orphan
      // shingle rows (inert), never live signatures whose shingle
      // sets are already gone
      tableAt("sigs").foreach(_.merge(ids, "doc_id",
        Seq(GraftTable.MatchedDelete()), None))
      tableAt("shingles").foreach(_.merge(ids, "doc_id",
        Seq(GraftTable.MatchedDelete()), None))
      clustersPath.filter(cp => java.nio.file.Files.exists(
          java.nio.file.Paths.get(cp, "_graft_log"))).foreach { cp =>
        val rootsT = GraftTable.load(spark, cp)
        // pin the read version — the re-rooting values below derive
        // from THIS snapshot, so the merge pins its conflict base
        // here (mergeFromRead): a concurrent admission landing in the
        // read→merge window conflicts instead of being re-rooted
        // from stale survivors
        val readV = rootsT.latestVersion
        val roots = rootsT.snapshotAt(readV)
        // components holding a retired member — O(retired) semi-joins
        val touched = roots.join(ids, Seq("doc_id"), "left_semi")
          .select(col("root")).distinct()
        val survivors = roots.join(touched, Seq("root"), "left_semi")
          .join(ids, Seq("doc_id"), "left_anti")
          .persist(MEMORY_AND_DISK)
        val rerooted = survivors
          .join(survivors.groupBy(col("root"))
            .agg(min(col("doc_id")).as("__nr")), Seq("root"))
          .where(col("root") =!= col("__nr"))
          .select(col("doc_id"), col("__nr"))
        // ONE merge commit: retired rows delete, re-rooted survivors
        // update — atomic, and a replay upserts identical values
        val rootType = roots.schema("root").dataType
        val delta = ids
          .withColumn("__nr", lit(null).cast(rootType))
          .withColumn("__forget", lit(1))
          .unionByName(rerooted.withColumn("__forget", lit(0)))
        rootsT.mergeFromRead(readV, delta, Seq("doc_id"), Seq(
          GraftTable.MatchedDelete(Some(col("src.__forget") === 1)),
          GraftTable.MatchedUpdate(None,
            Some(Map("root" -> col("src.__nr"))))), None)
        survivors.unpersist()
      }
    }
    auditPath.foreach { ap =>
      require(batchId >= 0L, "forget audit needs a batchId >= 0")
      val rows = ids.withColumn("batch_id", lit(batchId))
        .select(col("batch_id"), col("doc_id"))
      val t = GraftTable.createIfAbsent(spark, ap, rows.limit(0))
      t.appendIfNew(rows, batchId, appId = auditAppId)
    }
    ids
    // the cache's job (one evaluation of `retired` across the merges
    // above) is done — release it HERE, not in every caller, so an
    // exception mid-call can't leak block-manager storage either. The
    // returned frame recomputes on use (a distinct over the caller's
    // id frame — trivially cheap, and callers mostly just count it).
    } finally ids.unpersist()
  }

  /** ONE forget front door — GDPR retirement across EVERY surface
    * that can hold a retired doc's content or sketches, in one call
    * (previously four: corpus DELETE, [[forgetDocs]], [[forgetExact]],
    * plus a curated-table DELETE — and the curated table is the one
    * place the doc's CONTENT, not just sketches, can outlive the
    * forget). Order is compliance-first: CONTENT deletes land before
    * sketch deletes (a crash mid-call leaves inert sketches of
    * already-deleted content, never live content whose sketches are
    * gone), audit last (the exactly-once record reflects a completed
    * pass; a crash before it replays the whole call — every step is
    * idempotent). `ivfIndexPath` extends the front door over the ANN
    * index ([[Similarity.forgetVectors]] — embeddings are content
    * derivatives, purged in the content tier). All parameters
    * optional: pass the surfaces this pipeline actually has. Returns
    * the distinct retired ids.
    */
  def forgetEverywhere(spark: SparkSession, retired: DataFrame,
      corpus: Option[graft.tables.GraftTable] = None,
      curated: Option[graft.tables.GraftTable] = None,
      indexPath: Option[String] = None,
      clustersPath: Option[String] = None,
      ledgerPath: Option[String] = None,
      auditPath: Option[String] = None, batchId: Long = -1L,
      auditAppId: String = forgetAuditAppId,
      ivfIndexPath: Option[String] = None): DataFrame = {
    import graft.tables.GraftTable
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val ids = retired.select(col("doc_id")).distinct()
      .persist(MEMORY_AND_DISK)
    try {
      if (ids.limit(1).count() > 0) {
        // content surfaces first (file-granular MERGE-DELETEs, pruned
        // by the key-envelope probe like every other point DML)
        (corpus.toSeq ++ curated.toSeq).foreach(_.merge(ids, "doc_id",
          Seq(GraftTable.MatchedDelete()), None))
      }
      // the ANN index's cells hold the docs' EMBEDDINGS — a content
      // DERIVATIVE, so it purges with the content tier, ahead of the
      // pure sketches (vec_id keyed by the same doc ids; the cell
      // rewrite is partition-aligned and idempotent)
      ivfIndexPath.foreach(ip => Similarity.forgetVectors(spark, ip,
        ids.withColumnRenamed("doc_id", "vec_id")))
      // sketch surfaces: banded signatures + shingle sets + cluster
      // re-rooting (forgetDocs), then the exact-content hash ledger.
      // The audit must NOT ride forgetDocs here: it would land before
      // forgetExact, and a crash between them would leave an
      // exactly-once audit record for a batch whose ledger still
      // holds the retired canonicals — a replay-suppressing caller
      // would then never purge them. So every sketch surface runs
      // audit-free, and the audit append is the LAST step of THIS
      // method, after the final surface committed.
      indexPath match {
        case Some(ip) =>
          forgetDocs(spark, ip, ids, clustersPath, None, -1L)
        case None =>
          // no sketch index: the clusters repair still runs (the path
          // doubles as forgetDocs' indexPath — it holds no sigs/
          // shingles subtables, so only the clusters branch fires)
          clustersPath.foreach(cp =>
            forgetDocs(spark, cp, ids, Some(cp), None, -1L))
      }
      ledgerPath.foreach(lp => forgetExact(spark, lp, ids))
      // audit LAST — the exactly-once record now genuinely certifies
      // a completed pass over every surface above
      auditPath.foreach { ap =>
        require(batchId >= 0L, "forget audit needs a batchId >= 0")
        val rows = ids.withColumn("batch_id", lit(batchId))
          .select(col("batch_id"), col("doc_id"))
        val t = GraftTable.createIfAbsent(spark, ap, rows.limit(0))
        t.appendIfNew(rows, batchId, appId = auditAppId)
      }
      ids
    } finally ids.unpersist()
  }

  /** FORGET for the exact-dedup hash ledger ([[incrementalExact]]):
    * delete ledger rows whose CANONICAL retired, so a future
    * identical document admits fresh (re-seeding the ledger with
    * itself as canonical) instead of deduping against a deleted doc.
    * Idempotent like [[forgetDocs]].
    */
  def forgetExact(spark: SparkSession, ledgerPath: String,
      retired: DataFrame): Unit = {
    import graft.tables.GraftTable
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(ledgerPath, "_graft_log"))) return
    val t = GraftTable.load(spark, ledgerPath)
    t.merge(retired.select(col("doc_id").as("canonical_id")).distinct(),
      "canonical_id", Seq(GraftTable.MatchedDelete()), None)
  }

  /** Last [[admitBatch]]'s per-stage wall times (seconds), KEYED BY
    * pipelineId — a DIAGNOSTIC for the scale probes (screen = probe +
    * index appends, both materialized inside incrementalDedup;
    * cluster = the fold, materialized inside incrementalClusters).
    * The verdict projection is lazy and lands in the caller's
    * consumption. Keyed (not a last-write-wins global) so two
    * concurrent curation pipelines can never read each other's batch
    * timings; not part of any contract.
    */
  private val admitStages =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, Double]]()

  private[graft] def lastAdmitStages(pipelineId: String): Map[String, Double] =
    Option(admitStages.get(pipelineId)).getOrElse(Map.empty)

  private val forgetStages =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Driver scenario for [[forgetDocs]] — GDPR propagation, probed:
    * the 80% corpus (doc_id % 5 ≠ 0) indexes ONCE per process; every
    * invocation forgets the doc_id % 10 == 1 slice (a subset of the
    * indexed docs; idempotent — replays delete nothing) and screens
    * the 20% batch READ-ONLY. The pair set must equal a probe
    * against an index that NEVER HELD the forgotten docs — the
    * oracle replays the whole portable-minhash family over
    * (corpus \ forgotten) and keeps the batch-touching pairs.
    */
  def forgetScenario(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val path = forgetStages.computeIfAbsent(sfDir, _ => {
      val p = java.nio.file.Files
        .createTempDirectory("graft_forgetidx_").toString
      incrementalIndex(spark, p, docs.filter(col("doc_id") % 5 =!= 0),
        batchId = 0L)
      p
    })
    // the forget routes through the FRONT DOOR (forgetEverywhere) so
    // the one-call path itself carries oracle coverage; with only an
    // indexPath passed it reduces to forgetDocs over sigs+shingles
    forgetEverywhere(spark,
      docs.filter(col("doc_id") % 10 === 1).select(col("doc_id")),
      indexPath = Some(path))
      .unpersist()
    localized(incrementalProbe(spark, path,
      docs.filter(col("doc_id") % 5 === 0)))
  }

  /** ADMISSION CONTROL — the decision step a continuous
    * training-data pipeline actually runs per arriving batch, wired
    * from the incremental pieces: screen the batch against the
    * persisted index ([[incrementalDedup]] — index + probe +
    * verify), fold the surfaced pairs into the maintained clustering
    * ([[incrementalClusters]]), and emit a VERDICT per batch doc:
    * `keep` (no near-dup, or it IS the cluster survivor) or `drop`
    * with the canonical doc it duplicates. Deterministic: the
    * survivor is the component's min doc_id, so the same batch
    * against the same corpus always admits the same docs.
    *
    * SURVIVORSHIP CAVEAT (cross-cycle): the rule is GLOBAL-MIN
    * doc_id, not first-admitted-wins. A later batch doc with a
    * SMALLER id than an already-admitted near-duplicate is itself the
    * component minimum, so it gets `keep` too — across cycles the
    * curated corpus can then hold both members of a near-dup pair
    * (each was the survivor at its admission time). This is the
    * contract the relational oracle replays (verdicts are a pure
    * function of the pair set + min-id rule, independent of arrival
    * order); pipelines that need at-most-one-per-cluster in the
    * curated table should either feed batches in ascending-id order
    * (the min arrives first and later members drop), pass the
    * curated doc ids as `admitted` (FIRST-ADMITTED-WINS mode, below),
    * or run a periodic sweep joining the curated table against
    * [[clustersView]] and retiring non-survivors.
    *
    * FIRST-ADMITTED-WINS (`admitted = Some(df)` with a `doc_id`
    * column — typically the curated table's ids as of batch start):
    * a batch doc whose cluster already contains an ADMITTED doc
    * drops with that doc as canonical (min admitted member —
    * deterministic), whatever the ids say; clusters with no admitted
    * member fall back to min-id among the BATCH's members. Under
    * replay the verdicts are unchanged (the original survivor is in
    * the admitted set and canonicalizes to itself), and across
    * out-of-order cycles the curated table holds at most one member
    * per cluster — the guarantee the default rule only gives for
    * ordered feeds.
    *
    * QUALITY GATE (`gate = Some(col)` — a boolean Column over the
    * batch's own columns): docs failing the predicate get the verdict
    * `reject` (canonical = themselves) and NEVER enter the dedup
    * pipeline — no signatures, no shingles, no cluster membership, so
    * a rejected doc can never become a canonical someone else drops
    * against (the C4/Gopher admission posture: quality screens run
    * BEFORE dedup). A null predicate value rejects (quality unknown
    * is not quality). The gate evaluates in ONE pass: the verdict
    * rides as a column on a persisted frame and both the screened
    * and rejected branches read that cache — never two scans of the
    * arrival files. Under a gate the returned frame is persisted
    * (batch-sized verdict rows, already materialized); unpersist it
    * when done — [[admitBatchLogged]] and the curation stream do.
    *
    * SEMANTIC SCREEN (`ivfIndexPath = Some(path)` — a BUILT IVF or
    * IVF+PQ index, [[Similarity.ivfIndexBuild]]): embedding-carrying
    * batches additionally screen against the index — map-side
    * assignment to the stored centroids, cosine ≥ `semanticTau`
    * verdicts within the touched cells only, the SemDeDup pass moved
    * to the gate — so a continuously-curated corpus stops
    * accumulating semantic near-dups between maintenance windows.
    * Semantic pairs fold into the SAME maintained clustering as the
    * lexical ones (one component space: a doc lexically near one doc
    * and semantically near another merges all three), drops ride the
    * same audit, and the batch's vectors ingest into the index
    * exactly-once per (pipeline, batch) — crash-replay lands the
    * identical state, mirroring the sigs/shingles appends. The index
    * stays maintained by its own lifecycle (skew-triggered rebalance,
    * [[Similarity.maintainIndex]]) and forgets through
    * [[forgetEverywhere]]'s `ivfIndexPath`, so the screen's geometry
    * never goes stale unboundedly. Hot cells hub-cap at
    * `semanticMaxCell` ([[Similarity.semanticScreenPairs]]).
    *
    * Returns (doc_id, canonical_id, action) for every batch doc.
    */
  def admitBatch(spark: SparkSession, indexPath: String,
      clustersPath: String, newDocs: DataFrame,
      batchId: Long = -1L,
      admitted: Option[DataFrame] = None,
      pipelineId: String = "",
      gate: Option[org.apache.spark.sql.Column] = None,
      ivfIndexPath: Option[String] = None,
      semanticTau: Double = 0.3,
      semanticMaxCell: Int = Similarity.defaultMaxCellSize): DataFrame = {
    // contract checks BEFORE any caching — a failure here must not
    // strand a persisted batch
    require(ivfIndexPath.isEmpty || newDocs.columns.contains("embedding"),
      "semantic screening (ivfIndexPath) needs an 'embedding' " +
        "column on the batch")
    // ONE evaluation of the arrival batch under a gate: the verdict
    // rides as a column on a persisted frame and both branches read
    // the cache — the screened/rejected split costs one batch scan,
    // not two (the gate predicate still pushes into that one scan).
    // No eager count: the screen's first action fills the cache the
    // same way, one action earlier (guide §1.2)
    val (gated, screened, rejected) = gate match {
      case Some(g) =>
        val withG = newDocs
          .withColumn("__gate", coalesce(g, lit(false)))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        (Some(withG),
          withG.where(col("__gate")).drop("__gate"),
          Some(withG.where(!col("__gate")).select(col("doc_id"))))
      case None => (None, newDocs, None)
    }
    // any failure below (a lost commit race, a bad index path)
    // releases EVERY persisted intermediate — the gated cache AND the
    // pair frames persisted mid-flight — instead of stranding
    // batch-sized block-manager entries per streaming retry
    var pairsRef: Option[DataFrame] = None
    try {
    val s0 = System.nanoTime()
    val pairs = incrementalDedup(spark, indexPath, screened,
      batchId = batchId, pipelineId = pipelineId)
    pairsRef = Some(pairs)
    // SEMANTIC SCREEN (the embedding leg, riding a persisted IVF
    // index): the batch assigns map-side against the stored
    // centroids, verdicts within the touched cells against the
    // index's members, and the surfaced pairs fold into the SAME
    // maintained clustering as the lexical ones — semantic drops ride
    // the same verdict/audit machinery. The pair plan is VERSION-
    // PINNED to the pre-ingest assignments (semanticScreenPairs reads
    // versionAsOf its call time, and the batch side is an eager
    // localCheckpoint), so the batch's own vectors can ingest
    // (exactly-once per batch, keyed per pipeline like sigs/shingles)
    // WITHOUT a materializing count in between — a replayed batch
    // re-lands nothing and re-screens to the identical pair set
    // whenever the plan is evaluated (guide §1.2: one batch-sized
    // count action saved per semantic screen).
    val semPairs = ivfIndexPath.map { ip =>
      val vecCols = Seq(col("doc_id").as("vec_id")) ++
        (if (screened.columns.contains("label")) Seq(col("label"))
         else Nil) ++ Seq(col("embedding"))
      val vecs = screened.select(vecCols: _*)
      val sem = Similarity.semanticScreenPairs(spark, ip, vecs,
        semanticTau, semanticMaxCell)
      Similarity.indexIngest(spark, ip, vecs, batchId,
        appId = Similarity.ivfIngestAppId + pipelineId)
      sem
    }
    val allPairs = semPairs match {
      case Some(sem) =>
        pairs.select("doc_a", "doc_b").unionByName(sem)
      case None => pairs.select("doc_a", "doc_b")
    }
    val s1 = System.nanoTime()
    val delta = incrementalClusters(spark, clustersPath, allPairs)
    val s2 = System.nanoTime()
    admitStages.put(pipelineId, Map("screen_sec" -> (s1 - s0) / 1e9,
      "cluster_sec" -> (s2 - s1) / 1e9))
    // both returns are persisted inside their operators; the verdict
    // below reads the COMMITTED clusters state, so release them here
    // instead of leaking block-manager entries per invocation
    delta.unpersist()
    pairs.unpersist()
    val roots = clustersView(spark, clustersPath)
      .select(col("doc_id"), col("cluster_id"))
    val base = screened.select(col("doc_id"))
      .join(roots, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cid"))
    val canon = admitted match {
      case None =>
        base.select(col("doc_id"), col("cid").as("canonical_id"))
      case Some(adm) =>
        // min ADMITTED member per touched cluster (semi-join keeps
        // the lookup admitted∩clustered-sized); clusters without one
        // canonicalize to the batch-internal minimum
        val admMin = roots
          .join(adm.select(col("doc_id")), Seq("doc_id"), "left_semi")
          .groupBy(col("cluster_id"))
          .agg(min(col("doc_id")).as("adm_min"))
        val batchMin = base.groupBy(col("cid"))
          .agg(min(col("doc_id")).as("batch_min"))
        base
          .join(admMin, base("cid") === admMin("cluster_id"), "left")
          .join(batchMin, Seq("cid"))
          .select(base("doc_id"),
            coalesce(col("adm_min"), col("batch_min")).as("canonical_id"))
    }
    val verdicts = canon.withColumn("action",
      when(col("canonical_id") === col("doc_id"), "keep")
        .otherwise("drop"))
    rejected match {
      case Some(rej) =>
        // materialize the (batch-sized) verdicts off the gated cache
        // BEFORE releasing it — the returned frame then reads its own
        // cache, never a recomputation that would re-scan the batch
        val out = verdicts.unionByName(rej.select(col("doc_id"),
          col("doc_id").as("canonical_id"), lit("reject").as("action")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        out.count()
        gated.foreach(_.unpersist())
        out
      case None => verdicts
    }
    } catch { case t: Throwable =>
      gated.foreach(_.unpersist())
      pairsRef.foreach(_.unpersist())
      throw t
    }
  }

  /** Periodic SWEEP retiring near-duplicates that slipped into a
    * curated table across out-of-order cycles under the default
    * (global-min) admission rule — the third leg of the survivorship
    * story next to ordered feeds and [[admitBatch]]'s
    * first-admitted-wins mode: join the curated ids against the
    * maintained clustering, keep exactly ONE curated member per
    * cluster (the minimum curated doc_id — the same label the batch
    * algorithms elect, so a swept table matches the one-shot
    * clustering's survivors), and MERGE-DELETE the rest. The delete
    * rides the transactional merge (file-granular blast radius);
    * idempotent — a second sweep finds nothing and commits nothing.
    * Returns the retired ids.
    *
    * `quality = Some(df)` (a (doc_id, q) frame, higher q better)
    * switches survivorship to KEEP-THE-BEST — the
    * [[clusterSurvivorsByQuality]] policy applied at the retirement
    * end: the cluster's highest-q curated member survives (ties to
    * the smaller id; members missing from the frame rank lowest), so
    * a later-arriving better copy can replace an earlier worse one
    * instead of being swept for having the larger id. Still
    * deterministic and idempotent (the argmax is a pure function of
    * the curated set + quality frame).
    */
  def sweepCurated(spark: SparkSession,
      curated: graft.tables.GraftTable, clustersPath: String,
      quality: Option[DataFrame] = None): DataFrame = {
    import graft.tables.GraftTable
    val roots = clustersView(spark, clustersPath)
      .select(col("doc_id"), col("cluster_id"))
    val clustered = curated.snapshot().select(col("doc_id"))
      .join(roots, Seq("doc_id"))
    val keep = quality match {
      case None => clustered.groupBy(col("cluster_id"))
        .agg(min(col("doc_id")).as("__keep"))
      case Some(q) =>
        require(q.columns.take(2).headOption.contains("doc_id") &&
          q.columns.length >= 2,
          "quality frame must be (doc_id, q)")
        clustered
          .join(q.select(col("doc_id"),
            col(q.columns(1)).cast("double").as("__q")),
            Seq("doc_id"), "left")
          .groupBy(col("cluster_id"))
          .agg(max(struct(
            coalesce(col("__q"), lit(Double.NegativeInfinity)).as("q"),
            (-col("doc_id")).as("nid"))).as("b"))
          .select(col("cluster_id"), (-col("b.nid")).as("__keep"))
    }
    val retire = clustered.join(keep, Seq("cluster_id"))
      .where(col("doc_id") =!= col("__keep"))
      .select(col("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (retire.limit(1).count() > 0)
      curated.merge(retire, "doc_id",
        Seq(GraftTable.MatchedDelete()), None)
    // release the cache before returning: the returned plan re-reads
    // the PRE-merge snapshot (version-pinned — the old files survive
    // until vacuum), so a caller's later read recomputes correctly
    // instead of leaking a block-manager entry per nightly sweep
    retire.unpersist()
    retire
  }

  /** Idempotency key for the admission audit table's appends. */
  val admitAuditAppId = "graft-admit-audit"

  /** [[admitBatch]] with the verdicts PERSISTED — the audit trail a
    * curation pipeline needs to answer "why was doc X dropped, and
    * when": every batch appends its (batch_id, doc_id, canonical_id,
    * action) rows to a GraftTable at `auditPath`, exactly-once per
    * batch id (same `appendIfNew` watermark as every other
    * exactly-once layer here, so a replayed batch logs nothing
    * twice). The audit is an ordinary graft table: SQL, time travel
    * and the change feed all work on it. Requires `batchId` ≥ 0 (the
    * watermark needs a monotone id). `auditAppId` keys the
    * exactly-once watermark — pass a per-pipeline id (curationStream
    * derives one from its checkpoint) when several id sequences can
    * share one audit table, so a second pipeline's batch 0 is not
    * mistaken for a replay of the first's. The returned frame is
    * persisted (the stream unpersists it per epoch; direct callers
    * should too when done).
    */
  def admitBatchLogged(spark: SparkSession, indexPath: String,
      clustersPath: String, auditPath: String, newDocs: DataFrame,
      batchId: Long, admitted: Option[DataFrame] = None,
      auditAppId: String = admitAuditAppId,
      pipelineId: String = "",
      gate: Option[org.apache.spark.sql.Column] = None,
      ivfIndexPath: Option[String] = None,
      semanticTau: Double = 0.3,
      semanticMaxCell: Int = Similarity.defaultMaxCellSize): DataFrame = {
    require(batchId >= 0L, "admitBatchLogged needs a batchId >= 0")
    import graft.tables.GraftTable
    val raw = admitBatch(spark, indexPath, clustersPath, newDocs,
      batchId, admitted, pipelineId, gate, ivfIndexPath, semanticTau,
      semanticMaxCell)
    val verdicts = raw
      .withColumn("batch_id", lit(batchId))
      .select(col("batch_id"), col("doc_id"), col("canonical_id"),
        col("action"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    verdicts.count()
    // the gated admitBatch returns ITS OWN persisted frame — release
    // it now that the stamped copy is materialized (no-op otherwise)
    raw.unpersist()
    val t = GraftTable.createIfAbsent(spark, auditPath,
      verdicts.limit(0))
    t.appendIfNew(verdicts, batchId, appId = auditAppId)
    // materialize the returned projection before releasing the full
    // frame — the caller's plan then reads the (batch-sized) cache,
    // not a recomputation of the whole admission pass
    val out = verdicts.select(col("doc_id"), col("canonical_id"),
      col("action"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    verdicts.unpersist()
    out
  }

  private val admissionStages =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** Driver scenario for [[admitBatch]]: index the 80% corpus, admit
    * the 20% batch. The oracle replays the probe pairs and their
    * transitive closure relationally — the verdicts are a pure
    * function of that pair set. The index builds ONCE per process
    * (serve-path honesty, like the probe scenario); re-admitting the
    * same batch against the same state is idempotent end-to-end
    * (index appends are batch-keyed, cluster merges upsert identical
    * values, verdicts are deterministic), so every invocation times
    * the steady-state admission step.
    */
  def admissionScenario(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val stage = admissionStages.computeIfAbsent(sfDir, _ => {
      val st = java.nio.file.Files.createTempDirectory("graft_admit_")
      incrementalIndex(spark, st.resolve("idx").toString,
        docs.filter(col("doc_id") % 5 =!= 0), batchId = 0L)
      st
    })
    admitBatch(spark, stage.resolve("idx").toString,
      stage.resolve("clusters").toString,
      docs.filter(col("doc_id") % 5 === 0), batchId = 1L)
  }

  /** Collect a small (verdict-sized) PERSISTED result to the driver
    * and release its cache — driver scenarios return through this, so
    * repeated bench invocations don't accumulate block-manager
    * entries nobody unpersists (the gated admitBatch's returned frame
    * is persisted by contract; library callers unpersist it, a bench
    * harness only counts it).
    */
  private[operators] def localized(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val rows = df.collect().toIndexedSeq
    df.unpersist()
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      df.schema)
  }

  private val gatedAdmissionStages =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** Driver scenario for the QUALITY-GATED admission: the same
    * 80/20 split as [[admissionScenario]], with the short-doc gate
    * `n_chars >= 100` applied at BOTH stages (the index holds only
    * gate-passers — what a gated curationStream accumulates — and
    * the batch's failures verdict `reject`). The oracle replays the
    * gate relationally and the pair closure over gated docs only.
    */
  def admissionGatedScenario(spark: SparkSession,
      sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val gate = col("n_chars") >= 100L
    val stage = gatedAdmissionStages.computeIfAbsent(sfDir, _ => {
      val st = java.nio.file.Files.createTempDirectory("graft_admitg_")
      incrementalIndex(spark, st.resolve("idx").toString,
        docs.filter(col("doc_id") % 5 =!= 0 && gate), batchId = 0L)
      st
    })
    localized(admitBatch(spark, stage.resolve("idx").toString,
      stage.resolve("clusters").toString,
      docs.filter(col("doc_id") % 5 === 0), batchId = 1L,
      gate = Some(gate)))
  }

  private val semAdmissionStages =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** Driver scenario for the SEMANTIC screen at admission: documents
    * carry their embeddings (1:1 join with the embeddings table), the
    * gated 80% seeds BOTH indexes — the lexical sigs/shingles index
    * and a built IVF index — and the 20% batch admits through
    * [[admitBatch]] with the gate, the lexical screen AND the
    * semantic screen in one call. The oracle replays gate → lexical
    * pair closure ∪ within-cell cosine pairs (Lloyd trained on the
    * seed, batch assigned against the frozen centroids — exactly the
    * index geometry the screen probes) → min-id verdicts
    * relationally. Idempotent per process: the IVF ingest is
    * batch-keyed, so every invocation times the steady-state screen.
    */
  def admissionSemanticScenario(spark: SparkSession,
      sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id").as("doc_id"), col("label"), col("embedding"))
    val docs = Tables.load(spark, sfDir, "documents").join(emb, Seq("doc_id"))
    val gate = col("n_chars") >= 100L
    val stage = semAdmissionStages.computeIfAbsent(sfDir, _ => {
      val st = java.nio.file.Files.createTempDirectory("graft_admitsem_")
      val seed = docs.filter(col("doc_id") % 5 =!= 0 && gate)
      incrementalIndex(spark, st.resolve("idx").toString, seed,
        batchId = 0L)
      Similarity.ivfIndexBuild(spark, st.resolve("ivf").toString,
        seed.select(col("doc_id").as("vec_id"), col("label"),
          col("embedding")))
      st
    })
    localized(admitBatch(spark, stage.resolve("idx").toString,
      stage.resolve("clusters").toString,
      docs.filter(col("doc_id") % 5 === 0), batchId = 1L,
      gate = Some(gate),
      ivfIndexPath = Some(stage.resolve("ivf").toString)))
  }

  /** Driver scenario: the corpus's exact near-dup pairs arrive in 3
    * batches; the maintained clustering must equal the one-shot
    * batch clustering of ALL pairs — the dedup_cluster_survivors
    * oracle checks the final state verbatim.
    */
  private val clusterPairSources =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  def incrementalClustersScenario(spark: SparkSession,
      sfDir: String): DataFrame = {
    // the pair SOURCE is an input to the operator under test, not the
    // operator — compute it once per process (cached persisted frame)
    // so every invocation times the maintained-clustering passes
    val pairs = clusterPairSources.computeIfAbsent(sfDir, _ => {
      val p = ngramJaccard(spark, sfDir).select("doc_a", "doc_b")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    })
    val path = java.nio.file.Files
      .createTempDirectory("graft_clust_").resolve("clusters").toString
    (0 until 3).foreach { i =>
      incrementalClusters(spark, path,
        pairs.filter(col("doc_b") % 3 === i)).unpersist()
    }
    clustersView(spark, path)
  }

  /** EXACT-SUBSTRING duplication signal (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" — the
    * suffix-array method re-expressed over fixed-L token windows, the
    * practical distributed spelling): every L-token window appearing
    * ≥ 2 times ANYWHERE in the corpus (cross-doc or within-doc) marks
    * its positions duplicated, and each document reports how much of
    * it is covered by duplicated runs — the clip-or-drop signal
    * substring dedup acts on (docs mostly made of corpus-repeated
    * passages are the memorization risk the paper measures). Exact
    * window CONTENT matching, so the whole pipeline replays
    * relationally.
    *
    * Scale shape: window extraction is map-side (slice+join per
    * token position), and the window CONTENT hashes map-side to a
    * 120-bit key pair (two independent 60-bit md5 residues — a
    * collision needs 2⁻¹²⁰, far below any corpus size) BEFORE the
    * shuffles: the window-content groupBy (one row per token
    * position) and the dup-window equi-join move 16 bytes per window
    * instead of ~L raw tokens — at 100 TB the difference between a
    * corpus-sized text shuffle and a fixed-width key shuffle.
    * Coverage explodes L rows per DUPLICATED window start only, not
    * per window. The hash is deterministic (the oracle replays it).
    * Returns (doc_id, n_tokens, n_covered, dup_frac).
    */
  def windowDupCoverage(spark: SparkSession, sfDir: String,
      l: Int = 10): DataFrame = {
    val toks = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
          .as("w"))
    val wins = toks.where(size(col("w")) >= l)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(w) - ${l - 1}), " +
          s"i -> struct(i as i, array_join(slice(w, i, $l), ' ') as win))"))
        .as("p"))
      .select(col("doc_id"), col("p.i").as("i"),
        Tables.md5Residue(col("p.win")).as("h1"),
        Tables.md5Residue(col("p.win"), 16).as("h2"))
    val dup = wins.groupBy(col("h1"), col("h2")).agg(count(lit(1)).as("c"))
      .where(col("c") >= 2).select(col("h1"), col("h2"))
    val covered = wins.join(dup, Seq("h1", "h2"))
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + (l - 1))).as("pos"))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_covered"))
    toks.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        (coalesce(col("n_covered"), lit(0L)).cast("double") /
          greatest(col("n_tokens"), lit(1L)).cast("double"))
          .as("dup_frac"))
  }

  /** SimHash with a PORTABLE 60-bit hash (md5 first-15-hex of each
    * token) so the ENTIRE pipeline — bit sums, signature assembly,
    * block bucketing, hamming verification — is replicated in the
    * DuckDB oracle. 4 blocks × 15 bits covers maxHamming=3 by
    * pigeonhole. The xxhash64 variant (`simhash`) stays the fast
    * path.
    */
  def simhashPortable(spark: SparkSession, sfDir: String,
      maxHamming: Int = 3): DataFrame = {
    val nBits = 60
    val docs = Tables.load(spark, sfDir, "documents")
    val rawPosts = docs.select(col("doc_id"),
      explode(array_distinct(
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))).as("t"))
    // md5 dictionary over DISTINCT tokens (see minhashPortable): one
    // digest per vocabulary entry instead of per token instance.
    // Unhinted join — AQE broadcasts small vocabularies, shuffle-
    // joins corpus-sized ones (a hint would pin broadcast and OOM)
    val dict = rawPosts.select(col("t")).distinct()
      .select(col("t"),
        Tables.md5Residue(col("t")).as("h"))
    val posts = rawPosts.join(dict, Seq("t"))
      .select(col("doc_id"), col("h"))
    val bitAggs = (0 until nBits).map { b =>
      sum(when(shiftrightunsigned(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"b$b")
    }
    val bitSums = posts.groupBy(col("doc_id")).agg(bitAggs.head, bitAggs.tail: _*)
    val simhashCol = (0 until nBits).map { b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce((x, y) => x.bitwiseOR(y))
    val sigs = bitSums.select(col("doc_id"), simhashCol.as("simhash"))
    val nBlocks = maxHamming + 1
    val blockBits = nBits / nBlocks
    val blocked = sigs.select(col("doc_id"), col("simhash"),
      explode(array((0 until nBlocks).map { blk =>
        struct(lit(blk).as("blk"),
          shiftrightunsigned(col("simhash"), blk * blockBits)
            .bitwiseAND((1L << blockBits) - 1L).as("bval"))
      }: _*)).as("bk"))
    val a = blocked.as("a"); val b = blocked.as("b")
    val ham = bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
    // hamming rides the JOIN CONDITION: far pairs die inside the
    // join instead of flowing through the pair-dedup shuffle (the
    // block trick makes most raw collisions far pairs — ~3x less
    // dedup input measured at sf0.1). hamming is pair-deterministic,
    // so filtering before dropDuplicates is semantics-preserving.
    a.join(b, col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id") &&
        ham <= maxHamming)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        ham.as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** 64-bit SimHash from token xxhash64s: for each bit, sum +1/-1
    * over tokens, sign → bit. Near-dups = pairs within hamming
    * distance maxHamming, found via the block-rotation trick
    * (split 64 bits into maxHamming+1 blocks; any pair within
    * distance must agree exactly on ≥1 block → equi-join per block,
    * verify popcount on candidates).
    */
  /** The 64-bit xxhash simhash signature per document — exposed so
    * the equivalence spec can brute-force all-pairs hamming against
    * the block-join path.
    */
  private[graft] def simhashSignatures(spark: SparkSession,
      sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    // explode distinct tokens → 64 codegen'd SUM aggregates (one per
    // bit), partially aggregated map-side: bit b of simhash = 1 iff
    // Σ_tokens sign(bit b of xxhash64(token)) > 0. Same
    // aggregates-over-postings shape as minhashSigs, for the same
    // codegen/partial-agg reasons.
    val posts = docs.select(col("doc_id"),
      explode(array_distinct(
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("h"))
    val bitAggs = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b")
    }
    val bitSums = posts.groupBy(col("doc_id")).agg(bitAggs.head, bitAggs.tail: _*)
    val simhashCol = (0 until 64).map { b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce((x, y) => x.bitwiseOR(y))
    bitSums.select(col("doc_id"), simhashCol.as("simhash"))
  }

  def simhash(spark: SparkSession, sfDir: String,
      maxHamming: Int = 3): DataFrame = {
    val sigs = simhashSignatures(spark, sfDir)
    val nBlocks = maxHamming + 1
    val blockBits = 64 / nBlocks
    val blocked = sigs.select(col("doc_id"), col("simhash"),
      explode(array((0 until nBlocks).map { blk =>
        val width = if (blk == nBlocks - 1) 64 - blk * blockBits else blockBits
        val mask = if (width == 64) lit(-1L)
          else lit((1L << width) - 1L)
        struct(lit(blk).as("blk"),
          shiftrightunsigned(col("simhash"), blk * blockBits)
            .bitwiseAND(mask).as("bval"))
      }: _*)).as("bk"))
    val a = blocked.as("a"); val b = blocked.as("b")
    val ham = bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
    // hamming rides the JOIN CONDITION: far pairs die inside the
    // join instead of flowing through the pair-dedup shuffle (the
    // block trick makes most raw collisions far pairs — ~3x less
    // dedup input measured at sf0.1). hamming is pair-deterministic,
    // so filtering before dropDuplicates is semantics-preserving.
    a.join(b, col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id") &&
        ham <= maxHamming)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        ham.as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
  }
}
