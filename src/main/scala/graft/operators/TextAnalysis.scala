package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text analysis for LLM-data pipelines (SURVEY.md §2.I), over the
  * `documents` table. All metrics are integer-ratio based (exact
  * doubles from identical integer inputs → deterministic at any
  * scale and bit-comparable with the SQL oracle), computed as
  * codegen'd native expressions — no UDFs, map-side only, zero
  * shuffle.
  */
object TextAnalysis {

  private val wordPat = "[a-zA-Z0-9]+"
  // BPE-ish pre-tokenizer: letter runs | single digits | single
  // non-alnum marks (GPT-2-style pre-tokenization shape).
  private val bpePat = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]"
  private val stopPat = "\\b(the|a|an|and|of|to|in|is|it|for)\\b"
  private val punctPat = "[^a-zA-Z0-9\\s]"

  private def nMatches(c: Column, pat: String): Column =
    size(regexp_extract_all(c, lit(pat), lit(0)))

  /** Per-document quality metrics + keep/drop flag. */
  def quality(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.load(spark, sfDir, "documents")
    d.select(
      col("doc_id"),
      length(col("text")).as("n_chars_m"),
      nMatches(col("text"), wordPat).as("n_words"),
      nMatches(col("text"), punctPat).as("n_punct"),
      nMatches(lower(col("text")), stopPat).as("n_stop"),
      length(regexp_replace(col("text"), "[^a-zA-Z0-9]", "")).as("n_word_chars"))
      .withColumn("punct_ratio",
        col("n_punct").cast("double") / greatest(col("n_chars_m"), lit(1)))
      .withColumn("stopword_ratio",
        col("n_stop").cast("double") / greatest(col("n_words"), lit(1)))
      .withColumn("avg_word_len",
        col("n_word_chars").cast("double") / greatest(col("n_words"), lit(1)))
      .withColumn("keep_flag",
        (col("n_words") >= 5 && col("n_words") <= 10000 &&
          col("punct_ratio") < lit(0.3)).cast("int"))
  }

  /** [[quality]]'s keep rule as a REUSABLE GATE over a bare text
    * column — the shape [[Dedup.admitBatch]]/`curationStream`'s
    * `qualityGate` wants (one boolean Column, no metrics frame to
    * join). Spec-pinned ≡ the quality frame's `keep_flag`, so the
    * two spellings cannot drift.
    */
  def qualityGateCol(text: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val nWords = nMatches(text, wordPat)
    val punctRatio = nMatches(text, punctPat).cast("double") /
      greatest(length(text), lit(1))
    nWords >= 5 && nWords <= 10000 && punctRatio < 0.3
  }

  /** [[gopherRules]]'s conjunction flag as a reusable gate column
    * (spec-pinned ≡ the metrics frame's `gopher_flag`).
    */
  def gopherGateCol(text: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val nWords = nMatches(text, "\\S+")
    val nw = greatest(nWords, lit(1))
    val meanLen = length(regexp_replace(text, "\\s+", ""))
      .cast("double") / nw
    val symbolRatio = (nMatches(text, "#") +
      nMatches(text, "\\.\\.\\.") + nMatches(text, "…"))
      .cast("double") / nw
    val alphaFrac = nMatches(text, "\\S*[A-Za-z]\\S*").cast("double") / nw
    val nLines = greatest(size(split(text, "\n", -1)), lit(1))
    val bulletFrac = nMatches(text, "(?m)^\\s*[-*•]").cast("double") / nLines
    val ellipsisFrac =
      nMatches(text, "(?m)(\\.\\.\\.|…)$").cast("double") / nLines
    nWords >= 50 && nWords <= 100000 &&
      meanLen >= 3.0 && meanLen <= 10.0 && symbolRatio < 0.1 &&
      bulletFrac < 0.9 && ellipsisFrac < 0.3 && alphaFrac > 0.8
  }

  /** GOPHER-rule document filter (Rae et al. 2021 §A1.1, the
    * MassiveText quality bundle next to [[quality]]'s C4-ish ratios):
    * word count bounds, mean word length in [3,10], symbol-to-word
    * ratio (# and ellipsis), fraction of bullet-led / ellipsis-ended
    * lines, fraction of words carrying an alphabetic character. Every
    * metric is a codegen'd regexp/length expression (no HOF lambdas,
    * no UDF) and integer-over-integer division, so the doubles replay
    * bit-identically in the relational oracle. The flag applies the
    * published thresholds (synthetic gate docs are mostly shorter
    * than Gopher's 50-word floor — the METRICS are the product; the
    * flag is their conjunction).
    */
  def gopherRules(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.load(spark, sfDir, "documents")
    val t = col("text")
    d.select(
      col("doc_id"),
      nMatches(t, "\\S+").as("n_words"),
      length(regexp_replace(t, "\\s+", "")).as("n_nonspace_chars"),
      (nMatches(t, "#") + nMatches(t, "\\.\\.\\.") + nMatches(t, "…"))
        .as("n_symbols"),
      nMatches(t, "\\S*[A-Za-z]\\S*").as("n_alpha_words"),
      size(split(t, "\n", -1)).as("n_lines"),
      nMatches(t, "(?m)^\\s*[-*•]").as("n_bullet_lines"),
      nMatches(t, "(?m)(\\.\\.\\.|…)$").as("n_ellipsis_lines"))
      .withColumn("mean_word_len",
        col("n_nonspace_chars").cast("double") /
          greatest(col("n_words"), lit(1)))
      .withColumn("symbol_ratio",
        col("n_symbols").cast("double") / greatest(col("n_words"), lit(1)))
      .withColumn("alpha_word_frac",
        col("n_alpha_words").cast("double") /
          greatest(col("n_words"), lit(1)))
      .withColumn("bullet_frac",
        col("n_bullet_lines").cast("double") /
          greatest(col("n_lines"), lit(1)))
      .withColumn("ellipsis_frac",
        col("n_ellipsis_lines").cast("double") /
          greatest(col("n_lines"), lit(1)))
      .withColumn("gopher_flag",
        (col("n_words") >= 50 && col("n_words") <= 100000 &&
          col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
          col("symbol_ratio") < 0.1 && col("bullet_frac") < 0.9 &&
          col("ellipsis_frac") < 0.3 &&
          col("alpha_word_frac") > 0.8).cast("int"))
  }

  /** Marker-token language ID: count hits of per-language marker
    * regexes, predict the argmax (deterministic tie-break by
    * en>de>fr>es priority). An n-gram-frequency heuristic in the
    * classic langid.py shape, expressible as pure relational ops.
    */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.load(spark, sfDir, "documents")
    val t = lower(col("text"))
    val sEn = nMatches(t, "\\b(the|and|of|is|in|that|with)\\b")
    val sDe = nMatches(t, "\\b(der|die|das|und|ist|nicht|mit)\\b")
    val sFr = nMatches(t, "\\b(le|la|les|et|est|dans|avec)\\b")
    val sEs = nMatches(t, "\\b(el|los|las|es|en|que|con)\\b")
    d.select(col("doc_id"), col("lang").as("lang_tagged"),
      sEn.as("s_en"), sDe.as("s_de"), sFr.as("s_fr"), sEs.as("s_es"))
      .withColumn("lang_pred",
        // null text ⇒ null scores ⇒ every comparison is null and the
        // otherwise() branch would confidently claim "es" — guard it
        when(col("s_en").isNull, lit(null).cast("string"))
          .when(col("s_en") >= greatest(col("s_de"), col("s_fr"), col("s_es")), "en")
          .when(col("s_de") >= greatest(col("s_fr"), col("s_es")), "de")
          .when(col("s_fr") >= col("s_es"), "fr")
          .otherwise("es"))
  }

  /** Whitespace + BPE-ish token counts (cost estimation for LLM
    * training corpora).
    */
  def tokenCount(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents").select(
      col("doc_id"),
      nMatches(col("text"), "\\S+").as("ws_tokens"),
      nMatches(col("text"), bpePat).as("bpe_tokens"))

  /** PII scrubbing: regexp redaction of emails / phone-shaped /
    * SSN-shaped spans — the standard pre-training privacy pass,
    * expressed as codegen'd regexp_replace chains (map-side, zero
    * shuffle at any corpus size).
    */
  def piiScrub(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents").select(
      col("doc_id"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"),
            "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "[EMAIL]"),
          "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b", "[SSN]"),
        "\\b[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}\\b", "[PHONE]").as("text_scrubbed"))

  /** Repetition ratio (Gopher/C4-style quality filter): fraction of
    * all word-3-gram occurrences taken by the single most repeated
    * one. High ratio ⇒ boilerplate/loops. Non-distinct shingles by
    * construction; two partial-aggregated group-bys.
    */
  def repetitionRatio(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.WordShingles.register(spark)
    val d = Tables.load(spark, sfDir, "documents")
    val sh = d.select(col("doc_id"),
      regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(
        graft.functions.WordShingles.word_shingles(col("w"), 3)).as("shingle"))
    sh.groupBy(col("doc_id"), col("shingle"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("max_rep"), sum(col("c")).as("n_shingles"))
      .select(col("doc_id"), col("max_rep").cast("int").as("max_rep"),
        col("n_shingles").cast("int").as("n_shingles"),
        (col("max_rep").cast("double") / col("n_shingles")).as("rep_ratio"))
  }

  /** Deterministic train/val/test assignment from a content-stable
    * hash of the key — reproducible splits across runs, engines and
    * cluster sizes (no RNG, no global sort). md5-residue spelling so
    * the oracle replicates it exactly.
    */
  def deterministicSplit(spark: SparkSession, sfDir: String): DataFrame =
    deterministicSplitOf(Tables.load(spark, sfDir, "documents"))

  /** Split assignment over any frame with a `doc_id` column. */
  def deterministicSplitOf(docs: DataFrame): DataFrame = {
    val bucket = Tables.md5Residue(col("doc_id").cast("string")) % 100
    docs.select(
      col("doc_id"), bucket.as("bucket"),
      when(bucket < 80, "train").when(bucket < 90, "val")
        .otherwise("test").as("split"))
  }

  /** Stratified deterministic sampling — the data-mixing primitive:
    * each stratum (lang) keeps a configured fraction of its docs,
    * selected by a content-stable md5 residue on doc_id. No RNG, no
    * per-stratum pass: one map-side predicate whatever the corpus
    * size, and the SAME docs survive on any cluster/engine (the
    * oracle replays the residues exactly). Rates here model a
    * high-resource-language downsample (en 40%, fr/de 70%, rest
    * kept).
    */
  def sampleStratified(spark: SparkSession, sfDir: String): DataFrame = {
    val residue = Tables.md5Residue(col("doc_id").cast("string")) % 1000
    val keepBelow = when(col("lang") === "en", 400)
      .when(col("lang").isin("fr", "de"), 700)
      .otherwise(1000)
    Tables.load(spark, sfDir, "documents")
      .withColumn("residue", residue)
      .filter(col("residue") < keepBelow)
      .select(col("doc_id"), col("lang"), col("source"), col("residue"))
  }

  /** Domain-mixing plan + materialization — the training-mix solver
    * (Pile/DoReMi-shaped): given a target WEIGHT per source domain
    * (here derived from the source id, w = idx%4+1, so the oracle
    * replays it without a side table), solve for the largest total
    * char budget T the corpus can serve at those proportions
    * (T = min over domains of availᵈ·W/wᵈ — the binding domain caps
    * the whole mix), derive each domain's exact need and sampling
    * rate, and materialize the sample with the content-stable md5
    * residue — the SAME docs survive on any engine or cluster size.
    * All arithmetic is integer (DIV + ppm rates), so DuckDB replays
    * it bit-exactly.
    *
    * Scale shape: one O(domains)-row aggregate, two 1-row scalar
    * cross-joins (broadcast), one broadcast join of the 20-row plan
    * onto the corpus, one map-side filter — no driver loop, no RNG,
    * no shuffle of the corpus beyond the final per-domain rollup.
    */
  def domainMix(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val domains = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("avail_docs"),
        sum(col("n_chars")).as("avail_chars"))
      .withColumn("w",
        regexp_extract(col("source"), "(\\d+)", 1).cast("long") % 4 + 1)
    val wTot = domains.agg(sum(col("w")).as("w_total"))
    val dom2 = domains.crossJoin(broadcast(wTot))
    val tStar = dom2.agg(
      min(expr("(avail_chars * w_total) DIV w")).as("t_star"))
    val plan = dom2.crossJoin(broadcast(tStar))
      .withColumn("need_chars", expr("(w * t_star) DIV w_total"))
      .withColumn("rate_ppm",
        expr("(need_chars * 1000000) DIV avail_chars"))
      .select("source", "w", "avail_docs", "avail_chars", "need_chars",
        "rate_ppm")
    docs.join(broadcast(plan), "source")
      .withColumn("residue",
        Tables.md5Residue(col("doc_id").cast("string")) % 1000000L)
      .filter(col("residue") < col("rate_ppm"))
      .groupBy(col("source"), col("w"), col("avail_docs"),
        col("avail_chars"), col("need_chars"), col("rate_ppm"))
      .agg(count(lit(1)).as("picked_docs"),
        sum(col("n_chars")).as("picked_chars"),
        sum(col("doc_id")).as("picked_docid_sum"))
  }

  /** Sequence packing plan — assign docs to fixed-token-budget bins
    * (the pretraining batch-packing layout): within each stratum
    * (lang — one packed stream per sub-corpus, which is how mixing
    * pipelines pack anyway), docs in deterministic doc_id order get
    * bin b = floor(tokens-before-this-doc / budget); emits per-bin
    * doc and token accounting. The window is PARTITIONED by the
    * stratum, so the cumsum parallelizes across strata instead of
    * serializing on one global sort; identical window spelling on
    * the oracle side.
    */
  def packBins(spark: SparkSession, sfDir: String,
      tokenBudget: Int = 2048): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents").select(
      col("doc_id"), col("lang"),
      size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
        .cast("long").as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs
      .withColumn("tokens_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin_id", floor(col("tokens_before") / tokenBudget))
      .groupBy(col("lang"), col("bin_id"))
      .agg(count(lit(1)).cast("int").as("n_docs"),
        sum(col("n_tokens")).as("bin_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }

  /** TRAINING-SHARD EXPORT packing — the pipeline-exit step that
    * turns a curated corpus into fixed-token-budget shards: every doc
    * gets its GLOBAL exclusive token prefix (docs ordered by doc_id,
    * the deterministic export order) and shard_id =
    * tokens_before div shardTokens — the standard "concatenate and
    * cut every N tokens" training-data layout, one manifest row per
    * shard. Per-doc frame: (doc_id, n_tokens, tokens_before,
    * shard_id).
    *
    * Scale shape — the DISTRIBUTED PREFIX SUM, not a global window: a
    * single `Window.orderBy(doc_id)` cumsum plans as ONE task over
    * the whole corpus (the classic export bottleneck). Instead docs
    * bucket by doc_id div `bucketSize`; per-bucket token subtotals
    * aggregate map-side to an O(corpus/bucketSize)-row pane whose
    * prefix folds on the driver, and the per-doc cumsum is a window
    * WITHIN each bounded bucket plus the bucket's broadcast prefix —
    * every stage distributes, no task sees more than `bucketSize`
    * rows serially. Value-identical to the global window (spec).
    */
  def exportShards(docs: DataFrame, shardTokens: Long = 2048L,
      bucketSize: Long = 4096L, tokenizer: String = "ws",
      vpGrams: Seq[String] = Nil): DataFrame =
    tokenPrefix(docs, bucketSize, startOffset = 0L, tokenizer, vpGrams)
      .withColumn("shard_id", expr(s"tokens_before div ${shardTokens}L"))
      .select(col("doc_id"), col("n_tokens"), col("tokens_before"),
        col("shard_id"))

  /** The distributed-prefix-sum kernel under [[exportShards]] and
    * [[exportShardsIngest]]: per-doc exclusive token prefix in doc_id
    * order, shifted by `startOffset` (the stored corpus total on the
    * incremental path).
    */
  private def tokenPrefix(docs: DataFrame, bucketSize: Long,
      startOffset: Long, tokenizer: String = "ws",
      vpGrams: Seq[String] = Nil): DataFrame =
    countsPrefix(tokenCounts(docs, tokenizer, vpGrams), bucketSize,
      startOffset)

  /** The counts-frame form of [[tokenPrefix]] — the ONE spelling of
    * the doc_id bucketing (`__b = doc_id div bucketSize`) and the
    * prefix-sum order, shared by the one-shot and incremental exits
    * (a caller that already holds (doc_id, n_tokens) — a persisted
    * encode, a supplied counts frame — enters here).
    */
  private def countsPrefix(cnts: DataFrame, bucketSize: Long,
      startOffset: Long): DataFrame =
    prefixSum(cnts.select(col("doc_id"), col("n_tokens"))
        .withColumn("__b", expr(s"doc_id div ${bucketSize}L")),
      Seq("doc_id"), startOffset)

  /** The budget-accounting measure behind the export family: `ws`
    * (whitespace runs — the default the oracles replay), `bpe`
    * (the GPT-2-style pre-tokenization shape shared with
    * [[tokenCount]]), or `vp` (the greedy-encode count under an
    * induced gram vocabulary — [[vocabSegments]], grams supplied via
    * `vpGrams`) — a pipeline that budgets shards in model tokens
    * rather than words swaps the measure without touching the packing
    * plan (one map-side expression either way).
    */
  private def tokenCounts(docs: DataFrame,
      tokenizer: String = "ws",
      vpGrams: Seq[String] = Nil): DataFrame =
    if (tokenizer == "vp") {
      require(vpGrams.nonEmpty,
        "the vp measure needs the induced gram vocabulary (vpGrams — " +
          "e.g. vocabInduct's output)")
      vocabSegments(docs, vpGrams)
        .withColumnRenamed("vp_tokens", "n_tokens")
    } else docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(tokenPattern(tokenizer)),
        lit(0))).cast("long").as("n_tokens"))

  private def tokenPattern(tokenizer: String): String = tokenizer match {
    case "ws" => "\\S+"
    case "bpe" => bpePat
    case other => throw new IllegalArgumentException(
      s"unknown tokenizer '$other' for this form (expected ws|bpe; " +
        "the vp greedy-encode measure rides the metadata pack forms " +
        "via vpGrams and lands content through packTokensMaterialize" +
        "(tokenizer = \"vp\") — the mixture token pack does not " +
        "support vp)")
  }

  /** Distributed exclusive prefix sum of n_tokens over an input
    * carrying an ORDER-ALIGNED bucket column `__b` (bucket order =
    * global `orderCols` order): per-bucket subtotals aggregate
    * map-side, then fold through a SECOND bucket-of-buckets level —
    * super-buckets of `superSize` buckets each — so the driver only
    * ever holds the O(buckets / superSize) super-pane (O(√n) with
    * both sizes at their defaults), the per-bucket prefixes come from
    * a BOUNDED window (≤ superSize rows per super-bucket) plus the
    * broadcast super-prefix, and the per-doc cumsum is a bounded
    * in-bucket window plus the broadcast bucket prefix — never a
    * one-task global window, never an O(buckets) driver pane.
    */
  private[graft] def prefixSum(d: DataFrame, orderCols: Seq[String],
      startOffset: Long, superSize: Long = 4096L): DataFrame = {
    val spark = d.sparkSession
    import spark.implicits._
    require(superSize >= 1L, "prefixSum needs superSize >= 1")
    // level 1: per-bucket subtotals (distributed, map-side combine)
    val sub = d.groupBy(col("__b"))
      .agg(sum(col("n_tokens")).as("__s"))
      .withColumn("__sb", expr(s"__b div ${superSize}L"))
    // level 2: super-bucket subtotals — THE only driver pane,
    // O(buckets / superSize) rows
    val superPane = sub.groupBy(col("__sb"))
      .agg(sum(col("__s")).as("ss"), min(col("__b")).as("mb"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    // `div` truncates toward zero, so a NEGATIVE order key would
    // land in a bucket that breaks the bucket/in-bucket order
    // alignment the prefix sum depends on — refuse loudly (the
    // check rides the already-collected pane, no extra scan; min __b
    // is carried up because b = -1 still truncates to sb = 0)
    require(superPane.forall(_._3 >= 0L),
      "exportShards needs non-negative order keys (bucket order " +
        "would misalign under div's truncation toward zero)")
    var acc = startOffset
    val superPrefix = superPane.map { case (sb, ss, _) =>
      val p = acc; acc += ss; (sb, p) }
    val superDf = broadcast(
      superPrefix.toIndexedSeq.toDF("__sb", "__sprefix"))
    // per-bucket prefix = super prefix + BOUNDED exclusive cumsum of
    // sibling bucket subtotals within the super-bucket (≤ superSize
    // rows per window partition)
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__sb")).orderBy(col("__b"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val prefixDf = sub.join(superDf, Seq("__sb"))
      .withColumn("__prefix",
        col("__sprefix") + coalesce(sum(col("__s")).over(wb), lit(0L)))
      .select(col("__b"), col("__prefix"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__b")).orderBy(orderCols.map(col): _*)
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    d.join(prefixDf, Seq("__b"))
      .withColumn("tokens_before",
        col("__prefix") + coalesce(sum(col("n_tokens")).over(w), lit(0L)))
  }

  /** [[exportShards]] in SHUFFLED order — the standard shuffle-then-
    * pack step before training: the export order is (md5 residue of
    * doc_id, doc_id), a deterministic pseudo-random permutation, so
    * consecutive shards MIX the corpus instead of preserving ingest
    * order (adjacent-document correlation is what the shuffle
    * exists to break). Same distributed prefix sum: buckets are
    * RANGES of the 60-bit hash (h div width), in-bucket windows order
    * by (h, doc_id); the hash is the engine-portable md5 residue, so
    * the oracle replays the permutation and the cumsum exactly. The
    * bucket COUNT scales with the corpus ([[hashBucketWidth]]):
    * auto-sized so each in-bucket window holds ~4096 docs in
    * expectation at ANY corpus size (a fixed divisor would pin the
    * fan-out and grow the per-task window with the corpus), or pinned
    * by `hashBuckets` (the `BUCKET COUNT` SQL knob); the bucketing is
    * value-invisible either way — only the plan's parallelism moves.
    */
  /** `seed` re-parameterizes the permutation — the EPOCH RESHUFFLE a
    * trainer wants (a fresh deterministic order per epoch, replayable
    * by seed): seed 0 hashes the bare doc_id (the legacy spelling the
    * standing oracle replays), any other seed prefixes `"<seed>:"`
    * before hashing, so epochs draw independent md5 orders while each
    * stays engine-portable.
    *
    * NOTE: with `hashBuckets` = 0 (auto), sizing the fan-out runs ONE
    * eager column-pruned COUNT job at frame-CONSTRUCTION time (the
    * width must be a plan literal). A caller composing many frames
    * over one source (an epoch loop, repeated SQL statements) should
    * count once and pass [[autoHashBuckets]]'s result explicitly.
    */
  def exportShardsShuffled(docs: DataFrame,
      shardTokens: Long = 2048L, seed: Long = 0L,
      tokenizer: String = "ws", hashBuckets: Long = 0L): DataFrame = {
    val hashIn =
      if (seed == 0L) col("doc_id").cast("string")
      else concat(lit(s"$seed:"), col("doc_id").cast("string"))
    val counted = tokenCounts(docs, tokenizer)
    val width = hashBucketWidth(counted, hashBuckets)
    prefixSum(counted
        .withColumn("__h", graft.Tables.md5Residue(hashIn))
        .withColumn("__b", expr(s"__h div ${width}L")),
      Seq("__h", "doc_id"), startOffset = 0L)
      .withColumn("shard_id", expr(s"tokens_before div ${shardTokens}L"))
      .select(col("doc_id"), col("n_tokens"), col("tokens_before"),
        col("shard_id"))
  }

  /** Width of the md5-hash-RANGE buckets the shuffled/mixture exports
    * feed to [[prefixSum]]: the 60-bit residue space divides into B
    * order-aligned ranges, B = the next power of two at or above the
    * requested bucket count (a power of two divides 2⁶⁰ exactly, so
    * every bucket is the same width and bucket order = hash order —
    * the alignment the prefix sum depends on). `hashBuckets` 0 = AUTO:
    * B grows with the corpus (rows / targetPerBucket) so the serial
    * in-bucket window stays ~targetPerBucket rows in expectation at
    * ANY scale — 4096 buckets at the old fixed-shift sizes, ~2²⁵
    * buckets at 10¹¹ docs. The sizing count runs over the SLIM counted
    * frame with every derived column pruned (Catalyst drops the
    * tokenize under count), so auto-sizing costs one metadata-cheap
    * pass, and the chosen width never changes VALUES — only how the
    * cumsum's work distributes.
    */
  private def hashBucketWidth(counted: DataFrame, hashBuckets: Long,
      targetPerBucket: Long = 4096L): Long = {
    require(hashBuckets >= 0L,
      "hash-range exports need a non-negative bucket count")
    // NOTE: auto-sizing runs the count at FRAME-CONSTRUCTION time
    // (the width must be a literal in the plan) — a caller building
    // many shuffled frames over one source (the epoch stream) should
    // count once and pass autoHashBuckets(n) explicitly
    val target =
      if (hashBuckets > 0L) hashBuckets
      else math.max(1L, counted.count() / targetPerBucket)
    (1L << 60) / nextPow2(target)
  }

  /** The bucket count auto-sizing resolves to for an `n`-row stream:
    * the next power of two at or above n / targetPerBucket — exposed
    * so multi-frame callers (per-epoch regeneration) can count once
    * and pin it across frames.
    */
  private[graft] def autoHashBuckets(n: Long,
      targetPerBucket: Long = 4096L): Long =
    nextPow2(math.max(1L, n / targetPerBucket))

  private def nextPow2(target: Long): Long = {
    var b = 1L
    while (b < target && b < (1L << 59)) b <<= 1
    b
  }

  /** MATERIALIZED shard export — the step after assignment that a
    * trainer actually consumes: the shard CONTENT lands as parquet
    * partitioned by shard_id (one directory per shard, rows ordered
    * by tokens_before inside each file — the training read order),
    * plus the per-doc assignment columns for provenance. Scale shape:
    * the text moves exactly twice — once through the doc_id equi-join
    * that attaches it to its assignment row (the prefix sum itself
    * never carries text, the r16 hash-keyed-shuffle lesson), once
    * through the shard_id repartition that co-locates each shard for
    * its partition-aligned write; both are plain hash shuffles, no
    * global sort. A re-run overwrites (idempotent). Returns the
    * per-shard manifest RE-DERIVED from the landed files — the
    * assignment pipeline runs exactly ONCE (the write); the manifest
    * is a data-local read-back, which also makes it a write receipt.
    */
  def exportShardsMaterialize(docs: DataFrame, outPath: String,
      shardTokens: Long = 2048L, bucketSize: Long = 4096L,
      tokenizer: String = "ws", shuffled: Boolean = false,
      seed: Long = 0L, hashBuckets: Long = 0L): DataFrame = {
    val assigned =
      if (shuffled) exportShardsShuffled(docs, shardTokens, seed,
        tokenizer, hashBuckets)
      else exportShards(docs, shardTokens, bucketSize, tokenizer)
    assigned
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .repartition(col("shard_id"))
      .sortWithinPartitions(col("shard_id"), col("tokens_before"))
      .write.mode("overwrite").partitionBy("shard_id").parquet(outPath)
    shardManifest(materializedAssignments(docs.sparkSession, outPath))
  }

  /** The per-doc assignment columns read back from a materialized
    * export — the partition-column shard_id normalized to the
    * assignment frames' BIGINT.
    */
  def materializedAssignments(spark: SparkSession,
      outPath: String): DataFrame =
    spark.read.parquet(outPath)
      .select(col("doc_id"), col("n_tokens"), col("tokens_before"),
        col("shard_id").cast("long").as("shard_id"))

  /** Idempotency keys for the incremental export's two appends. */
  val exportAssignAppId = "graft-export-assign"
  val exportStateAppId = "graft-export-state"

  /** INCREMENTAL shard export — the continuous form of
    * [[exportShards]] for a corpus that keeps ingesting: each arriving
    * batch assigns its docs global shard positions CONTINUING from
    * the stored corpus total (one tiny state row per batch — offset
    * reads are O(batches), never a corpus re-scan), and the per-doc
    * assignments land in a GraftTable exactly-once per `batchId`
    * (both the assignments and the state row ride `appendIfNew`
    * watermarks, so a crash between the two commits replays exactly
    * the missing side and a full replay is a no-op). Batches must
    * arrive doc_id-MONOTONE (min doc_id above the stored max) — the
    * property that makes the accumulated state equal the one-shot
    * [[exportShards]] over the whole corpus, checked loudly.
    * Returns the batch's per-doc assignment frame as a LIVE
    * table-backed read (stats-pruned to this batch's files) — never a
    * driver materialization. Like any lazy table read, it sees the
    * files of the version it was planned over: a consumer that holds
    * it across later compact+vacuum cycles should materialize (or
    * re-read the table) rather than cache the plan.
    */
  def exportShardsIngest(spark: SparkSession, exportPath: String,
      docs: DataFrame, batchId: Long, shardTokens: Long = 2048L,
      bucketSize: Long = 4096L, pipelineId: String = "",
      counts: Option[DataFrame] = None): DataFrame = {
    import graft.tables.GraftTable
    require(batchId >= 0L, "exportShardsIngest needs a batchId >= 0")
    // `counts` — an optional precomputed (doc_id, n_tokens) frame
    // under the CALLER's measure (one row per batch doc): the vp
    // incremental token pack passes its encode's array sizes here so
    // the stored offsets are measure-consistent with the ids it
    // slices, without re-running the encode as a count. Absent, the
    // whitespace measure counts inline (the historical default —
    // the stored offsets are measure-bound either way; mixing
    // measures against one path is what the pack meta refuses).
    val statePath = java.nio.file.Paths.get(exportPath, "state").toString
    val asgPath = java.nio.file.Paths.get(exportPath, "assignments")
      .toString
    val hasState = java.nio.file.Files.exists(
      java.nio.file.Paths.get(statePath, "_graft_log"))
    // state as of STRICTLY EARLIER batches: a replay of batch k then
    // recomputes from exactly the offset its first attempt saw — the
    // monotone check passes again and both appendIfNew watermarks
    // skip (or land the crash-missing side), never a double-advance
    // one export path is OWNED by one id sequence: the state rows
    // carry their pipeline namespace and a different pipeline
    // targeting the same path refuses loudly. Without this, a second
    // pipeline whose batch 0 collides with a landed id would read
    // isReplay=true, skip the out-of-order guard, compute offsets
    // from batch_id < 0 state (= 0), and appendIfNew under its OWN
    // namespace would land overlapping token ranges — the silent
    // corruption the monotone guard exists to refuse.
    if (hasState) {
      val st = GraftTable.load(spark, statePath).snapshot()
      // a state table without the owner column predates pipeline
      // namespaces; its batches' watermarks are not in any namespace
      // this export reads, so continuing it could re-land them
      require(st.columns.contains("pipeline"),
        s"exportShardsIngest: the state table at $statePath has no " +
          "'pipeline' column (written by an older Graft release); " +
          "recreate the export")
      val owners = st.where(col("pipeline").isNotNull)
        .select(col("pipeline")).distinct().collect().map(_.getString(0))
      require(owners.isEmpty || owners.sameElements(Array(pipelineId)),
        s"exportShardsIngest: export path $exportPath is owned by " +
          s"pipeline '${owners.mkString(",")}' — a second id sequence " +
          "('" + pipelineId + "') must export to its own path " +
          "(colliding batch ids would silently overlap token ranges)")
    }
    val (offset0, maxDoc0) =
      if (!hasState) (0L, -1L) else {
      val r = GraftTable.load(spark, statePath).snapshot()
        .agg(
          coalesce(max(when(col("batch_id") < batchId,
            col("end_offset"))), lit(0L)),
          coalesce(max(when(col("batch_id") < batchId,
            col("max_doc"))), lit(-1L)),
          coalesce(max(col("batch_id")), lit(-1L)),
          coalesce(max(when(col("batch_id") === batchId, lit(1L))),
            lit(0L))).head()
      // a REPLAY of a landed id recomputes from exactly the offset its
      // first attempt saw (strictly-earlier state) and both watermarks
      // skip; a genuinely NEW batch must carry an id ABOVE every
      // landed one — otherwise a new id arriving BETWEEN landed ids
      // (0 and 2 landed, then 1 shows up) would pass the doc_id
      // monotone check against the earlier-ids-only state, read a
      // stale offset, and silently assign overlapping token ranges
      val isReplay = r.getLong(3) == 1L
      require(isReplay || batchId > r.getLong(2),
        s"exportShardsIngest: batch $batchId is new but not above the " +
          s"max landed batch ${r.getLong(2)} — out-of-order NEW " +
          "batches would read a stale offset and overlap token ranges")
      (r.getLong(0), r.getLong(1))
    }
    // bounds read the counts frame when supplied (slim, usually
    // persisted by the caller) — same doc set as the batch by the
    // counts contract
    val cnts = counts.getOrElse(tokenCounts(docs))
    val bounds = cnts.agg(min(col("doc_id")), max(col("doc_id")),
      count(lit(1))).head()
    require(bounds.getLong(2) > 0L, "exportShardsIngest: empty batch")
    require(bounds.getLong(0) > maxDoc0,
      s"exportShardsIngest needs doc_id-monotone batches: batch min " +
        s"${bounds.getLong(0)} is not above the stored max $maxDoc0 " +
        "(out-of-order arrivals would break one-shot equivalence)")
    val assigned = countsPrefix(cnts, bucketSize, offset0)
      .withColumn("shard_id", expr(s"tokens_before div ${shardTokens}L"))
      .select(col("doc_id"), col("n_tokens"), col("tokens_before"),
        col("shard_id"))
      .withColumn("batch_id", lit(batchId))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val endOffset = assigned
        .agg(max(col("tokens_before") + col("n_tokens"))).head().getLong(0)
      // assignments FIRST, state second: a crash between the commits
      // replays against the OLD offset, appendIfNew skips the landed
      // assignments, and the state row lands on the retry — the
      // fail-safe order (state-first would double-advance the offset)
      val asgT = GraftTable.createIfAbsent(spark, asgPath,
        assigned.limit(0))
      // per-pipeline watermark namespaces (the sigs/shingles lesson):
      // two id sequences sharing one export path must not mistake
      // each other's batch 0 for a replay
      asgT.appendIfNew(assigned, batchId,
        appId = exportAssignAppId + pipelineId): Unit
      import spark.implicits._
      // state rows ALWAYS carry the owning pipeline
      val stateRow = Seq((batchId, endOffset, bounds.getLong(1),
          pipelineId))
        .toDF("batch_id", "end_offset", "max_doc", "pipeline")
      val stT = GraftTable.createIfAbsent(spark, statePath,
        stateRow.limit(0))
      stT.appendIfNew(stateRow, batchId,
        appId = exportStateAppId + pipelineId): Unit
      // return the TABLE-BACKED batch slice — the commits already
      // landed distributed, so the result never rides a driver
      // collect (a production-sized batch must not materialize on
      // the driver on the RETURN path of a distributed operator);
      // the stats-pruned candidate fetch reads ONLY this batch's
      // files (each append's footers carry batch_id min = max = id),
      // so the return path is O(batch), not O(landed corpus)
      GraftTable.load(spark, asgPath)
        .snapshotCandidates(col("batch_id") === batchId)
        .where(col("batch_id") === batchId)
        .select(col("doc_id"), col("n_tokens"), col("tokens_before"),
          col("shard_id"))
    } finally assigned.unpersist(): Unit
  }

  private val exportStages =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** Driver scenario for [[exportShardsIngest]]: the corpus arrives
    * in 3 doc_id-monotone batches plus a replay of the last; the
    * accumulated assignments must equal the one-shot export, so the
    * per-shard manifest shares [[exportShardsManifest]]'s oracle.
    * Staged ONCE per (process, sfDir, budget) — the
    * `sqlLifecycleStages` convention — so repeated driver/bench
    * invocations time the manifest SERVE, not 4 re-staged commits
    * into a fresh temp dir each call.
    */
  def exportShardsIncrementalScenario(spark: SparkSession,
      sfDir: String, shardTokens: Long = 2048L): DataFrame = {
    val stage = exportStages.computeIfAbsent(s"$sfDir:$shardTokens",
      { _ =>
        val docs = Tables.load(spark, sfDir, "documents")
        val p = java.nio.file.Files.createTempDirectory("graft_export_")
        exportShardsIngest(spark, p.toString,
          docs.where(col("doc_id") < 170), 0L, shardTokens)
        exportShardsIngest(spark, p.toString,
          docs.where(col("doc_id") >= 170 && col("doc_id") < 340), 1L,
          shardTokens)
        exportShardsIngest(spark, p.toString,
          docs.where(col("doc_id") >= 340), 2L, shardTokens)
        // replay of the last batch: both watermarks skip, state stays
        exportShardsIngest(spark, p.toString,
          docs.where(col("doc_id") >= 340), 2L, shardTokens)
        p
      }).toString
    shardManifest(graft.tables.GraftTable.load(spark,
        java.nio.file.Paths.get(stage, "assignments").toString)
      .snapshot())
  }

  /** Per-shard MANIFEST over a per-doc assignment frame — the
    * artifact an export run hands to the trainer (one row per shard:
    * doc count, token total, doc-id range).
    */
  def shardManifest(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("shard_id"))
      .agg(count(lit(1)).cast("int").as("n_docs"),
        sum(col("n_tokens")).as("shard_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))

  private val materializeStages =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** Driver scenario for [[exportShardsMaterialize]]: stage the
    * materialized export once per process, then RE-DERIVE the
    * manifest from the LANDED content — token counts re-run on the
    * materialized text and doc ranges re-aggregate from the shard
    * directories, so the shared manifest oracle checks the write's
    * content integrity end-to-end, not just the assignment math.
    */
  def exportShardsMaterializedScenario(spark: SparkSession,
      sfDir: String, shardTokens: Long = 2048L): DataFrame = {
    val out = materializeStages.computeIfAbsent(s"$sfDir:$shardTokens",
      { _ =>
        val p = java.nio.file.Files.createTempDirectory("graft_expmat_")
        exportShardsMaterialize(Tables.load(spark, sfDir, "documents"),
          p.resolve("shards").toString, shardTokens)
        p
      })
    spark.read.parquet(out.resolve("shards").toString)
      .withColumn("shard_id", col("shard_id").cast("long"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).cast("int").as("n_docs"),
        sum(size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
          .cast("long")).as("shard_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }

  /** Driver scenario for [[exportShards]]: the per-shard MANIFEST
    * over the documents table.
    */
  def exportShardsManifest(spark: SparkSession, sfDir: String,
      shardTokens: Long = 2048L): DataFrame =
    shardManifest(
      exportShards(Tables.load(spark, sfDir, "documents"), shardTokens))

  /** FIXED-LENGTH SEQUENCE PACKING — the step between shard export
    * and the training loop: the concatenated token stream (docs in
    * doc_id order) cuts at every `seqLen` tokens and each doc maps to
    * its SPAN of training sequences: (start_seq, start_offset,
    * end_seq, n_seqs). A doc whose tokens cross a cut CONTINUES into
    * the next sequence — the standard packed-pretraining layout where
    * attention masks (not padding) separate documents; this frame is
    * exactly the metadata those masks and any doc-provenance lookup
    * need. Rides the same distributed prefix sum as [[exportShards]]
    * (never a one-task global window); everything after the cumsum is
    * map-side integer arithmetic. A zero-token doc degenerates to a
    * zero-width span at its stream position (n_seqs = 1, the GREATEST
    * guard), so the frame stays total.
    */
  def packSequences(docs: DataFrame, seqLen: Long = 512L,
      bucketSize: Long = 4096L, tokenizer: String = "ws",
      vpGrams: Seq[String] = Nil): DataFrame = {
    require(seqLen >= 1L, "packSequences needs seqLen >= 1")
    spanColumns(
      tokenPrefix(docs, bucketSize, startOffset = 0L, tokenizer,
        vpGrams), seqLen)
  }

  /** THE per-doc span arithmetic over any frame carrying
    * (doc_id, n_tokens, tokens_before) — shared by the one-shot
    * [[packSequences]] and the incremental [[packSequencesIngest]],
    * one definition so a pack accumulated across batches can never
    * silently diverge from the one-shot spans (the
    * fragmentWindows/docStartsAgg discipline). Map-side integer
    * arithmetic only.
    */
  private def spanColumns(prefixed: DataFrame,
      seqLen: Long): DataFrame =
    prefixed
      .withColumn("start_seq", expr(s"tokens_before div ${seqLen}L"))
      .withColumn("start_offset", expr(s"tokens_before % ${seqLen}L"))
      .withColumn("end_seq", expr(
        s"(tokens_before + greatest(n_tokens, 1L) - 1L) div ${seqLen}L"))
      .withColumn("n_seqs", col("end_seq") - col("start_seq") + lit(1L))
      .select(col("doc_id"), col("n_tokens"), col("tokens_before"),
        col("start_seq"), col("start_offset"), col("end_seq"),
        col("n_seqs"))

  /** INCREMENTAL sequence packing — the continuous form of
    * [[packSequences]] for a corpus that keeps ingesting: each
    * arriving batch's docs take spans CONTINUING from the stored
    * corpus token total, so a sequence left PARTIALLY OPEN by batch
    * k's last doc is filled by batch k+1's first (the carry the
    * one-shot layout gets for free from the global cumsum). The
    * continuation state IS the incremental exporter's
    * (end_offset, max_doc, batch watermark) rows — this operator
    * rides [[exportShardsIngest]] with budget = `seqLen` (a shard of
    * seqLen tokens and a training sequence cut at every seqLen are
    * the same arithmetic), inheriting the whole exactly-once
    * contract: doc_id-monotone batches checked loudly, replays
    * re-land nothing, crash between the two commits self-heals,
    * one pipeline id owns the path. Returns the batch's span frame
    * (the one-shot columns); the accumulated table must equal the
    * one-shot [[packSequences]] over the union of batches.
    */
  def packSequencesIngest(spark: SparkSession, packPath: String,
      docs: DataFrame, batchId: Long, seqLen: Long = 512L,
      bucketSize: Long = 4096L, pipelineId: String = ""): DataFrame = {
    require(seqLen >= 1L, "packSequencesIngest needs seqLen >= 1")
    spanColumns(
      exportShardsIngest(spark, packPath, docs, batchId,
          shardTokens = seqLen, bucketSize, pipelineId)
        .select(col("doc_id"), col("n_tokens"), col("tokens_before")),
      seqLen)
  }

  /** The per-SEQUENCE manifest over an incremental pack's ACCUMULATED
    * state — [[seqManifest]]'s rollup, but over the landed
    * (doc_id, n_tokens, tokens_before) assignments instead of a
    * fresh cumsum: the read that hands a trainer the mask/provenance
    * metadata for everything packed so far. Shares [[fragmentWindows]]
    * (the single fill-window definition), so it equals the one-shot
    * manifest whenever the batches were doc_id-monotone — which the
    * ingest enforces.
    */
  def packIngestManifest(spark: SparkSession, packPath: String,
      seqLen: Long = 512L): DataFrame =
    fragmentWindows(
      graft.tables.GraftTable.load(spark,
          java.nio.file.Paths.get(packPath, "assignments").toString)
        .snapshot()
        .select(col("doc_id"), col("n_tokens"), col("tokens_before")),
      seqLen)
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).cast("int").as("n_docs"),
        sum(col("fill_end") - col("fill_start")).as("filled_tokens"),
        sum(when(col("carry_in"), lit(1L)).otherwise(lit(0L)))
          .as("n_carry_in"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))

  private val packIngestStages =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** Driver scenario for [[packSequencesIngest]]: the corpus arrives
    * in 3 doc_id-monotone batches plus a replay of the last (re-lands
    * nothing); the batch splits are NOT aligned to seqLen, so
    * sequences at both batch seams carry a doc across the boundary —
    * the accumulated manifest must equal the one-shot
    * [[seqManifest]], whose oracle it shares. Staged once per
    * (process, sfDir) so the bench times the manifest serve.
    */
  def packSequencesIncrementalScenario(spark: SparkSession,
      sfDir: String, seqLen: Long = 512L): DataFrame = {
    val stage = packIngestStages.computeIfAbsent(s"$sfDir:$seqLen",
      { _ =>
        val docs = Tables.load(spark, sfDir, "documents")
        val p = java.nio.file.Files.createTempDirectory("graft_packinc_")
        packSequencesIngest(spark, p.toString,
          docs.where(col("doc_id") < 170), 0L, seqLen)
        packSequencesIngest(spark, p.toString,
          docs.where(col("doc_id") >= 170 && col("doc_id") < 340), 1L,
          seqLen)
        packSequencesIngest(spark, p.toString,
          docs.where(col("doc_id") >= 340), 2L, seqLen)
        // replay of the last batch: both watermarks skip, state stays
        packSequencesIngest(spark, p.toString,
          docs.where(col("doc_id") >= 340), 2L, seqLen)
        p
      })
    packIngestManifest(spark, stage.toString, seqLen)
  }

  /** Per-SEQUENCE manifest over [[packSequences]] — one row per
    * training sequence: how many docs it holds, how many tokens fill
    * it (== seqLen everywhere but the ragged tail), and whether a doc
    * CARRIES IN from the previous sequence (n_carry_in — the
    * cross-boundary count an attention-mask builder needs). Scale
    * shape: each doc explodes to its O(n_tokens/seqLen + 1) sequence
    * ids map-side — the explosion is linear in corpus tokens — and
    * the rollup is one hash aggregation on seq_id.
    */
  def seqManifest(docs: DataFrame, seqLen: Long = 512L,
      bucketSize: Long = 4096L, tokenizer: String = "ws",
      vpGrams: Seq[String] = Nil): DataFrame =
    seqFragments(docs, seqLen, bucketSize, tokenizer, vpGrams)
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).cast("int").as("n_docs"),
        sum(col("fill_end") - col("fill_start")).as("filled_tokens"),
        sum(when(col("carry_in"), lit(1L)).otherwise(lit(0L)))
          .as("n_carry_in"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))

  /** The shared fragment explode under [[seqManifest]] and
    * [[packSequencesMaterialize]]: one row per (doc, sequence it
    * overlaps), with the fill window [fill_start, fill_end) — the
    * intersection of the doc's token interval with the sequence's —
    * and the carry-in flag (the doc started in an earlier sequence).
    * Both consumers MUST share this arithmetic: a manifest computed
    * from one definition over content from another silently diverges.
    */
  private def seqFragments(docs: DataFrame, seqLen: Long,
      bucketSize: Long, tokenizer: String,
      vpGrams: Seq[String] = Nil): DataFrame =
    fragmentWindows(
      packSequences(docs, seqLen, bucketSize, tokenizer, vpGrams),
      seqLen)

  /** THE doc-start-offset aggregation (the mask boundary positions a
    * loader consumes), shared by both token packs — like
    * [[fragmentWindows]], one definition so the two artifacts can
    * never silently diverge: each fragment's start inside its
    * sequence, ordered by stream position.
    */
  private def docStartsAgg(
      seqLen: Long): org.apache.spark.sql.Column =
    transform(
      array_sort(collect_list(struct(col("tokens_before"),
        (col("fill_start") - col("seq_id") * seqLen).as("__start")))),
      x => x.getField("__start")).as("doc_starts")

  /** THE fill-window arithmetic, shared by every consumer (the
    * doc_id-ordered fragments above AND the mixture token pack's
    * copy stream): one row per (stream row, sequence it overlaps)
    * over any frame carrying (tokens_before, n_tokens), with the
    * fill window [fill_start, fill_end) and the carry-in flag.
    * A manifest computed from one definition over content from
    * another would silently diverge — this helper is the single
    * definition.
    */
  private def fragmentWindows(prefixed: DataFrame,
      seqLen: Long): DataFrame =
    prefixed
      .where(col("n_tokens") > 0L)
      .withColumn("seq_id", explode(sequence(
        expr(s"tokens_before div ${seqLen}L"),
        expr(s"(tokens_before + n_tokens - 1L) div ${seqLen}L"))))
      .withColumn("fill_start",
        greatest(col("seq_id") * seqLen, col("tokens_before")))
      .withColumn("fill_end",
        least((col("seq_id") + 1L) * seqLen,
          col("tokens_before") + col("n_tokens")))
      .withColumn("carry_in",
        col("tokens_before") < col("seq_id") * seqLen)

  /** MATERIALIZED sequence packing — the training batches themselves:
    * every fixed-length sequence lands as ONE row (seq_id, seq_text,
    * doc_ids, n_carry_in) with its token content assembled across the
    * doc fragments that tile it, in stream order — the artifact a
    * trainer's data loader actually reads (docs separated inside a
    * sequence by position, attention masks built from the carry-in /
    * doc_ids provenance). Whitespace-token measure only: fragments
    * slice the doc's token array and rejoin single-spaced, so
    * re-tokenizing the landed text reproduces the fill counts exactly
    * (a subword measure would need token-id slicing — the decode stub
    * boundary, refused loudly). Scale shape: text moves twice (the
    * doc_id equi-join onto spans, the seq_id shuffle into sequence
    * rows); each doc explodes to O(n_tokens/seqLen + 1) fragments
    * map-side; the landed layout is range-partitioned by seq_id with
    * rows sorted inside files (the sequential read order), never one
    * directory per sequence. Re-runs overwrite. Returns the per-
    * sequence manifest RE-DERIVED from the landed content (token
    * counts re-run on the written text, doc ranges from the landed
    * provenance arrays) — a write receipt, not a replay of the
    * assignment math.
    */
  def packSequencesMaterialize(docs: DataFrame, outPath: String,
      seqLen: Long = 512L, bucketSize: Long = 4096L): DataFrame = {
    val spark = docs.sparkSession
    // the token ARRAY must use the same measure as the token COUNTS
    // driving the offsets: regexp_extract_all("\S+"), never
    // split("\s+") — split yields a leading EMPTY element on
    // leading-whitespace text, which would shift every slice by one
    // and silently drop the doc's last token from the landed batch
    val frags = seqFragments(docs, seqLen, bucketSize, "ws")
      .join(docs.select(col("doc_id"),
        regexp_extract_all(col("text"), lit("\\S+"), lit(0))
          .as("__toks")), Seq("doc_id"))
      .withColumn("__frag", concat_ws(" ", slice(col("__toks"),
        (col("fill_start") - col("tokens_before") + 1L).cast("int"),
        (col("fill_end") - col("fill_start")).cast("int"))))
    frags.groupBy(col("seq_id"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("tokens_before"),
            col("__frag")))),
          x => x.getField("__frag"))).as("seq_text"),
        transform(
          array_sort(collect_list(struct(col("tokens_before"),
            col("doc_id")))),
          x => x.getField("doc_id")).as("doc_ids"),
        // the same mask-boundary offsets the token packs land (in
        // TOKEN positions — the landed text is single-spaced, so a
        // loader re-tokenizing it can cut at these directly)
        docStartsAgg(seqLen),
        max(when(col("carry_in"), lit(1L)).otherwise(lit(0L)))
          .as("n_carry_in"))
      .repartitionByRange(col("seq_id"))
      .sortWithinPartitions(col("seq_id"))
      .write.mode("overwrite").parquet(outPath)
    val manifest = materializedSeqManifest(spark, outPath)
    writePackSummary(outPath, "text", "ws", seqLen, 0L, manifest)
    manifest
  }

  /** The per-sequence manifest read back from a materialized pack:
    * fill counts RE-TOKENIZED from the landed text, doc ranges from
    * the landed provenance arrays — everything content-derivable is
    * re-derived, so the shared seq-manifest oracle checks the write's
    * integrity end-to-end.
    */
  def materializedSeqManifest(spark: SparkSession,
      outPath: String): DataFrame =
    spark.read.parquet(outPath)
      .select(col("seq_id"),
        size(col("doc_ids")).cast("int").as("n_docs"),
        size(regexp_extract_all(col("seq_text"), lit("\\S+"), lit(0)))
          .cast("long").as("filled_tokens"),
        col("n_carry_in"),
        array_min(col("doc_ids")).as("first_doc"),
        array_max(col("doc_ids")).as("last_doc"))

  private val seqMatStages =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** Driver scenario for [[packSequencesMaterialize]]: stage the
    * materialized pack once per process, re-derive the manifest from
    * the landed rows — shares the `text_seq_manifest` oracle.
    */
  def packSequencesMaterializedScenario(spark: SparkSession,
      sfDir: String, seqLen: Long = 512L): DataFrame = {
    val out = seqMatStages.computeIfAbsent(s"$sfDir:$seqLen", { _ =>
      val p = java.nio.file.Files.createTempDirectory("graft_seqmat_")
      packSequencesMaterialize(Tables.load(spark, sfDir, "documents"),
        p.resolve("seqs").toString, seqLen)
      p
    })
    materializedSeqManifest(spark, out.resolve("seqs").toString)
  }

  /** WHOLE-TOKEN VOCABULARY for the token-ID pipeline exit: the top-V
    * tokens (under the chosen pre-tokenization measure) by corpus
    * frequency, ids 1..V assigned by dense rank over (count desc,
    * token) — deterministic, engine-portable (a SQL ROW_NUMBER
    * replays it), id 0 reserved for UNK. Scale shape: the token count
    * is one partial-aggregated hash agg over the exploded tokens, the
    * top-V cut is a distributed TakeOrdered, and the rank window runs
    * over the already-cut VOCAB-sized pane (bounded by V, never the
    * corpus token domain).
    */
  def tokenVocab(docs: DataFrame, vocabSize: Int = 512,
      tokenizer: String = "ws"): DataFrame = {
    require(vocabSize >= 1, "tokenVocab needs vocabSize >= 1")
    val top = docs
      .select(explode(regexp_extract_all(col("text"),
        lit(tokenPattern(tokenizer)), lit(0))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(vocabSize)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("token"))
    top.withColumn("id", row_number().over(w).cast("long"))
      .select(col("token"), col("id"), col("cnt"))
  }

  /** MATERIALIZED TOKEN-ID sequence packing — the artifact a
    * trainer's data loader ultimately reads: every fixed-length
    * sequence lands as ONE row (seq_id, token_ids, doc_ids,
    * doc_starts, n_carry_in — the start offsets are the in-sequence
    * boundary positions an attention/loss-mask builder consumes)
    * whose content is the ID array of the doc fragments
    * tiling it in stream order, ids from a token→id vocabulary
    * (`vocab` — token/id columns, e.g. [[tokenVocab]]'s output or any
    * externally trained table; absent → the top-`vocabSize` induced
    * whole-token vocab), out-of-vocabulary tokens to id 0 (UNK).
    * Unlike the text materializer, ANY pre-tokenization measure works
    * — id slicing needs no textual re-assembly, so the `bpe` measure
    * the metadata forms accept finally lands a consumable artifact,
    * and the `vp` measure lands true SUBWORD sequences: the doc's
    * stream is its greedy-encode segment-id array under the induced
    * gram vocabulary ([[gramVocab]]) or a supplied one — the
    * UNK-heavy whole-token ceiling is gone.
    * Scale shape: the vocabulary rides ONE broadcast 1-row map column
    * (bounded by V; probes are per-token map lookups — a
    * production-sized V trades this literal map for the same
    * broadcast-join spelling), fragments explode map-side exactly as
    * [[seqFragments]], token arrays cross the doc_id join once, and
    * the landed layout is range-partitioned by seq_id with rows
    * sorted inside files. Re-runs overwrite. Returns the per-sequence
    * manifest RE-DERIVED from the landed arrays (fill counts = array
    * lengths, an id checksum over the landed ids) — a write receipt.
    */
  def packTokensMaterialize(docs: DataFrame, outPath: String,
      seqLen: Long = 128L, vocabSize: Int = 512,
      tokenizer: String = "ws", bucketSize: Long = 4096L,
      vocab: Option[DataFrame] = None): DataFrame = {
    val spark = docs.sparkSession
    // the vocabulary plan (a corpus-scale aggregation when induced)
    // is referenced by the probe-window agg, the broadcast map AND
    // the summary count — persist it so it runs once per write. Only
    // the INDUCED plan: Spark's cache is logical-plan-keyed, so
    // persist/unpersist on a caller-SUPPLIED frame would evict the
    // caller's own cache of it
    val induced = vocab.isEmpty
    val vdf = vocab.getOrElse {
      (if (tokenizer == "vp") gramVocab(docs, vocabSize)
       else tokenVocab(docs, vocabSize, tokenizer))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    var encoded: Option[DataFrame] = None
    var resolvedTok = tokenizer
    val frags = if (tokenizer == "vp") {
      // the SUBWORD form: the doc's token stream IS its segment-id
      // array under the induced — or supplied — vocabulary (greedy
      // longest-match, or MERGE-ORDER when the table carries its
      // merge pairs — [[segmentIdsFor]] routes; the summary records
      // which ran). The fill windows slice the id arrays directly
      // (no token→id map; the ids were assigned at encode time, UNK
      // already 0). Counts derive from the SAME arrays (size), so
      // the prefix sum and the landed ids cannot diverge. The encode
      // is PERSISTED for the write: the plan references it three
      // times (the prefix sum's two scans + the __ids join) and must
      // not run three times.
      val (docIds0, mode) = segmentIdsFor(docs, vdf)
      resolvedTok = mode
      val docIds = docIds0
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      encoded = Some(docIds)
      val counted = docIds.select(col("doc_id"),
          size(col("vp_ids")).cast("long").as("n_tokens"))
        .withColumn("__b", expr(s"doc_id div ${bucketSize}L"))
      fragmentWindows(prefixSum(counted, Seq("doc_id"),
          startOffset = 0L), seqLen)
        .join(docIds.select(col("doc_id"),
          col("vp_ids").as("__ids")), Seq("doc_id"))
        .withColumn("__frag_ids", slice(col("__ids"),
          (col("fill_start") - col("tokens_before") + 1L).cast("int"),
          (col("fill_end") - col("fill_start")).cast("int")))
    } else {
      val vmap = broadcast(vdf.agg(map_from_entries(
        collect_list(struct(col("token"), col("id")))).as("__vmap")))
      seqFragments(docs, seqLen, bucketSize, tokenizer)
        .join(docs.select(col("doc_id"),
          regexp_extract_all(col("text"), lit(tokenPattern(tokenizer)),
            lit(0)).as("__toks")), Seq("doc_id"))
        .crossJoin(vmap)
        .withColumn("__frag_ids", transform(
          slice(col("__toks"),
            (col("fill_start") - col("tokens_before") + 1L).cast("int"),
            (col("fill_end") - col("fill_start")).cast("int")),
          t => coalesce(element_at(col("__vmap"), t), lit(0L))))
    }
    try {
      frags.groupBy(col("seq_id"))
        .agg(
          flatten(transform(
            array_sort(collect_list(struct(col("tokens_before"),
              col("__frag_ids")))),
            x => x.getField("__frag_ids"))).as("token_ids"),
          transform(
            array_sort(collect_list(struct(col("tokens_before"),
              col("doc_id")))),
            x => x.getField("doc_id")).as("doc_ids"),
          // each doc's START OFFSET inside the sequence — with doc_ids
          // these are the boundary positions an attention/loss-mask
          // builder consumes directly (fragments tile the sequence, so
          // starts are the exclusive prefix sums of fragment lengths)
          docStartsAgg(seqLen),
          // at most one doc can carry INTO a sequence (only the first
          // fragment can have started earlier), so max ≡ count — the
          // text materializer's spelling, kept aligned
          max(when(col("carry_in"), lit(1L)).otherwise(lit(0L)))
            .as("n_carry_in"))
        .repartitionByRange(col("seq_id"))
        .sortWithinPartitions(col("seq_id"))
        .write.mode("overwrite").parquet(outPath)
    } finally encoded.foreach(_.unpersist(): Unit)
    val manifest = materializedTokenManifest(spark, outPath)
    // the summary records the ACTUAL vocabulary size (served from the
    // persisted vocab — induced and supplied packs of identical
    // content must describe identically)
    try writePackSummary(outPath, "tokens", resolvedTok, seqLen,
      vdf.count(), manifest)
    finally { if (induced) vdf.unpersist(): Unit }
    manifest
  }

  /** ONE-ROW PACK SUMMARY sidecar (`_pack_summary.json`, underscore-
    * prefixed so parquet readers skip it) — the DESCRIBE PACK ops
    * glance: which form/measure/length/vocab produced this layout and
    * the landed totals (sequence count, fill, id checksum). Written
    * on the materialize path by aggregating the write-receipt
    * manifest — one extra pass over the landed slim columns at write
    * time buys an O(1) DESCRIBE forever after; the totals double as
    * a landing fingerprint a re-run can be compared against.
    */
  private def writePackSummary(outPath: String, form: String,
      tokenizer: String, seqLen: Long, vocabSize: Long,
      manifest: DataFrame): Unit = {
    val hasIds = manifest.columns.contains("ids_sum")
    val r = manifest.agg(
      count(lit(1)).as("n"),
      coalesce(sum(col("filled_tokens")), lit(0L)).as("ft"),
      (if (hasIds) coalesce(sum(col("ids_sum")), lit(0L))
       else lit(0L)).as("is")).head()
    val json = s"""{"form":"$form","tokenizer":"$tokenizer",""" +
      s""""seq_len":$seqLen,"vocab_size":$vocabSize,""" +
      s""""n_sequences":${r.getLong(0)},""" +
      s""""filled_tokens":${r.getLong(1)},"ids_sum":${r.getLong(2)}}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath, "_pack_summary.json"),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    : Unit
  }

  /** Read a landed pack's one-row summary — refuses descriptively
    * when the path holds no materialized pack.
    */
  def describePack(spark: SparkSession, path: String): DataFrame = {
    val p = java.nio.file.Paths.get(path, "_pack_summary.json")
    val incMeta = java.nio.file.Paths.get(path, "_pack_meta.json")
    // the INCREMENTAL layout has no frozen summary — its totals move
    // with every batch. The serve path folds the per-batch ROLLUP
    // ledger (O(batches): n_sequences = max(max_seq)+1 over the
    // gapless stream, fills/ids additive) WHEN the ledger covers
    // every landed batch; a pack mid-crash-window (fragments landed,
    // rollup append pending replay) falls back to the LIVE
    // re-aggregation over the slim fragment arrays — the honest cost
    // until the ledger self-heals.
    if (!java.nio.file.Files.exists(p) &&
        java.nio.file.Files.exists(incMeta)) {
      require(java.nio.file.Files.exists(java.nio.file.Paths
          .get(path, "fragments", "_graft_log")),
        s"DESCRIBE PACK: the pack at $path pinned its constants but " +
          "no batch has landed fragments yet (batch 0 is in flight " +
          "or crashed before its fragment append — replay it first)")
      val meta = readPackMeta(spark, incMeta)
      val vocabT = graft.tables.GraftTable.load(spark,
        java.nio.file.Paths.get(path, "vocab").toString)
      val vSize = vocabT.rowCount.getOrElse(vocabT.snapshot().count())
      val rollLog = java.nio.file.Paths.get(path, "rollups",
        "_graft_log")
      val stateLog = java.nio.file.Paths.get(path, "state",
        "_graft_log")
      val ledger: Option[(Long, Long, Long)] =
        if (!java.nio.file.Files.exists(rollLog) ||
            !java.nio.file.Files.exists(stateLog)) None
        else {
          val rolls = graft.tables.GraftTable.load(spark,
            java.nio.file.Paths.get(path, "rollups").toString)
            .snapshot()
          // coverage: every landed batch (a state row commits only
          // after its content) must have its rollup row — one
          // anti-join over the two O(batches) tables
          val missing = graft.tables.GraftTable.load(spark,
              java.nio.file.Paths.get(path, "state").toString)
            .snapshot().select(col("batch_id")).distinct()
            .exceptAll(rolls.select(col("batch_id")).distinct())
            .limit(1).count()
          if (missing > 0L) None
          else {
            // max_seq is NULL on a batch that landed zero fragments
            // (every doc measured 0 tokens) — a ledger made entirely
            // of such rows folds to 0 sequences, not an NPE
            val r = rolls.agg(
              coalesce(max(col("max_seq")) + 1L, lit(0L)),
              coalesce(sum(col("filled_tokens")), lit(0L)),
              coalesce(sum(col("ids_sum")), lit(0L))).head()
            Some((r.getLong(0), r.getLong(1), r.getLong(2)))
          }
        }
      val (n, ft, is) = ledger.getOrElse {
        val r = packTokensIngestManifest(spark, path)
          .agg(count(lit(1)).as("n"),
            coalesce(sum(col("filled_tokens")), lit(0L)).as("ft"),
            coalesce(sum(col("ids_sum")), lit(0L)).as("is")).head()
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }
      import spark.implicits._
      return Seq((meta.getString(0), meta.getString(1),
          meta.getLong(2), vSize, n, ft, is))
        .toDF("form", "tokenizer", "seq_len", "vocab_size",
          "n_sequences", "filled_tokens", "ids_sum")
    }
    require(java.nio.file.Files.exists(p),
      s"DESCRIBE PACK: no _pack_summary.json under $path — the path " +
        "does not hold a materialized pack (run PACK SEQUENCES ... " +
        "MATERIALIZE TO first)")
    // the sidecar is underscore-prefixed so DATA readers skip it —
    // which also hides it from Spark's own file index; it is one
    // line, so read it on the driver and parse via a literal dataset
    val line = new String(java.nio.file.Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8)
    import spark.implicits._
    spark.read.schema(
        "form STRING, tokenizer STRING, seq_len LONG, " +
          "vocab_size LONG, n_sequences LONG, filled_tokens LONG, " +
          "ids_sum LONG")
      .json(spark.createDataset(Seq(line)))
      .select(col("form"), col("tokenizer"), col("seq_len"),
        col("vocab_size"), col("n_sequences"), col("filled_tokens"),
        col("ids_sum"))
  }

  /** THE pack-meta sidecar parser — one schema'd read shared by the
    * writer's consumers (DESCRIBE PACK and the ingest drift guard),
    * so a format change fails loudly in one place instead of three
    * regexes drifting. Returns (form, tokenizer, seq_len).
    */
  private[graft] def readPackMeta(spark: SparkSession,
      metaPath: java.nio.file.Path): org.apache.spark.sql.Row = {
    val line = new String(java.nio.file.Files.readAllBytes(metaPath),
      java.nio.charset.StandardCharsets.UTF_8)
    import spark.implicits._
    val r = spark.read
      .schema("form STRING, tokenizer STRING, seq_len LONG")
      .json(spark.createDataset(Seq(line)))
      .select(col("form"), col("tokenizer"), col("seq_len")).head()
    require(!r.isNullAt(2),
      s"unreadable pack meta at $metaPath — the sidecar must carry " +
        "form/tokenizer/seq_len")
    r
  }

  /** The per-sequence manifest read back from a materialized token-ID
    * pack: fill counts are the landed ARRAY LENGTHS, the id checksum
    * sums the landed ids — everything content-derivable is
    * re-derived, so the oracle (which replays the vocabulary ranking,
    * the id lookup and the slicing relationally) checks the landed
    * ids end-to-end, not just the span math.
    */
  def materializedTokenManifest(spark: SparkSession,
      outPath: String): DataFrame =
    spark.read.parquet(outPath)
      .select(col("seq_id"),
        size(col("doc_ids")).cast("int").as("n_docs"),
        size(col("token_ids")).cast("long").as("filled_tokens"),
        col("n_carry_in"),
        aggregate(col("token_ids"), lit(0L), (a, x) => a + x)
          .as("ids_sum"),
        array_min(col("doc_ids")).as("first_doc"),
        array_max(col("doc_ids")).as("last_doc"))

  /** The PRODUCTION-V spelling of the token→id lookup — the seam the
    * pack docstrings promise: a vocabulary too large for a literal
    * 1-row map column (≳10⁶ entries) trades the map probe for a
    * posexplode → broadcast equi-join → ordered re-collect, value-
    * identical by construction (OOV → 0, order restored from the
    * exploded position). Kept package-private as the guarded
    * alternative; the literal-map path stays the default below the
    * broadcast threshold. The equivalence is spec-pinned.
    */
  private[graft] def tokenIdsByJoin(docsToks: DataFrame,
      vocab: DataFrame): DataFrame = {
    val ids = docsToks
      .select(col("doc_id"), posexplode(col("__toks")).as(Seq("__p", "__t")))
      .join(broadcast(vocab.select(col("token").as("__t"),
        col("id").cast("long").as("__id"))), Seq("__t"), "left")
      .groupBy(col("doc_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("__p"),
          coalesce(col("__id"), lit(0L)).as("__id")))),
        x => x.getField("__id")).as("__ids"))
    // zero-token docs have nothing to explode — reattach them with
    // empty id arrays so the two spellings agree row-for-row
    docsToks.select(col("doc_id"))
      .join(ids, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__ids"), array_repeat(lit(0L), 0)).as("__ids"))
  }

  private val tokenMatStages =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** Driver scenario for [[packTokensMaterialize]]: stage the token-ID
    * pack once per process (seqLen 128, induced 512-token vocab), read
    * the manifest back from the landed arrays.
    */
  /** The once-per-process ws token-pack stage, shared by the
    * manifest scenario and the DESCRIBE PACK scenario — one key
    * builder so the two can never disagree about where the stage
    * lives.
    */
  private def wsTokenPackStage(spark: SparkSession, sfDir: String,
      seqLen: Long, vocabSize: Int): java.nio.file.Path =
    tokenMatStages.computeIfAbsent(
      s"$sfDir:$seqLen:$vocabSize", { _ =>
        val p = java.nio.file.Files.createTempDirectory("graft_tokmat_")
        packTokensMaterialize(Tables.load(spark, sfDir, "documents"),
          p.resolve("seqs").toString, seqLen, vocabSize)
        p
      })

  def packTokensMaterializedScenario(spark: SparkSession,
      sfDir: String, seqLen: Long = 128L,
      vocabSize: Int = 512): DataFrame = {
    val out = wsTokenPackStage(spark, sfDir, seqLen, vocabSize)
    materializedTokenManifest(spark, out.resolve("seqs").toString)
  }

  /** Driver scenario for the SUBWORD pack — [[packTokensMaterialize]]
    * under the `vp` measure (seqLen 128, induced top-64 gram
    * vocabulary): stage once per process, read the manifest back from
    * the landed id arrays. The oracle replays the gram induction, the
    * greedy cursor, the id assignment, the doc_id-ordered prefix sum
    * and the slicing — the complete subword loader artifact, checked
    * end to end.
    */
  def packTokensVpScenario(spark: SparkSession, sfDir: String,
      seqLen: Long = 128L, vocabSize: Int = 64): DataFrame = {
    val out = tokenMatStages.computeIfAbsent(
      s"$sfDir:vp:$seqLen:$vocabSize", { _ =>
        val p = java.nio.file.Files.createTempDirectory("graft_vpmat_")
        packTokensMaterialize(Tables.load(spark, sfDir, "documents"),
          p.resolve("seqs").toString, seqLen, vocabSize,
          tokenizer = "vp")
        p
      })
    materializedTokenManifest(spark, out.resolve("seqs").toString)
  }

  /** The FIXED literal BPE tokenizer spec the merge-order driver
    * scenario and its DuckDB oracle SHARE: base symbols a-z (ids
    * 1-26) and 0-9 (ids 27-36), then 18 hand-pinned English merges in
    * training order (ids 37-54, each row carrying its left/right
    * pair — the last two are the greedy-vs-merge-order divergence
    * probe). A LITERAL spec — not induced — because the oracle must
    * replay the ENCODE independently (merge application is the new
    * surface; induction is the declared driver-loop posture with its
    * own spec), and a static oracle SQL cannot re-run a per-SF
    * induction loop.
    */
  private[graft] def fixedBpeVocab(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val chars = (('a' to 'z') ++ ('0' to '9')).zipWithIndex.map {
      case (c, i) => (c.toString, (i + 1).toLong, null: String,
        null: String) }
    // the last two merges are the DIVERGENCE PROBE for this corpus:
    // (o,r) fires before (s,o) can, so merge-order segments "sort"
    // as [s, ort] while greedy longest-match takes the "so" token →
    // [so, r, t] — the two applications measurably differ on the
    // gate corpus, which is what the pack's routing exists for
    val merges = Seq(("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"),
      ("a", "n"), ("o", "n"), ("r", "e"), ("a", "t"), ("e", "n"),
      ("o", "r"), ("e", "s"), ("t", "i"), ("an", "d"), ("in", "g"),
      ("ti", "on"), ("e", "d"), ("s", "o"), ("or", "t"))
      .zipWithIndex.map { case ((a, b), i) =>
      (a + b, (37 + i).toLong, a, b) }
    (chars ++ merges).toDF("token", "id", "left", "right")
  }

  /** Driver scenario for the MERGE-ORDER BPE pack —
    * [[packTokensMaterialize]] under the fixed literal tokenizer spec
    * (seqLen 128): the vocabulary carries its merge pairs, so the
    * encode routes through [[bpeSegmentIds]] (training-order merge
    * application — the ids a production BPE tokenizer would emit),
    * and the oracle replays the merge state machine, the id lookup,
    * the doc_id-ordered prefix sum and the slicing end to end. Staged
    * once per process.
    */
  def packTokensBpeMergeScenario(spark: SparkSession, sfDir: String,
      seqLen: Long = 128L): DataFrame = {
    val out = tokenMatStages.computeIfAbsent(
      s"$sfDir:bpemerge:$seqLen", { _ =>
        val p = java.nio.file.Files.createTempDirectory("graft_bpmmat_")
        packTokensMaterialize(Tables.load(spark, sfDir, "documents"),
          p.resolve("seqs").toString, seqLen,
          tokenizer = "vp", vocab = Some(fixedBpeVocab(spark)))
        p
      })
    materializedTokenManifest(spark, out.resolve("seqs").toString)
  }

  /** Driver scenario for DESCRIBE PACK: stage the ws token pack once
    * per process (shared with [[packTokensMaterializedScenario]]),
    * then serve the O(1) summary THROUGH the SQL statement — the
    * oracle re-aggregates the full pack replay, so the sidecar's
    * totals are checked against an independent recomputation.
    */
  def describePackScenario(spark: SparkSession,
      sfDir: String): DataFrame = {
    val p = wsTokenPackStage(spark, sfDir, 128L, 512)
    graft.tables.GraftSql.sql(spark,
      s"DESCRIBE PACK '${p.resolve("seqs")}'")
  }

  /** INCREMENTAL TOKEN-ID packing — the materialized token artifact
    * under the exactly-once contract: each arriving batch lands its
    * sequence FRAGMENTS (seq_id, doc_id, tokens_before, frag_ids,
    * carry_in) exactly-once, with offsets CONTINUING from the stored
    * corpus total (the ingest rides [[exportShardsIngest]] at budget
    * = seqLen, inheriting the whole contract: doc_id-monotone
    * refusal, replay no-op, crash self-heal, ownership). A sequence
    * left partially open by batch k is COMPLETED by batch k+1's
    * fragments — no landed row ever rewrites, because the artifact
    * is fragment rows assembled at READ time
    * ([[packTokensIngestManifest]] / a one-shot compaction), the
    * only layout an append-only exactly-once sink can maintain for a
    * boundary that keeps moving. The VOCABULARY is a training-run
    * CONSTANT: batch 0 pins it (the supplied table, or an induction
    * over batch 0 when none is given) into `<path>/vocab`, and every
    * later batch encodes against the PINNED table — ids must never
    * drift across batches (re-inducing per batch would re-number the
    * vocabulary mid-corpus). Fragment rows are slim (ids only, no
    * text); the read-side assembly is one hash aggregation on
    * seq_id.
    *
    * MEASURES: `ws` (whitespace tokens) or `vp` (SUBWORD — each
    * batch's docs encode against the pinned gram vocabulary, greedy
    * or merge-order by the pin's shape, and the span state counts
    * the encode's own array sizes, so the stored offsets are
    * vp-measure-bound and the windows can never disagree with the
    * ids they slice). Both the measure and seq_len pin in the meta
    * sidecar at batch 0; drift refuses loudly.
    */
  def packTokensIngest(spark: SparkSession, packPath: String,
      docs: DataFrame, batchId: Long, seqLen: Long = 128L,
      bucketSize: Long = 4096L, tokenizer: String = "ws",
      vocab: Option[DataFrame] = None, vocabSize: Int = 512,
      pipelineId: String = ""): DataFrame = {
    import graft.tables.GraftTable
    // the stored offsets are MEASURE-BOUND (the EXPORT SHARDS BATCH
    // posture): `ws` counts whitespace tokens, `vp` counts the
    // SUBWORD segments of the batch-0-pinned vocabulary (the span
    // state rides the encode's own array sizes, so the windows and
    // the ids it slices can never disagree). The measure is pinned in
    // the meta sidecar and drift refuses below. `bpe` whole-token
    // slicing stays one-shot (its regex measure has no pinned
    // artifact to hold constant — nothing stops a caller re-counting
    // under a different regex, so the guard can't be honest).
    require(tokenizer == "ws" || tokenizer == "vp",
      "packTokensIngest: the incremental pack's stored offsets are " +
        "measure-bound — ws (whitespace) or vp (subword under the " +
        "pinned vocabulary); the bpe regex measure takes the " +
        "one-shot packTokensMaterialize")
    val vocabPath = java.nio.file.Paths.get(packPath, "vocab").toString
    // rows, not log existence: a crash between createIfAbsent's empty
    // version-0 commit and the vocab append must re-land the rows on
    // replay — an empty pinned vocabulary would encode the whole
    // corpus as UNK forever, silently
    val haveVocab = java.nio.file.Files.exists(
        java.nio.file.Paths.get(vocabPath, "_graft_log")) && {
      val t = GraftTable.load(spark, vocabPath)
      t.rowCount.getOrElse(t.snapshot().count()) > 0L
    }
    // seqLen and the measure are PACK CONSTANTS: the landed fragments
    // are cut at batch-time boundaries, so a later batch under a
    // different length would corrupt every boundary sequence — pin
    // them in a meta sidecar at batch 0 and refuse drift
    val metaPath = java.nio.file.Paths.get(packPath, "_pack_meta.json")
    def writeMeta(): Unit = {
      java.nio.file.Files.createDirectories(metaPath.getParent): Unit
      java.nio.file.Files.write(metaPath,
        (s"""{"form":"incremental_tokens","tokenizer":"$tokenizer",""" +
          s""""seq_len":$seqLen}""" + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    }
    if (haveVocab) {
      // the meta write lands BEFORE the vocab append, so a pack with a
      // pinned vocabulary and no sidecar was written by an older
      // release (or lost its sidecar): its constants are unknown
      require(java.nio.file.Files.exists(metaPath),
        s"packTokensIngest: the pack at $packPath has a pinned " +
          s"vocabulary but no meta sidecar ($metaPath) — its seq_len " +
          "and measure are unknown; recreate the pack")
      val pinnedMeta = readPackMeta(spark, metaPath)
      require(pinnedMeta.getString(1) == tokenizer,
        s"packTokensIngest: this pack was pinned at tokenizer " +
          s"'${pinnedMeta.getString(1)}' — batch $batchId arrived " +
          s"with '$tokenizer' (the stored offsets are measure-bound; " +
          "a changed measure would slice wrong ids at every boundary)")
      val pinnedLen = pinnedMeta.getLong(2)
      require(pinnedLen == seqLen,
        s"packTokensIngest: this pack was pinned at seq_len " +
          s"$pinnedLen — batch $batchId arrived with seqLen $seqLen " +
          "(a changed length would corrupt every boundary sequence)")
    }
    // NORMALIZED vocabulary shape for pinning and drift compare:
    // (token, id, left, right) with nulls where a table carries no
    // merge pairs — so a pinned merge-order (BPE) vocabulary and a
    // later pair-less supply of "the same" table compare UNEQUAL
    // (stripping the pairs would silently downgrade every later
    // batch's encode to greedy longest-match)
    def normVocab(v: DataFrame): DataFrame = {
      val l = if (v.columns.contains("left")) col("left")
        else lit(null).cast("string")
      val r = if (v.columns.contains("right")) col("right")
        else lit(null).cast("string")
      v.select(col("token"), col("id").cast("long").as("id"),
        l.cast("string").as("left"), r.cast("string").as("right"))
    }
    val vdf =
      if (haveVocab) {
        val pinned = normVocab(
          GraftTable.load(spark, vocabPath).snapshot())
        // a vocabulary supplied AFTER the pin must MATCH it — ids
        // encoding under a different table than the caller believes
        // is the silent divergence this family refuses loudly. The
        // comparison is DISTRIBUTED (two anti-joins over the
        // V-bounded tables) — a production vocab must not ride the
        // driver once per batch
        vocab.foreach { v =>
          val supplied = normVocab(v)
          val drift = supplied.exceptAll(pinned).limit(1).count() +
            pinned.exceptAll(supplied).limit(1).count()
          require(drift == 0L,
            "packTokensIngest: a vocabulary was supplied but this " +
              "pack already pinned a DIFFERENT one at batch 0 — ids " +
              "(and any merge pairs) must never drift across batches " +
              "(drop the vocab argument, or pack to a fresh path)")
        }
        pinned
      } else {
        val v = normVocab(vocab.getOrElse(
            if (tokenizer == "vp") gramVocab(docs, vocabSize)
            else tokenVocab(docs, vocabSize, tokenizer)))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // an EMPTY vocabulary must refuse BEFORE the batch-0
          // watermark commits — appendIfNew(0 rows) would make the
          // pin unrepairable and every batch would encode as UNK
          require(v.limit(1).count() > 0L,
            "packTokensIngest: the batch-0 vocabulary is EMPTY " +
              "(a mis-filtered VOCAB FROM table, or a batch with no " +
              "tokens) — an empty pin would encode the whole corpus " +
              "as UNK forever")
          // meta FIRST: a crash between the two writes must leave the
          // sidecar (idempotent constants), never a pinned vocab with
          // no recorded constants
          writeMeta()
          val t = GraftTable.createIfAbsent(spark, vocabPath, v.limit(0))
          t.appendIfNew(v, 0L, appId = "graft-tokpack-vocab"): Unit
        } finally v.unpersist(): Unit
        normVocab(GraftTable.load(spark, vocabPath).snapshot())
      }
    var encoded: Option[DataFrame] = None
    val frags = (if (tokenizer == "vp") {
      // the SUBWORD incremental form: encode the batch ONCE against
      // the pinned vocabulary (greedy, or merge-order when the pin
      // carries its pairs — the same [[segmentIdsFor]] routing as the
      // one-shot pack), hand the encode's OWN array sizes to the span
      // state as the measure (offsets and ids share one source), and
      // slice the id arrays against the fill windows. The encode is
      // persisted: the span bounds/prefix and the fragment join all
      // reference it.
      val docIds = segmentIdsFor(docs, vdf)._1
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      encoded = Some(docIds)
      val spans = exportShardsIngest(spark, packPath, docs, batchId,
        shardTokens = seqLen, bucketSize, pipelineId,
        counts = Some(docIds.select(col("doc_id"),
          size(col("vp_ids")).cast("long").as("n_tokens"))))
      fragmentWindows(
          spans.select(col("doc_id"), col("n_tokens"),
            col("tokens_before")), seqLen)
        .join(docIds.select(col("doc_id"), col("vp_ids").as("__ids")),
          Seq("doc_id"))
        .withColumn("frag_ids", slice(col("__ids"),
          (col("fill_start") - col("tokens_before") + 1L).cast("int"),
          (col("fill_end") - col("fill_start")).cast("int")))
    } else {
      // spans continue from the stored corpus total — the export
      // state IS the pack's continuation state (budget = seqLen)
      val spans = exportShardsIngest(spark, packPath, docs, batchId,
        shardTokens = seqLen, bucketSize, pipelineId)
      val vmap = broadcast(vdf.agg(map_from_entries(
        collect_list(struct(col("token"), col("id")))).as("__vmap")))
      fragmentWindows(
          spans.select(col("doc_id"), col("n_tokens"),
            col("tokens_before")), seqLen)
        .join(docs.select(col("doc_id"),
          regexp_extract_all(col("text"), lit(tokenPattern(tokenizer)),
            lit(0)).as("__toks")), Seq("doc_id"))
        .crossJoin(vmap)
        .withColumn("frag_ids", transform(
          slice(col("__toks"),
            (col("fill_start") - col("tokens_before") + 1L).cast("int"),
            (col("fill_end") - col("fill_start")).cast("int")),
          t => coalesce(element_at(col("__vmap"), t), lit(0L))))
    })
      .select(col("seq_id"), col("doc_id"), col("tokens_before"),
        col("frag_ids"), col("carry_in"))
      .withColumn("batch_id", lit(batchId))
    val fragsT = GraftTable.createIfAbsent(spark,
      java.nio.file.Paths.get(packPath, "fragments").toString,
      frags.limit(0))
    // fragments land LAST among the content commits: a crash after
    // the span commits replays into the span machinery's watermarks
    // (both skip), recomputes the identical fragments from the
    // strictly-earlier offsets, and lands exactly the missing side
    try fragsT.appendIfNew(frags, batchId,
      appId = "graft-tokpack-frags" + pipelineId): Unit
    finally encoded.foreach(_.unpersist(): Unit)
    // the per-batch ROLLUP row (the epoch_meta pattern): one
    // aggregate over THIS batch's landed slice (stats-pruned,
    // O(batch)) so DESCRIBE PACK can fold O(batches) ledger rows
    // instead of re-aggregating every fragment array per call.
    // n_sequences folds as max(max_seq)+1 — the token stream is
    // gapless from offset 0, so every seq id in [0, max] exists.
    // Lands AFTER the fragments (a rollup row implies its fragments
    // landed); a crash in between self-heals on replay — DESCRIBE
    // falls back to the live re-aggregation until then. The
    // idempotency marker is PER BATCH (the epoch_meta convention),
    // not a shared high-water watermark: batch k's rollup lost in
    // the crash window while batch k+1's landed must still re-land
    // on k's replay — under one shared watermark the interior batch
    // could never heal and DESCRIBE would pay the live fallback
    // forever. The append is gated on the batch's ROW not existing
    // (marker and row commit atomically, so row-existence is the
    // era-independent witness): ledgers begun under the earlier
    // shared-watermark scheme heal their own crash-lost interior
    // batches too, and landed rows never double; the per-batch
    // marker stays as the concurrent-replay veto.
    val rollup = GraftTable.load(spark,
        java.nio.file.Paths.get(packPath, "fragments").toString)
      .snapshotCandidates(col("batch_id") === batchId)
      .where(col("batch_id") === batchId)
      .agg(max(col("seq_id")).as("max_seq"),
        count(lit(1)).as("n_fragments"),
        coalesce(sum(size(col("frag_ids")).cast("long")), lit(0L))
          .as("filled_tokens"),
        coalesce(sum(aggregate(col("frag_ids"), lit(0L),
          (a, x) => a + x)), lit(0L)).as("ids_sum"))
      .withColumn("batch_id", lit(batchId))
      .select(col("batch_id"), col("max_seq"), col("n_fragments"),
        col("filled_tokens"), col("ids_sum"))
    val rollT = GraftTable.createIfAbsent(spark,
      java.nio.file.Paths.get(packPath, "rollups").toString,
      rollup.limit(0))
    if (rollT.snapshot().where(col("batch_id") === batchId)
        .limit(1).count() == 0L)
      rollT.appendIfNew(rollup, 0L,
        appId = s"graft-tokpack-rollup$pipelineId:$batchId"): Unit
    // the batch's landed slice, table-backed and stats-pruned — the
    // return path is O(batch), never a driver collect
    GraftTable.load(spark,
        java.nio.file.Paths.get(packPath, "fragments").toString)
      .snapshotCandidates(col("batch_id") === batchId)
      .where(col("batch_id") === batchId)
      .select(col("seq_id"), col("doc_id"), col("tokens_before"),
        size(col("frag_ids")).cast("long").as("frag_tokens"),
        col("carry_in"))
  }

  /** The per-sequence manifest assembled from an incremental pack's
    * accumulated fragments — identical columns (and oracle) to
    * [[materializedTokenManifest]], so N exactly-once batches must
    * reproduce the one-shot pack byte-for-byte under the same pinned
    * vocabulary. One hash aggregation on seq_id over slim id arrays.
    */
  def packTokensIngestManifest(spark: SparkSession,
      packPath: String): DataFrame =
    graft.tables.GraftTable.load(spark,
        java.nio.file.Paths.get(packPath, "fragments").toString)
      .snapshot()
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).cast("int").as("n_docs"),
        sum(size(col("frag_ids"))).cast("long").as("filled_tokens"),
        max(when(col("carry_in"), lit(1L)).otherwise(lit(0L)))
          .as("n_carry_in"),
        sum(aggregate(col("frag_ids"), lit(0L), (a, x) => a + x))
          .as("ids_sum"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .select(col("seq_id"), col("n_docs"), col("filled_tokens"),
        col("n_carry_in"), col("ids_sum"), col("first_doc"),
        col("last_doc"))

  private val tokIngestStages =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** Driver scenario for [[packTokensIngest]]: the corpus arrives in
    * 3 doc_id-monotone batches plus a replay of the last, all under
    * ONE pinned vocabulary (the full-corpus top-512 table — the
    * training-run constant a real pipeline fixes before packing);
    * the accumulated fragments must assemble to the one-shot token
    * pack, so the manifest shares `text_pack_tokens_materialized`'s
    * oracle. Staged once per process.
    */
  def packTokensIncrementalScenario(spark: SparkSession,
      sfDir: String, seqLen: Long = 128L): DataFrame = {
    val stage = tokIngestStages.computeIfAbsent(s"$sfDir:$seqLen",
      { _ =>
        val docs = Tables.load(spark, sfDir, "documents")
        val pinned = tokenVocab(docs, 512)
        val p = java.nio.file.Files.createTempDirectory("graft_tokinc_")
        packTokensIngest(spark, p.toString,
          docs.where(col("doc_id") < 170), 0L, seqLen,
          vocab = Some(pinned))
        packTokensIngest(spark, p.toString,
          docs.where(col("doc_id") >= 170 && col("doc_id") < 340), 1L,
          seqLen)
        packTokensIngest(spark, p.toString,
          docs.where(col("doc_id") >= 340), 2L, seqLen)
        // replay of the last batch: every watermark skips
        packTokensIngest(spark, p.toString,
          docs.where(col("doc_id") >= 340), 2L, seqLen)
        p
      })
    packTokensIngestManifest(spark, stage.toString)
  }

  /** Driver scenario for the SUBWORD incremental pack —
    * [[packTokensIngest]] under the `vp` measure: the corpus arrives
    * in 3 doc_id-monotone batches plus a replay, all encoding
    * against ONE pinned gram vocabulary (the full-corpus top-64
    * ranking — the training-run constant, supplied at batch 0 so the
    * accumulated fragments must equal the one-shot subword pack);
    * shares `text_pack_tokens_vp`'s end-to-end oracle (induction →
    * rank ids → greedy cursor → prefix sum → slicing → ids_sum).
    * Staged once per process.
    */
  def packTokensVpIncrementalScenario(spark: SparkSession,
      sfDir: String, seqLen: Long = 128L): DataFrame = {
    val stage = tokIngestStages.computeIfAbsent(s"$sfDir:vp:$seqLen",
      { _ =>
        val docs = Tables.load(spark, sfDir, "documents")
        val pinned = gramVocab(docs, 64)
        val p = java.nio.file.Files.createTempDirectory("graft_vpinc_")
        packTokensIngest(spark, p.toString,
          docs.where(col("doc_id") < 170), 0L, seqLen,
          tokenizer = "vp", vocab = Some(pinned))
        packTokensIngest(spark, p.toString,
          docs.where(col("doc_id") >= 170 && col("doc_id") < 340), 1L,
          seqLen, tokenizer = "vp")
        packTokensIngest(spark, p.toString,
          docs.where(col("doc_id") >= 340), 2L, seqLen,
          tokenizer = "vp")
        // replay of the last batch: every watermark skips
        packTokensIngest(spark, p.toString,
          docs.where(col("doc_id") >= 340), 2L, seqLen,
          tokenizer = "vp")
        p
      })
    packTokensIngestManifest(spark, stage.toString)
  }

  /** The COMPLETE mixture training artifact — [[exportShardsMixture]]
    * composed with [[packTokensMaterialize]]: every training COPY
    * (doc, rep) takes its independent md5 position in the epoch
    * permutation, the concatenated COPY stream cuts at every `seqLen`
    * tokens, and each fixed-length sequence lands as ONE row
    * (seq_id, token_ids, doc_ids, reps, doc_starts, n_carry_in) of
    * vocabulary IDs — the batch a loader feeds a trainer after the
    * epochs-per-domain mixture, in one operator. The vocabulary
    * induces from the BASE corpus (or any supplied token/id table) —
    * repetition must not bias the id assignment. Scale shape: the
    * mixture coin/explode and the per-copy routing are map-side, the
    * prefix sum rides the corpus-scaled hash-range fan-out, token
    * arrays cross the doc_id join once per copy-fragment, the
    * vocabulary is one broadcast 1-row map column, and the landed
    * layout is range-partitioned by seq_id. Re-runs overwrite.
    * Returns the manifest RE-DERIVED from the landed arrays.
    */
  def packTokensMixtureMaterialize(docs: DataFrame,
      weights: Map[String, Double], outPath: String,
      seqLen: Long = 128L, vocabSize: Int = 512,
      defaultWeight: Double = 1.0, seed: Long = 0L,
      tokenizer: String = "ws", hashBuckets: Long = 0L,
      vocab: Option[DataFrame] = None): DataFrame = {
    val spark = docs.sparkSession
    require(seqLen >= 1L, "packTokensMixtureMaterialize needs seqLen >= 1")
    // persisted when INDUCED: the vocab plan serves the broadcast map
    // AND the summary count — one corpus aggregation per write, not
    // two (a caller-supplied frame is left alone: persist/unpersist
    // on it would evict the caller's own plan-keyed cache)
    val inducedVocab = vocab.isEmpty
    val vdf = vocab.getOrElse(
      tokenVocab(docs, vocabSize, tokenizer)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val vmap = broadcast(vdf.agg(map_from_entries(
      collect_list(struct(col("token"), col("id")))).as("__vmap")))
    // per-copy counted stream in mixture order — EXACTLY
    // exportShardsMixture's spelling, so the same relational replay
    // (reps → coin → per-copy hash → cumsum) holds
    val rs = mixtureResample(
      docs.select(col("doc_id"), col("lang"),
        size(regexp_extract_all(col("text"),
          lit(tokenPattern(tokenizer)), lit(0)))
          .cast("long").as("n_tokens")),
      weights, defaultWeight, seed = seed)
    val counted = rs.select(col("doc_id"), col("rep"), col("n_tokens"))
    val width = hashBucketWidth(counted, hashBuckets)
    val prefixed = prefixSum(counted
        .withColumn("__h", Tables.md5Residue(concat(
          lit(s"mixshuf$seed:"), col("doc_id").cast("string"),
          lit(":"), col("rep").cast("string"))))
        .withColumn("__b", expr(s"__h div ${width}L")),
      Seq("__h", "doc_id", "rep"), startOffset = 0L)
    val frags = fragmentWindows(prefixed, seqLen)
      .join(docs.select(col("doc_id"),
        regexp_extract_all(col("text"), lit(tokenPattern(tokenizer)),
          lit(0)).as("__toks")), Seq("doc_id"))
      .crossJoin(vmap)
      .withColumn("__frag_ids", transform(
        slice(col("__toks"),
          (col("fill_start") - col("tokens_before") + 1L).cast("int"),
          (col("fill_end") - col("fill_start")).cast("int")),
        t => coalesce(element_at(col("__vmap"), t), lit(0L))))
    frags.groupBy(col("seq_id"))
      .agg(
        flatten(transform(
          array_sort(collect_list(struct(col("tokens_before"),
            col("__frag_ids")))),
          x => x.getField("__frag_ids"))).as("token_ids"),
        transform(
          array_sort(collect_list(struct(col("tokens_before"),
            col("doc_id"), col("rep")))),
          x => x.getField("doc_id")).as("doc_ids"),
        transform(
          array_sort(collect_list(struct(col("tokens_before"),
            col("doc_id"), col("rep")))),
          x => x.getField("rep")).as("reps"),
        // per-copy start offsets inside the sequence (the mask
        // boundary positions), aligned with doc_ids/reps
        docStartsAgg(seqLen),
        // at most one copy can carry INTO a sequence (only the first
        // fragment can have started earlier): max ≡ count
        max(when(col("carry_in"), lit(1L)).otherwise(lit(0L)))
          .as("n_carry_in"))
      .repartitionByRange(col("seq_id"))
      .sortWithinPartitions(col("seq_id"))
      .write.mode("overwrite").parquet(outPath)
    val manifest = materializedMixtureTokenManifest(spark, outPath)
    try writePackSummary(outPath, "mixture_tokens", tokenizer, seqLen,
      vdf.count(), manifest)
    finally { if (inducedVocab) vdf.unpersist(): Unit }
    manifest
  }

  /** Manifest read back from a landed mixture token pack (copy
    * counts, array-length fills, id checksum, doc range) — the write
    * receipt the mixture-composed oracle checks end-to-end.
    */
  def materializedMixtureTokenManifest(spark: SparkSession,
      outPath: String): DataFrame =
    spark.read.parquet(outPath)
      .select(col("seq_id"),
        size(col("doc_ids")).cast("int").as("n_copies"),
        size(col("token_ids")).cast("long").as("filled_tokens"),
        col("n_carry_in"),
        aggregate(col("token_ids"), lit(0L), (a, x) => a + x)
          .as("ids_sum"),
        array_min(col("doc_ids")).as("first_doc"),
        array_max(col("doc_ids")).as("last_doc"))

  private val mixTokenStages =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** Driver scenario for [[packTokensMixtureMaterialize]]: stage the
    * mixture token pack once per process (scenario mixture, seqLen
    * 128, induced 512-token vocab), read the manifest back from the
    * landed arrays.
    */
  def packTokensMixtureScenario(spark: SparkSession,
      sfDir: String): DataFrame = {
    val out = mixTokenStages.computeIfAbsent(sfDir, { _ =>
      val p = java.nio.file.Files.createTempDirectory("graft_mixtok_")
      packTokensMixtureMaterialize(
        Tables.load(spark, sfDir, "documents"), scenarioMixture,
        p.resolve("seqs").toString)
      p
    })
    materializedMixtureTokenManifest(spark,
      out.resolve("seqs").toString)
  }

  /** VOCABULARY COVERAGE — the pipeline diagnostic between
    * [[tokenVocab]] and the token-ID packs: per sub-corpus (lang),
    * how many tokens the vocabulary covers and the OOV rate that
    * lands as UNK ids — the "is this vocab big enough / is this
    * slice under-served" report a team reads before committing to a
    * vocab size. Exact integer counts, one double quotient at the
    * end (bit-replayable). Scale: explode map-side, ONE broadcast
    * join against the vocab-bounded token table, partial-aggregated
    * rollup by lang.
    */
  def vocabCoverage(spark: SparkSession, sfDir: String,
      vocabSize: Int = 512, tokenizer: String = "ws"): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val vocab = tokenVocab(docs, vocabSize, tokenizer)
      .select(col("token"), lit(1).as("__in"))
    docs.select(col("lang"),
        explode(regexp_extract_all(col("text"),
          lit(tokenPattern(tokenizer)), lit(0))).as("token"))
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("total_tokens"),
        sum(when(col("__in").isNull, lit(1L)).otherwise(lit(0L)))
          .as("oov_tokens"))
      .withColumn("oov_rate",
        col("oov_tokens").cast("double") / col("total_tokens"))
  }

  /** DOMAIN-MIXTURE RESAMPLING with repetition — the "epochs per
    * domain" step (the LLaMA/DoReMi-style mixture): every doc in
    * domain d replicates `weights(d)` times in expectation — the
    * integer part deterministically, the fractional part by an
    * engine-portable md5 coin (residue < frac·2⁶⁰), so the SAME docs
    * up/down-sample on every run and an oracle can replay the draw
    * exactly. Weight 0 excludes the domain; unlisted domains take
    * `defaultWeight`. Output = the input columns plus `rep`
    * (0..n_reps-1) — one row per training copy, ready to feed the
    * shuffled export. Scale shape: one broadcast join against the
    * O(domains) weight table, the coin and the explode are map-side;
    * output size is Σ w(d)·|d|, exactly the mixture's token budget.
    */
  def mixtureResample(docs: DataFrame, weights: Map[String, Double],
      defaultWeight: Double = 1.0, byCol: String = "lang",
      seed: Long = 0L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require((weights.valuesIterator ++ Iterator(defaultWeight))
      .forall(_ >= 0.0), "mixtureResample needs non-negative weights")
    def split(w: Double): (Long, Long) = {
      val base = math.floor(w).toLong
      ((base, ((w - base) * (1L << 60).toDouble).toLong))
    }
    val (defBase, defThr) = split(defaultWeight)
    val wdf = broadcast(weights.toSeq.map { case (k, w) =>
      val (b, t) = split(w); (k, b, t)
    }.toDF(byCol, "__base", "__thr"))
    docs.join(wdf, Seq(byCol), "left")
      .withColumn("__h", Tables.md5Residue(
        concat(lit(s"mix$seed:"), col("doc_id").cast("string"))))
      .withColumn("__reps",
        coalesce(col("__base"), lit(defBase)) +
          when(col("__h") < coalesce(col("__thr"), lit(defThr)), lit(1L))
            .otherwise(lit(0L)))
      .where(col("__reps") > 0L)
      .withColumn("rep", explode(sequence(lit(0L), col("__reps") - 1L)))
      .select(docs.columns.map(col).toIndexedSeq :+ col("rep"): _*)
  }

  /** The mixture pipeline exit — [[mixtureResample]] composed with
    * the shuffled shard pack: every training COPY (doc, rep) takes an
    * independent md5 position in the export permutation (copies of
    * the same doc scatter across shards instead of clumping), then
    * the same distributed prefix sum cuts fixed-token shards. Per-copy
    * frame: (doc_id, rep, n_tokens, tokens_before, shard_id).
    * NOTE: with `hashBuckets` = 0 (auto), sizing the fan-out runs ONE
    * eager column-pruned COUNT of the resampled copy stream at
    * frame-CONSTRUCTION time — multi-frame callers should pin
    * [[autoHashBuckets]]'s result instead.
    */
  def exportShardsMixture(docs: DataFrame, weights: Map[String, Double],
      shardTokens: Long = 2048L, defaultWeight: Double = 1.0,
      seed: Long = 0L, tokenizer: String = "ws",
      hashBuckets: Long = 0L): DataFrame = {
    // tokenize ONCE per doc, then resample the slim counted frame —
    // the regexp over full text is the dominant per-row cost, and a
    // weight-w domain would otherwise re-run it w times per doc (and
    // carry the text column through the repetition explode for
    // nothing)
    val rs = mixtureResample(
      docs.select(col("doc_id"), col("lang"),
        size(regexp_extract_all(col("text"),
          lit(tokenPattern(tokenizer)), lit(0)))
          .cast("long").as("n_tokens")),
      weights, defaultWeight, seed = seed)
    val counted = rs.select(col("doc_id"), col("rep"), col("n_tokens"))
    // bucket count sizes to the COPY count (the resampled stream is
    // what the cumsum distributes over), pruned to a slim count
    val width = hashBucketWidth(counted, hashBuckets)
    prefixSum(counted
        .withColumn("__h", Tables.md5Residue(concat(
          lit(s"mixshuf$seed:"), col("doc_id").cast("string"),
          lit(":"), col("rep").cast("string"))))
        .withColumn("__b", expr(s"__h div ${width}L")),
      Seq("__h", "doc_id", "rep"), startOffset = 0L)
      .withColumn("shard_id", expr(s"tokens_before div ${shardTokens}L"))
      .select(col("doc_id"), col("rep"), col("n_tokens"),
        col("tokens_before"), col("shard_id"))
  }

  /** MATERIALIZED mixture export — the missing composition between
    * the mixture exit and the trainer's loader: each training COPY's
    * text lands in its assigned shard, in training order (parquet
    * partitioned by shard_id, rows ordered by tokens_before inside
    * each file), alongside the per-copy provenance (doc_id, rep).
    * Same twice-moved-text shape as [[exportShardsMaterialize]]: the
    * text attaches through ONE doc_id equi-join — once per copy, the
    * prefix sum itself never carries it — then the shard_id
    * repartition co-locates each shard for its partition-aligned
    * write; both plain hash shuffles, no global sort. Re-runs
    * overwrite. Returns the per-shard manifest RE-DERIVED from the
    * landed content (token counts re-run on the written text, ranges
    * from the landed provenance) — a write receipt, not a replay of
    * the assignment math.
    */
  def exportShardsMixtureMaterialize(docs: DataFrame,
      weights: Map[String, Double], outPath: String,
      shardTokens: Long = 2048L, defaultWeight: Double = 1.0,
      seed: Long = 0L, tokenizer: String = "ws",
      hashBuckets: Long = 0L): DataFrame = {
    exportShardsMixture(docs, weights, shardTokens, defaultWeight,
      seed, tokenizer, hashBuckets)
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .repartition(col("shard_id"))
      .sortWithinPartitions(col("shard_id"), col("tokens_before"))
      .write.mode("overwrite").partitionBy("shard_id").parquet(outPath)
    mixtureMaterializedManifest(docs.sparkSession, outPath, tokenizer)
  }

  /** The per-copy assignment columns read back from a materialized
    * mixture export — n_tokens RE-TOKENIZED from the landed text (the
    * content-integrity leg of the write receipt), the partition-column
    * shard_id normalized to the assignment frames' BIGINT.
    */
  def materializedMixtureAssignments(spark: SparkSession,
      outPath: String, tokenizer: String = "ws"): DataFrame =
    spark.read.parquet(outPath)
      .select(col("doc_id"), col("rep"),
        size(regexp_extract_all(col("text"),
          lit(tokenPattern(tokenizer)), lit(0)))
          .cast("long").as("n_tokens"),
        col("tokens_before"),
        col("shard_id").cast("long").as("shard_id"))

  /** Per-shard manifest over the landed mixture content (copy counts
    * named n_copies — the mixture family's convention).
    */
  def mixtureMaterializedManifest(spark: SparkSession, outPath: String,
      tokenizer: String = "ws"): DataFrame =
    shardManifest(
      materializedMixtureAssignments(spark, outPath, tokenizer))
      .withColumnRenamed("n_docs", "n_copies")

  private val mixtureMatStages =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** Driver scenario for [[exportShardsMixtureMaterialize]]: stage
    * the landed mixture once per process, re-derive the manifest from
    * the landed content — shares `text_export_shards_mixture`'s
    * oracle (the write receipt must equal the assignment manifest).
    */
  def exportShardsMixtureMaterializedScenario(spark: SparkSession,
      sfDir: String): DataFrame = {
    val out = mixtureMatStages.computeIfAbsent(sfDir, { _ =>
      val p = java.nio.file.Files.createTempDirectory("graft_mixmat_")
      exportShardsMixtureMaterialize(
        Tables.load(spark, sfDir, "documents"), scenarioMixture,
        p.resolve("shards").toString)
      p
    })
    mixtureMaterializedManifest(spark, out.resolve("shards").toString)
  }

  /** The fixed mixture the driver scenarios pin (one weight of each
    * shape): en downsamples by an md5 coin (0.5), zh takes 2 copies +
    * a 0.25 coin, es takes exactly 3, fr drops, everything else
    * (de) rides the default 1.0.
    */
  val scenarioMixture: Map[String, Double] =
    Map("en" -> 0.5, "zh" -> 2.25, "es" -> 3.0, "fr" -> 0.0)

  /** Driver scenario for [[mixtureResample]]: the per-copy frame
    * (doc_id, lang, rep) under [[scenarioMixture]].
    */
  def mixtureResampleScenario(spark: SparkSession,
      sfDir: String): DataFrame =
    mixtureResample(Tables.load(spark, sfDir, "documents"),
      scenarioMixture)
      .select(col("doc_id"), col("lang"), col("rep"))

  /** Driver scenario for [[exportShardsMixture]]: the per-shard
    * manifest of the mixture-resampled, shuffle-packed export.
    */
  def exportShardsMixtureScenario(spark: SparkSession,
      sfDir: String): DataFrame =
    shardManifest(exportShardsMixture(
      Tables.load(spark, sfDir, "documents"), scenarioMixture))
      .withColumnRenamed("n_docs", "n_copies")

  /** VOCABULARY INDUCTION — the subword-vocab selection step next to
    * the BPE-ish token counter: every word-internal character n-gram
    * (n ∈ [minN, maxN]) scores by COVERAGE — count · (len−1), the
    * characters a vocab entry saves over single-char tokens — and the
    * top-`vocabSize` by (score, gram) is the induced vocabulary (the
    * greedy frequency-coverage heuristic WordPiece-style selection
    * starts from; a real BPE's iterative merges are sequentially
    * dependent and belong in a driver loop, but the SELECTION signal
    * is this relational score). Scale shape: the n-gram explosion is
    * map-side and linear in corpus characters (≤ (maxN−minN+1)
    * positions per char), the count is one partial-aggregated hash
    * agg on the gram, and the top-V is a TakeOrdered over
    * vocab-candidate-sized data — no shuffle carries raw text.
    * Deterministic: ties at the cut break by the gram itself.
    */
  def vocabInduct(spark: SparkSession, sfDir: String, minN: Int = 2,
      maxN: Int = 5, vocabSize: Int = 64): DataFrame =
    vocabInductFrame(Tables.load(spark, sfDir, "documents"), minN,
      maxN, vocabSize)

  /** [[vocabInduct]] over an arbitrary documents frame (the SQL
    * TOKENIZER vp path induces over its own source).
    */
  def vocabInductFrame(docs: DataFrame, minN: Int = 2,
      maxN: Int = 5, vocabSize: Int = 64): DataFrame = {
    require(minN >= 1 && maxN >= minN, "vocabInduct needs 1 <= minN <= maxN")
    docs
      .select(explode(regexp_extract_all(lower(col("text")),
        lit("[a-z0-9]+"), lit(0))).as("word"))
      .select(col("word"),
        explode(sequence(lit(minN), lit(maxN))).as("n"))
      .where(length(col("word")) >= col("n"))
      .select(col("word"), col("n"),
        explode(sequence(lit(1), length(col("word")) - col("n") + 1))
          .as("s"))
      .select(expr("substring(word, s, n)").as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("score", col("cnt") * (length(col("gram")) - 1))
      .orderBy(col("score").desc, col("gram"))
      .limit(vocabSize)
  }

  /** TRUE BPE MERGE INDUCTION (Sennrich et al. 2016) — the
    * sequentially-dependent half the relational [[vocabInduct]]
    * score deliberately left to a driver loop: start from character
    * symbols and repeatedly merge the most frequent ADJACENT pair,
    * each round one bounded argmax over the MAINTAINED distributed
    * pair-count table (the standard trainer working set: DISTINCT
    * words weighted by corpus count — bounded by the word domain,
    * never corpus rows; the driver holds only the argmax row
    * and the merge list). Ties break (count desc, pair) so the merge
    * sequence is deterministic and engine-portable. Returns the
    * (token, id, cnt, left, right) vocabulary: the surviving base
    * characters first (corpus char counts, null pair), then the
    * merge tokens in MERGE ORDER carrying their (left, right) pair —
    * ids 1..V. A pack fed this table routes through the MERGE-ORDER
    * encode ([[bpeSegmentIds]] — the application BPE defines),
    * because the pair columns are present; stripped to (token, id)
    * it instead applies greedy longest-match (the WordPiece-style
    * inference, which can segment differently). The symbol
    * frame re-plans per merge; it is re-persisted each round and
    * localCheckpoint'ed every 8 merges so the lineage stays bounded.
    *
    * Merge-count posture: the pair-count table is MAINTAINED across
    * rounds (the classic incremental BPE trainer): each merge
    * subtracts the affected words' old adjacent-pair counts and adds
    * their post-merge counts — the shuffle per round is ∝ words
    * CONTAINING the winning pair, never the whole vocabulary, so the
    * per-merge cost stays flat as the merge list grows (probe:
    * SPARK_GRAFT_PROBE=bpe). The full-recount loop is kept as the
    * spec's equivalence reference ([[bpeInductRecount]]). Remaining
    * per-round floor: one filter scan of the distinct-word frame
    * (map-side, no shuffle) + 3 bounded actions — a 32k-merge
    * production run is 32k fast rounds, not 32k corpus-vocabulary
    * re-aggregations.
    */
  def bpeInduct(docs: DataFrame, numMerges: Int = 32,
      minPairCount: Long = 2L): DataFrame = {
    val spark = docs.sparkSession
    require(numMerges >= 0, "bpeInduct needs numMerges >= 0")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    var wf = bpeWordFrame(docs).persist(lvl)
    val charCounts = bpeCharCounts(wf)
    // the maintained pair-count table — seeded once, then delta-
    // updated per merge
    var pc = bpePairCounts(wf).persist(lvl)
    pc.count(): Unit
    val merges =
      scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    var done = false
    var round = 0
    while (round < numMerges && !done) {
      val top = pc.orderBy(col("n").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty || top(0).getLong(2) < minPairCount) done = true
      else {
        val (a, b, n) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((a, b, n))
        // only words CONTAINING the winning adjacent pair change
        // counts — the filter is a map-side scan of the persisted
        // distinct-word frame; everything downstream is ∝ affected
        val hasPair = exists(
          zip_with(
            slice(col("syms"), lit(1), size(col("syms")) - 1),
            slice(col("syms"), lit(2), size(col("syms")) - 1),
            (x, y) => x === lit(a) && y === lit(b)),
          p => p)
        val affected = wf.where(hasPair).persist(lvl)
        val merged = affected
          .withColumn("syms", bpeMergeFold(col("syms"), a, b))
          .persist(lvl)
        // pc' = pc − affected's old pairs + affected's new pairs;
        // rows that reach 0 drop (a pair fully consumed by the merge)
        val deltas = bpePairCounts(merged)
          .union(bpePairCounts(affected)
            .select(col("a"), col("b"), (-col("n")).as("n")))
        val prevWf = wf; val prevPc = pc
        val nextWf = wf.where(!hasPair).union(merged)
        val nextPc = pc.union(deltas)
          .groupBy(col("a"), col("b")).agg(sum(col("n")).as("n"))
          .where(col("n") > 0L)
        // lineage truncates EVERY round here (not the recount loop's
        // every-8 cadence): nextWf references wf TWICE (the
        // unaffected branch and through merged), so an uncut plan
        // DOUBLES per round — exponential by round 12 (measured as an
        // OOM in plan stringification). The UNION also concatenates
        // partitions, so the checkpointed frame must COALESCE back to
        // the session fan-out or the task count doubles per round
        // (measured: a 17k-task stage by round 12). localCheckpoint
        // materializes exactly the bounded frames the persist+count
        // cadence did (word-domain + pair-domain), with no shadowed
        // persist to orphan; dropping the old references lets the
        // context cleaner reclaim earlier checkpoint blocks. pc's
        // partition count is pinned by its groupBy shuffle.
        val fanOut = spark.sessionState.conf.numShufflePartitions
        wf = nextWf.coalesce(fanOut).localCheckpoint(true)
        pc = nextPc.localCheckpoint(true)
        affected.unpersist(): Unit
        merged.unpersist(): Unit
        prevWf.unpersist(): Unit
        prevPc.unpersist(): Unit
        round += 1
      }
    }
    wf.unpersist(): Unit
    pc.unpersist(): Unit
    bpeVocabRows(spark, charCounts, merges.toSeq)
  }

  /** The distinct-word trainer working set: (corpus count, symbol
    * array) — one row per distinct word, symbols starting as
    * characters. Substring-by-index, not split(w, "") — Spark's
    * split keeps a trailing empty element under its -1 limit.
    */
  private def bpeWordFrame(docs: DataFrame): DataFrame =
    docs.select(explode(regexp_extract_all(lower(col("text")),
        lit("[a-z0-9]+"), lit(0))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("cnt"), expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))")
        .as("syms"))

  /** Corpus-weighted counts of the base characters (the vocabulary's
    * leading rows) — bounded by the 36-symbol char domain.
    */
  private def bpeCharCounts(wf: DataFrame): Array[(String, Long)] =
    wf.select(col("cnt"), explode(col("syms")).as("c"))
      .groupBy(col("c")).agg(sum(col("cnt")).as("n"))
      .orderBy(col("c")).collect()
      .map(r => (r.getString(0), r.getLong(1)))

  /** Corpus-weighted ADJACENT-pair counts of a symbol frame — the
    * quantity both trainer loops argmax over.
    */
  private def bpePairCounts(f: DataFrame): DataFrame =
    f.where(size(col("syms")) >= 2)
      .select(col("cnt"), explode(expr(
        "transform(sequence(1, size(syms) - 1), " +
          "i -> struct(syms[i - 1] AS a, syms[i] AS b))")).as("p"))
      .groupBy(col("p.a"), col("p.b")).agg(sum(col("cnt")).as("n"))

  /** The (token, id, cnt, left, right) vocabulary frame from the
    * trainer outputs — merge rows CARRY THEIR PAIR (the merge list
    * IS the tokenizer: [[bpeSegmentIds]] replays it in training
    * order, so the frame must not collapse (a, b) into just the
    * fused token); base characters carry nulls.
    */
  private def bpeVocabRows(spark: SparkSession,
      charCounts: Array[(String, Long)],
      merges: Seq[(String, String, Long)]): DataFrame = {
    import spark.implicits._
    val rows = (charCounts.toSeq.map { case (tok, n) =>
        (tok, n, null: String, null: String) } ++
      merges.map { case (a, b, n) => (a + b, n, a, b) })
      .zipWithIndex
      .map { case ((tok, n, l, r), i) => (tok, (i + 1).toLong, n, l, r) }
    rows.toDF("token", "id", "cnt", "left", "right")
  }

  /** The FULL-RECOUNT reference loop — [[bpeInduct]]'s original
    * spelling (one pair-count aggregate over the whole word frame +
    * one fold pass per merge): kept package-private as the
    * incremental trainer's equivalence reference, spec-pinned to
    * produce the identical merge sequence.
    */
  private[graft] def bpeInductRecount(docs: DataFrame,
      numMerges: Int = 32, minPairCount: Long = 2L): DataFrame = {
    val spark = docs.sparkSession
    require(numMerges >= 0, "bpeInductRecount needs numMerges >= 0")
    var wf = bpeWordFrame(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val charCounts = bpeCharCounts(wf)
    val merges =
      scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    var done = false
    var round = 0
    while (round < numMerges && !done) {
      val top = bpePairCounts(wf)
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty || top(0).getLong(2) < minPairCount) done = true
      else {
        val (a, b, n) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((a, b, n))
        val prev = wf
        val next = wf.withColumn("syms", bpeMergeFold(col("syms"), a, b))
        wf =
          if ((round + 1) % 8 == 0) next.localCheckpoint(true)
          else {
            val p = next.persist(
              org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            p.count(): Unit
            p
          }
        prev.unpersist(): Unit
        round += 1
      }
    }
    wf.unpersist(): Unit
    bpeVocabRows(spark, charCounts, merges.toSeq)
  }

  /** One BPE merge applied left-to-right over a symbol array — an
    * `aggregate` fold carrying (emitted, pending): when the pending
    * symbol is `a` and the current is `b` they fuse, consuming both
    * (so `aaa` under a+a yields [aa, a] — the standard left-to-right
    * convention); otherwise the pending symbol flushes.
    */
  private def bpeMergeFold(syms: Column, a: String,
      b: String): Column =
    aggregate(syms,
      struct(array_repeat(lit(""), 0).as("out"),
        lit(null).cast("string").as("pend")),
      (st, s) => when(
        st.getField("pend") === lit(a) && s === lit(b),
        struct(concat(st.getField("out"), array(lit(a + b))).as("out"),
          lit(null).cast("string").as("pend")))
        .otherwise(struct(
          when(st.getField("pend").isNull, st.getField("out"))
            .otherwise(concat(st.getField("out"),
              array(st.getField("pend")))).as("out"),
          s.as("pend"))),
      st => when(st.getField("pend").isNull, st.getField("out"))
        .otherwise(concat(st.getField("out"),
          array(st.getField("pend")))))

  /** The RANKED gram vocabulary — [[vocabInductFrame]]'s selection
    * with ids 1..V assigned by dense rank over (score desc, gram),
    * id 0 reserved for the single-character UNK fallback: the
    * (token, id) table [[vocabSegmentIds]] encodes against and the
    * `vp` token-ID pack lands. The rank window runs over the
    * already-cut VOCAB-sized pane (bounded by V), like [[tokenVocab]].
    */
  def gramVocab(docs: DataFrame, vocabSize: Int = 64, minN: Int = 2,
      maxN: Int = 5): DataFrame = {
    val top = vocabInductFrame(docs, minN, maxN, vocabSize)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("gram"))
    top.withColumn("id", row_number().over(w).cast("long"))
      .select(col("gram").as("token"), col("id"), col("cnt"))
  }

  /** A rank-ordered gram list as the (token, id) frame the encode
    * probes: ids are 1-based positions — exactly [[gramVocab]]'s
    * rank assignment when the list is its gram column in order.
    */
  private def gramIdFrame(spark: SparkSession,
      grams: Seq[String]): DataFrame = {
    import spark.implicits._
    grams.zipWithIndex.map { case (g, i) => (g, (i + 1).toLong) }
      .toDF("token", "id")
  }

  /** APPLY the induced vocabulary — the WordPiece-style ENCODE step
    * that connects [[vocabInduct]]'s selection to the token-count /
    * packing family: every word segments by GREEDY LONGEST MATCH
    * against the gram vocabulary (at each position take the longest
    * vocab gram that fits, else one character — the standard greedy
    * WordPiece inference; Wu et al. 2016), and `vp_tokens` is the
    * doc's total segment count under that measure. The scan is the
    * native codegen'd kernel
    * ([[graft.functions.VocabEncodeCount]] — one tight byte loop per
    * row inside whole-stage codegen, probing a task-cached hash map
    * built once from the broadcast vocabulary; the r19 probe measured
    * the previous interpreted fold as ~100% of the subword pack's
    * cost), spec-pinned ≡ the built-ins fold spelling
    * ([[vocabSegmentsFold]]). The vocabulary rides ONE broadcast
    * 1-row map column (bounded by V; beyond the broadcast ceiling the
    * posexplode→join seam [[tokenIdsByJoin]] is the spelling) —
    * map-side, zero shuffle, no UDF.
    *
    * BEHAVIOR NOTE (r19 → r20 re-landing boundary): since r19 the
    * default probe window derives from the VOCABULARY (min/max entry
    * length) instead of the historical fixed (2,5), and entries
    * longer than 32 chars refuse. A caller-supplied gram list with
    * entries outside [2,5] now MATCHES where pre-r19 runs landed UNK
    * — re-running a standing vp artifact built with out-of-window
    * grams will not reproduce its pre-r19 counts (pass minN/maxN
    * explicitly to reproduce the old window).
    */
  def vocabSegments(docs: DataFrame, grams: Seq[String], minN: Int = 0,
      maxN: Int = 0): DataFrame = {
    require(grams.nonEmpty,
      "vocabSegments needs the induced gram vocabulary")
    require((minN > 0) == (maxN > 0),
      "vocabSegments: give BOTH probe bounds or neither (0, 0 = " +
        "derive from the vocabulary) — a lone bound would be " +
        "silently ignored")
    // 0 = derive the probe window from the vocabulary itself — a
    // supplied table whose entries fall outside a fixed window would
    // otherwise be silently unreachable (every occurrence landing as
    // UNK with no warning)
    val (lo, hi) = deriveProbeWindow(grams.iterator.map(_.length),
      minN, maxN)
    graft.functions.VocabEncode.register(docs.sparkSession)
    docs.crossJoin(gramMap(gramIdFrame(docs.sparkSession, grams)))
      .select(col("doc_id"),
        graft.functions.VocabEncode.vp_encode_count(col("text"),
          col("__gmap"), lo, hi).as("vp_tokens"))
  }

  /** The pre-kernel BUILT-INS spelling of [[vocabSegments]] — an
    * `aggregate` fold over character positions sharing [[vpStep]]
    * with the id emitter. Kept as the kernel's equivalence reference
    * (the WordShingles discipline: the native kernel must reproduce
    * the declarative spelling byte-for-byte, spec-pinned).
    */
  private[graft] def vocabSegmentsFold(docs: DataFrame,
      grams: Seq[String], minN: Int = 0, maxN: Int = 0): DataFrame = {
    require(grams.nonEmpty,
      "vocabSegmentsFold needs the induced gram vocabulary")
    val (lo, hi) = deriveProbeWindow(grams.iterator.map(_.length),
      minN, maxN)
    docs.crossJoin(gramMap(gramIdFrame(docs.sparkSession, grams)))
      .select(col("doc_id"),
        aggregate(
          regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"),
            lit(0)),
          lit(0L),
          (acc, w) => acc + vpSegCount(w, col("__gmap"), lo, hi))
          .as("vp_tokens"))
  }

  /** The greedy cursor's probe window: explicit when the caller set
    * both bounds, otherwise the (min, max) entry length of the
    * vocabulary itself — entries a fixed window would miss must
    * never silently encode as UNK. Capped so an adversarial entry
    * can't explode the per-position when-chain.
    */
  private def deriveProbeWindow(lengths: Iterator[Int], minN: Int,
      maxN: Int): (Int, Int) = {
    val (lo, hi) =
      if (minN > 0 && maxN > 0) (minN, maxN)
      else {
        var mn = Int.MaxValue; var mx = 0
        lengths.foreach { l => if (l < mn) mn = l; if (l > mx) mx = l }
        require(mx > 0, "the gram vocabulary is empty")
        (mn, mx)
      }
    require(lo >= 1 && hi >= lo,
      s"vocab probe window needs 1 <= minN <= maxN (got $lo..$hi)")
    require(hi <= 32,
      s"vocab entries up to length $hi — the greedy probe chain is " +
        "capped at 32 chars per entry (split longer merges upstream)")
    (lo, hi)
  }

  /** The greedy encode EMITTING SEGMENT IDS — the step that turns
    * [[vocabSegments]]' count into a landable token-ID artifact:
    * per doc, the concatenation of every word's greedy-longest-match
    * segment ids under the supplied (token, id) gram vocabulary
    * ([[gramVocab]]'s induced ranking or any externally trained
    * table), single-character fallbacks to id 0 (UNK). The id array's
    * LENGTH is by construction the [[vocabSegments]] count (one
    * kernel cursor per segment, shared scan logic), so packs
    * sliced from these arrays can never diverge from the vp token
    * budget. Same plan shape as the count: one broadcast 1-row map
    * column, map-side, zero shuffle, no UDF — the scan is the native
    * codegen'd [[graft.functions.VocabEncodeIds]] kernel (one tight
    * byte loop per row inside whole-stage codegen; the r19 probe
    * measured the previous interpreted fold as ~100% of the subword
    * pack's cost), spec-pinned ≡ the built-ins fold spelling
    * ([[vocabSegmentIdsFold]]).
    */
  def vocabSegmentIds(docs: DataFrame, vocab: DataFrame, minN: Int = 0,
      maxN: Int = 0): DataFrame = {
    val (lo, hi) = idsProbeWindow(vocab, minN, maxN)
    graft.functions.VocabEncode.register(docs.sparkSession)
    docs.crossJoin(gramMap(vocab))
      .select(col("doc_id"),
        graft.functions.VocabEncode.vp_encode_ids(col("text"),
          col("__gmap"), lo, hi).as("vp_ids"))
  }

  /** The pre-kernel BUILT-INS spelling of [[vocabSegmentIds]] — the
    * per-word `aggregate` fold over [[vpStep]]. Kept as the kernel's
    * equivalence reference (spec-pinned byte-for-byte).
    */
  private[graft] def vocabSegmentIdsFold(docs: DataFrame,
      vocab: DataFrame, minN: Int = 0, maxN: Int = 0): DataFrame = {
    val (lo, hi) = idsProbeWindow(vocab, minN, maxN)
    docs.crossJoin(gramMap(vocab))
      .select(col("doc_id"),
        flatten(transform(
          regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"),
            lit(0)),
          w => vpSegIds(w, col("__gmap"), lo, hi))).as("vp_ids"))
  }

  /** The id-encode probe window: explicit bounds, or derived from the
    * vocabulary table (one O(V) agg) — shared by the kernel and fold
    * spellings so both see the same reachable entries.
    */
  private def idsProbeWindow(vocab: DataFrame, minN: Int,
      maxN: Int): (Int, Int) = {
    require((minN > 0) == (maxN > 0),
      "vocabSegmentIds: give BOTH probe bounds or neither (0, 0 = " +
        "derive from the vocabulary) — a lone bound would be " +
        "silently ignored")
    // 0 = derive the probe window from the vocabulary (one O(V) agg)
    // — an externally-trained table may carry entries of any length,
    // and a fixed window would silently encode them as UNK
    if (minN > 0 && maxN > 0) deriveProbeWindow(Iterator.empty,
      minN, maxN)
    else {
      val r = vocab.agg(
        min(length(col("token"))), max(length(col("token")))).head()
      require(!r.isNullAt(0),
        "vocabSegmentIds: the supplied vocabulary is empty")
      deriveProbeWindow(Iterator(r.getInt(0), r.getInt(1)), 0, 0)
    }
  }

  /** The 1-row broadcast gram→id map column both encode forms probe
    * (one builder so the count and the ids always see the same
    * vocabulary spelling).
    */
  private def gramMap(vocab: DataFrame): DataFrame =
    broadcast(vocab.agg(map_from_entries(
      collect_list(struct(col("token"),
        col("id").cast("long").as("id")))).as("__gmap")))

  /** MERGE-ORDER BPE encode — the application a BPE-trained
    * vocabulary is DEFINED by: each word starts as characters, the
    * vocabulary's merge list (rows whose `left`/`right` pair is
    * non-null, in id order = training order) applies one
    * left-to-right pass per merge — exactly what training did to
    * that word — and the final symbols map to their ids (UNK 0).
    * [[vocabSegmentIds]]' greedy longest-match can segment the SAME
    * vocabulary differently ("abc" under {ab, bc} with (b, c) ranked
    * first: greedy → [ab, c], merge-order → [a, bc]), so a pack that
    * must reproduce a production BPE tokenizer's ids takes this path
    * — [[packTokensMaterialize]] routes here automatically when the
    * vocabulary carries its pairs ([[vocabCarriesMerges]]).
    *
    * Plan shape: identical to the greedy encode — ids ride the ONE
    * broadcast 1-row map column, the scan is a native codegen'd
    * kernel ([[graft.functions.BpeMergeEncodeIds]]), map-side, zero
    * shuffle. The merge LIST rides the driver once (bounded by the
    * training-run merge count — the numMerges posture documented on
    * [[bpeInduct]]); each word's pass exits early once it collapses
    * to one symbol.
    */
  def bpeSegmentIds(docs: DataFrame, vocab: DataFrame): DataFrame = {
    require(vocab.columns.contains("left") &&
        vocab.columns.contains("right"),
      "bpeSegmentIds needs a vocabulary carrying its merge pairs " +
        "(left/right columns — bpeInduct's output shape); a plain " +
        "(token, id) table applies greedy longest-match via " +
        "vocabSegmentIds instead")
    val mrows = vocab.where(col("left").isNotNull)
      .select(col("id").cast("long"), col("left"), col("right"),
        col("token"))
      .orderBy(col("id")).collect()
    require(mrows.nonEmpty,
      "bpeSegmentIds: the vocabulary carries left/right columns but " +
        "no merge rows — strip the columns (greedy longest-match) or " +
        "supply the merge list")
    mrows.foreach { r =>
      require(!r.isNullAt(2) &&
          r.getString(3) == r.getString(1) + r.getString(2),
        s"bpeSegmentIds: merge row '${r.getString(3)}' must satisfy " +
          "token = left || right with both sides non-null (got left=" +
          s"'${r.getString(1)}', right='${Option(r.getString(2))
            .getOrElse("NULL")}') — a mangled merge list would " +
          "silently re-segment the whole corpus")
    }
    graft.functions.VocabEncode.register(docs.sparkSession)
    docs.crossJoin(gramMap(vocab))
      .select(col("doc_id"),
        graft.functions.VocabEncode.bpe_encode_ids(col("text"),
          col("__gmap"),
          mrows.map(_.getString(1)).toSeq,
          mrows.map(_.getString(2)).toSeq).as("vp_ids"))
  }

  /** The encode-routing seam: a vocabulary that CARRIES its merge
    * pairs IS a BPE tokenizer spec and must be applied in merge
    * order; one without applies greedy longest-match (WordPiece-
    * style). One probe row decides (O(1) against the V-bounded
    * table).
    */
  private[graft] def vocabCarriesMerges(vocab: DataFrame): Boolean =
    vocab.columns.contains("left") && vocab.columns.contains("right") &&
      vocab.where(col("left").isNotNull).limit(1).count() > 0L

  /** The per-doc segment-id encode under EITHER application —
    * returns the frame plus the resolved mode name ("vp" greedy /
    * "vp_merge" merge-order) so pack summaries describe what
    * actually ran.
    */
  private[graft] def segmentIdsFor(docs: DataFrame,
      vocab: DataFrame): (DataFrame, String) =
    if (vocabCarriesMerges(vocab)) (bpeSegmentIds(docs, vocab), "vp_merge")
    else (vocabSegmentIds(docs, vocab), "vp")

  /** ONE greedy step of the longest-match cursor: at `pos`, the
    * longest vocab gram that fits as struct(len, id), else the
    * single-character fallback struct(1, 0). THE shared arithmetic
    * under [[vpSegCount]] and [[vpSegIds]] — two folds over one step
    * definition, so the counted measure and the emitted ids cannot
    * silently diverge.
    */
  private def vpStep(word: Column, pos: Column, gmap: Column,
      minN: Int, maxN: Int): Column = {
    val rem = length(word) - pos + lit(1)
    (maxN to minN by -1)
      .foldLeft(when(lit(false),
        struct(lit(1).as("len"), lit(0L).as("id")))) { (acc, n) =>
        acc.when(rem >= lit(n) &&
          element_at(gmap, word.substr(pos, lit(n))).isNotNull,
          struct(lit(n).as("len"),
            element_at(gmap, word.substr(pos, lit(n))).as("id")))
      }.otherwise(struct(lit(1).as("len"), lit(0L).as("id")))
  }

  /** The greedy longest-match segment COUNT of one word: an
    * `aggregate` fold over character positions carrying (next match
    * position, segments so far) — positions the cursor has jumped
    * over fall through untouched, so the fold is exactly the
    * imperative greedy scan, spelled relationally (no recursion,
    * bounded by word length).
    */
  private def vpSegCount(word: Column, gmap: Column, minN: Int,
      maxN: Int): Column =
    aggregate(
      sequence(lit(1), length(word)),
      struct(lit(1).as("pos"), lit(0L).as("cnt")),
      (st, i) => {
        val pos = st.getField("pos")
        val step = vpStep(word, pos, gmap, minN, maxN)
        when(i =!= pos, st).otherwise(
          struct((pos + step.getField("len")).as("pos"),
            (st.getField("cnt") + lit(1L)).as("cnt")))
      },
      st => st.getField("cnt"))

  /** The greedy longest-match segment IDS of one word — the same
    * cursor fold as [[vpSegCount]] (one [[vpStep]] per segment),
    * accumulating the matched gram's id (fallback 0) instead of a
    * count. The per-step array append copies O(segments) ids, so a
    * word's encode is O(len + segments²) — bounded by word length,
    * still map-side linear over the corpus.
    */
  private def vpSegIds(word: Column, gmap: Column, minN: Int,
      maxN: Int): Column =
    aggregate(
      sequence(lit(1), length(word)),
      struct(lit(1).as("pos"), array_repeat(lit(0L), 0).as("ids")),
      (st, i) => {
        val pos = st.getField("pos")
        val step = vpStep(word, pos, gmap, minN, maxN)
        when(i =!= pos, st).otherwise(
          struct((pos + step.getField("len")).as("pos"),
            concat(st.getField("ids"), array(step.getField("id")))
              .as("ids")))
      },
      st => st.getField("ids"))

  private val vpGramStages =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  /** The induced gram vocabulary for a test-data dir, collected once
    * per (process, sfDir, size) — O(vocabSize) strings, the
    * `sqlLifecycleStages` convention so the bench times the encode,
    * not the induction.
    */
  private[graft] def inducedGrams(spark: SparkSession,
      sfDir: String, vocabSize: Int = 64): Seq[String] =
    vpGramStages.computeIfAbsent(s"$sfDir:$vocabSize", { _ =>
      vocabInduct(spark, sfDir, vocabSize = vocabSize)
        .select(col("gram")).collect()
        .map(_.getString(0)).toIndexedSeq
    })

  /** Driver scenario for [[vocabSegments]]: per-doc greedy-encode
    * token counts under the induced top-64 gram vocabulary.
    */
  def vocabSegmentScenario(spark: SparkSession,
      sfDir: String): DataFrame =
    vocabSegments(Tables.load(spark, sfDir, "documents"),
      inducedGrams(spark, sfDir))

  /** Driver scenario for [[vocabSegmentIds]]: the per-doc encode
    * under the induced rank-ordered gram vocabulary, reduced to the
    * gate-checkable pair (segment count, id checksum) — the oracle
    * replays the greedy cursor AND the id assignment end to end.
    */
  def vocabSegmentIdsScenario(spark: SparkSession,
      sfDir: String): DataFrame =
    vocabSegmentIds(Tables.load(spark, sfDir, "documents"),
        gramIdFrame(spark, inducedGrams(spark, sfDir)))
      .select(col("doc_id"),
        size(col("vp_ids")).cast("long").as("vp_tokens"),
        aggregate(col("vp_ids"), lit(0L), (a, x) => a + x)
          .as("ids_sum"))

  /** The NON-TOY-vocabulary encode gate: the same end-to-end replay
    * as [[vocabSegmentIdsScenario]] under a top-1000 induced gram
    * vocabulary — the hash-map probe and the id assignment exercised
    * at a production-shaped V (the 64-gram gate mostly hits the
    * single-char fallback), still V-bounded everywhere.
    */
  def vocabSegmentIds1kScenario(spark: SparkSession,
      sfDir: String): DataFrame =
    vocabSegmentIds(Tables.load(spark, sfDir, "documents"),
        gramIdFrame(spark, inducedGrams(spark, sfDir, 1000)))
      .select(col("doc_id"),
        size(col("vp_ids")).cast("long").as("vp_tokens"),
        aggregate(col("vp_ids"), lit(0L), (a, x) => a + x)
          .as("ids_sum"))

  /** Corpus accounting rollup: docs / chars / whitespace tokens per
    * (lang, source) — the bookkeeping query behind token budgets.
    */
  def corpusStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("total_chars"),
        sum(size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).cast("long"))
          .as("total_ws_tokens"))
      .withColumn("avg_chars",
        col("total_chars").cast("double") / col("n_docs"))

  /** MAINTAINED corpus accounting (the continuous form of
    * [[corpusStats]] — token budgets for a corpus that keeps
    * ingesting): the documents table lives in a GraftTable and an
    * IncrementalMatView keeps per-(source, lang) token/char
    * SUM/COUNT/MIN/MAX fresh from the change feed — the DERIVED
    * measure (whitespace token count) re-evaluates per row on
    * snapshots AND feed, so deletes and appends fold/recompute
    * exactly. Refresh cost is O(changed docs), not O(corpus): the
    * shape a 100 TB corpus ledger actually needs.
    */
  private val corpusTemplates = new java.util.concurrent
    .ConcurrentHashMap[String, java.nio.file.Path]()

  def corpusStatsMaintained(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    // the documents GraftTable is scenario INPUT, not the operator:
    // build it once per process and clone by file copy (the
    // TableOps.scratch pattern) so the bench times the maintenance
    val template = corpusTemplates.computeIfAbsent(sfDir, _ => {
      val d = java.nio.file.Files
        .createTempDirectory("graft_mvcorpus_tpl_").resolve("t")
      graft.tables.GraftTable.create(spark, d.toString,
        docs.repartition(4))
      d
    })
    val dir = java.nio.file.Files.createTempDirectory("graft_mvcorpus_")
    TableOps.copyTree(template, dir.resolve("t"))
    val t = graft.tables.GraftTable.load(spark, dir.resolve("t").toString)
    // the APPROX_COUNT_DISTINCT leg: distinct char-length CENTILES
    // per sub-corpus (how many length buckets it spans — the "is this
    // slice homogeneous?" signal next to the sums). Maintained as a
    // mergeable HLL sketch: appends fold, deletes route through the
    // affected-group recompute; the tiny per-group domain keeps the
    // sketch exact, so the oracle checks plain COUNT(DISTINCT)
    val mv = graft.tables.IncrementalMatView.create(spark, t,
      dir.resolve("mv").toString, Seq("source", "lang"),
      Seq("tokens", "n_chars"), extremes = true,
      derived = Seq("tokens" ->
        "CAST(size(regexp_extract_all(text, '\\\\S+', 0)) AS DOUBLE)",
        "len_centile" -> "CAST(n_chars DIV 100 AS INT)"),
      dims = Nil, avgCols = Nil, outputs = Nil,
      approxCols = Seq("len_centile"))
    t.delete(col("n_chars") > 900 && col("doc_id") % 3 === 0)
    t.append(docs.filter(col("doc_id") % 10 === 7)
      .withColumn("doc_id", col("doc_id") + 100000000L))
    t.deleteMor(col("n_chars") < 50)
    mv.refresh()
    mv.view()
  }

  /** Heavy-hitter languages via the custom space-saving
    * TypedImperativeAggregate (graft.functions.TopKItemsAgg) —
    * bounded-memory top-k with mergeable partials; capacity ≥
    * distinct langs here, so the result is exact and
    * oracle-checkable.
    */
  def heavyHitterLangs(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.TopKItems.register(spark)
    Tables.load(spark, sfDir, "documents")
      .select(graft.functions.TopKItems.top_k_items(col("lang"), 5, 64).as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t.item").as("item"), col("t.cnt").as("cnt"))
  }

  /** Content fingerprint of whitespace-normalized text. The md5 form
    * is the portable/oracle-checkable spelling; the codegen'd
    * RollingHash expression (graft.functions.RollingHash) is the
    * cheap scale path, spec-verified against a reference impl.
    */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents").select(
      col("doc_id"),
      substring(md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))), 1, 16)
        .as("fingerprint"))

  /** Boilerplate LINE stripping (the C4/RefinedWeb cleaning step):
    * a line occurring in ≥ `minDocs` distinct documents of the same
    * `source` is template chrome (nav, footers, cookie banners) and
    * is removed from every document; survivors reassemble in their
    * original order. Expects columns (doc_id, source, text).
    *
    * Scale shape: one posexplode + one (source, line) count — only
    * line hashes and doc ids shuffle; the boilerplate dictionary is
    * tiny (it's the REPEATED lines) so the anti-join broadcasts; the
    * reassembly groups each document's own lines (no cross-doc
    * traffic). Docs stripped to nothing stay present with empty text.
    */
  def stripBoilerplate(docs: DataFrame, minDocs: Int = 5): DataFrame = {
    val lines = docs.select(col("doc_id"), col("source"),
      posexplode(split(col("text"), "\n")).as(Seq("idx", "line")))
    val boilerplate = lines
      .where(length(trim(col("line"))) > 0)
      .groupBy(col("source"), col("line"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= minDocs)
      .select(col("source"), col("line"))
    val kept = lines.join(boilerplate, Seq("source", "line"), "left_anti")
    val reassembled = kept.groupBy(col("doc_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("idx"), col("line")))),
          x => x.getField("line")), "\n").as("clean_text"))
    docs.select(col("doc_id"))
      .join(reassembled, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** RefinedWeb-style EXACT LINE/PARAGRAPH DEDUP across the corpus —
    * the keep-one cousin of [[stripBoilerplate]]: every line
    * duplicated anywhere in the corpus keeps exactly its FIRST
    * occurrence (minimum (doc_id, position) — deterministic under
    * any partitioning) and every later copy strips, within-document
    * repeats included; lines shorter than `minLen` chars never
    * participate (structural fragments — blank lines, separators —
    * keep everywhere, matching the published heuristic), and
    * documents reassemble in original line order. Contrast with
    * stripBoilerplate, which removes ≥k-doc template lines from ALL
    * docs: here the corpus retains each duplicated passage exactly
    * once, the dedup posture (content preserved) rather than the
    * cleaning posture (chrome removed).
    *
    * Scale shape: dedupable lines hash MAP-SIDE to a 120-bit key pair
    * (two independent 60-bit md5 residues — collision odds 2⁻¹²⁰,
    * negligible at any corpus size), so the first-occurrence groupBy
    * and the equi-join back shuffle 16 bytes per line instead of the
    * raw text; the only text-carrying shuffle left is the per-doc
    * reassembly group, whose key is doc_id. Lines under `minLen`
    * carry NULL keys (equi-joins never match null), so they keep
    * everywhere without a branch.
    */
  def paragraphDedup(docs: DataFrame, minLen: Int = 16): DataFrame = {
    val lines = docs.select(col("doc_id"),
      posexplode(split(col("text"), "\n")).as(Seq("idx", "line")))
      .withColumn("h1", when(length(col("line")) >= minLen,
        graft.Tables.md5Residue(col("line"))))
      .withColumn("h2", when(length(col("line")) >= minLen,
        graft.Tables.md5Residue(col("line"), 16)))
    val first = lines.where(length(col("line")) >= minLen)
      .groupBy(col("h1"), col("h2"))
      .agg(min(struct(col("doc_id").as("doc_id"), col("idx").as("idx")))
        .as("f"))
    val kept = lines
      .join(first, Seq("h1", "h2"), "left")
      .where(col("f").isNull ||
        (col("f.doc_id") === col("doc_id") && col("f.idx") === col("idx")))
    val reassembled = kept.groupBy(col("doc_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("idx"), col("line")))),
          x => x.getField("line")), "\n").as("clean_text"),
        count(lit(1)).as("__kept"))
    docs.select(col("doc_id"),
        size(split(col("text"), "\n")).cast("long").as("__total"))
      .join(reassembled, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("__total") - coalesce(col("__kept"), lit(0L)))
          .cast("int").as("n_removed"))
  }

  /** Driver scenario for [[paragraphDedup]]: the corpus text carries
    * no newlines, so build a deterministic multi-line corpus — each
    * doc's own text plus the text of doc (doc_id % 50) as a second
    * line — giving every one of the 50 donor lines ~n/50 copies
    * across the corpus plus whatever exact dups the corpus itself
    * has. Pure relational derivation, so the oracle replays corpus
    * construction and dedup alike.
    */
  def paragraphDedupScenario(spark: SparkSession,
      sfDir: String): DataFrame = {
    val d = Tables.load(spark, sfDir, "documents")
    val donors = d.select(col("doc_id").as("sid"), col("text").as("stext"))
    val docs = d.join(donors, col("sid") === pmod(col("doc_id"), lit(50L)))
      .select(col("doc_id"),
        concat(col("text"), lit("\n"), col("stext")).as("text"))
    paragraphDedup(docs)
  }

  /** DSIR importance weighting (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw doc
    * by how much its HASHED token-feature distribution looks like a
    * TARGET slice's (here the `lang = targetLang` sub-corpus — a real
    * pipeline points the target counts at its curated/wiki corpus).
    * Features are md5-residue token buckets (the paper's hashed
    * n-grams, B buckets); per-bucket log-ratios
    * ln(p̂_target(b)/p̂_raw(b)) come from exact integer counts with
    * add-one smoothing, and a doc's weight is its buckets' counts
    * dotted with those ratios — positive = target-like, the rank
    * importance resampling draws by. Same engine-portable trick as
    * [[textPerplexity]]: the per-bucket ratio rounds to
    * DECIMAL(28,12), the per-doc dot rides exact integer×decimal
    * products, so the whole score replays bit-identically.
    *
    * Scale shape: both count panes are map-side partial aggregates to
    * B-row tables; the B-row ratio table BROADCASTS onto the doc
    * bucket counts (one row per (doc, distinct bucket)) — no corpus
    * shuffle beyond the per-doc bucket aggregation.
    */
  def dsirWeight(spark: SparkSession, sfDir: String,
      targetLang: String = "en", buckets: Int = 1024): DataFrame = {
    val d = Tables.load(spark, sfDir, "documents")
    val posts = d.select(col("doc_id"), col("lang"),
        explode(regexp_extract_all(lower(col("text")),
          lit("[a-z0-9]+"), lit(0))).as("t"))
      .select(col("doc_id"), col("lang"),
        pmod(Tables.md5Residue(col("t")), lit(buckets.toLong)).as("b"))
    val rawCnt = posts.groupBy(col("b")).agg(count(lit(1)).as("c_raw"))
    val tgtCnt = posts.where(col("lang") === targetLang)
      .groupBy(col("b")).agg(count(lit(1)).as("c_tgt"))
    val totals = posts.agg(count(lit(1)).as("n_raw"),
      sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("n_tgt"))
    // log-ratio per bucket, add-one smoothed, decimal-rounded — the
    // B-row table every doc's counts dot against
    val ratios = rawCnt.join(tgtCnt, Seq("b"), "left")
      .crossJoin(totals)
      .select(col("b"),
        round(log(((coalesce(col("c_tgt"), lit(0L)) + 1).cast("double") /
            (col("n_tgt") + buckets).cast("double")) /
          ((col("c_raw") + 1).cast("double") /
            (col("n_raw") + buckets).cast("double"))), 12)
          .cast("decimal(28,12)").as("r"))
    val docBuckets = posts.groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).as("n"))
    // per-doc dot product in EXACT decimals: count decimal(10,0) ×
    // ratio decimal(20,12) stays within 38 digits (an unconstrained
    // long×decimal product would hit Spark's precision cap and lose
    // exactness); one double conversion at the very end
    docBuckets.join(broadcast(ratios), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n").cast("decimal(10,0)") *
          col("r").cast("decimal(20,12)")).as("__w"),
        sum(col("n")).cast("long").as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("__w").cast("double") /
          greatest(col("n_tokens"), lit(1L)).cast("double"), 6)
          .as("weight"))
  }

  /** CCNet-style LANGUAGE-MODEL PERPLEXITY quality scoring (Wenzek et
    * al. 2020's filter, the signal next to the rule-based
    * quality/Gopher panes): a bigram LM with add-one smoothing trains
    * on the corpus itself (exact integer unigram/bigram counts — the
    * wiki-LM stand-in this environment affords; a real pipeline
    * points the same counts at its reference corpus) and every doc
    * scores its average negative log-likelihood — low = templated/
    * repetitive text, high = noise, the two tails CCNet trims.
    *
    * Engine-portable determinism: each pair's ln((c2+1)/(c1+V))
    * term ROUNDS TO DECIMAL(28,12) before the per-doc sum, so the
    * aggregation is order-insensitive (decimal addition is exact) —
    * the one trick that makes a float-log aggregate replayable — and
    * the final mean rounds to 6. Scale shape: counts are map-side
    * partial aggregates to vocab-sized tables; each doc's pairs join
    * those tables by key (the method's true cost at 100 TB: two
    * shuffles of the pair postings, no corpus broadcast).
    */
  def textPerplexity(spark: SparkSession, sfDir: String): DataFrame =
    textPerplexityOf(Tables.load(spark, sfDir, "documents"))

  def textPerplexityOf(d: DataFrame): DataFrame = {
    val toks = d.select(col("doc_id"),
      regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("w"))
    val posts = toks.where(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 1), " +
          "i -> struct(element_at(w, i) as w1, element_at(w, i + 1) as w2))"))
        .as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val uniTokens = toks.select(explode(col("w")).as("w1"))
    val uni = uniTokens.groupBy(col("w1"))
      .agg(count(lit(1)).as("c1"))
    val vocab = uniTokens.select(countDistinct(col("w1")).as("v"))
    val bi = posts.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    val terms = posts
      .join(bi, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .crossJoin(vocab) // one scalar row
      .select(col("doc_id"),
        round(log((col("c2") + 1).cast("double") /
          (col("c1") + col("v")).cast("double")), 12)
          .cast("decimal(28,12)").as("t"))
    terms.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        // the decimal sum is exact; convert to double BEFORE the
        // division so both engines run the same IEEE quotient
        // (decimal division scale rules differ between engines)
        round(-sum(col("t")).cast("double") /
          count(lit(1)).cast("double"), 6).as("nll"))
  }

  /** BM25 keyword ranking over the corpus — the lexical-retrieval
    * baseline every RAG/training-data pipeline needs next to the ANN
    * family. Corpus statistics (N, avgdl, per-term document
    * frequencies) are ONE exact-integer aggregate broadcast back over
    * the docs; each doc's score is then a single ROW-LOCAL expression
    * with the per-term contributions summed in fixed order (no
    * cross-row double accumulation), so the result is deterministic
    * under any partitioning and replays bit-identically in the
    * oracle. tf per term rides codegen'd array ops
    * (size − size∘array_remove), not a UDF.
    */
  def bm25Rank(spark: SparkSession, sfDir: String,
      terms: Seq[String] = Seq("spark", "join", "filter"),
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val d = Tables.load(spark, sfDir, "documents")
    val toks = d.select(col("doc_id"),
      regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).cast("double").as("dl"))
    // one row of corpus scalars; doc lengths are integer-valued
    // doubles, so the sum is exact under any aggregation order
    val statCols = Seq(
      count(lit(1)).cast("double").as("n_docs"),
      sum(col("dl")).as("sum_dl")) ++
      terms.map(t => sum(when(array_contains(col("w"), t), 1).otherwise(0))
        .cast("double").as(s"df_$t"))
    val stats = toks.agg(statCols.head, statCols.tail: _*)
    val scored = toks.crossJoin(stats)
    def tf(t: String): Column =
      (size(col("w")) - size(array_remove(col("w"), t))).cast("double")
    def contribution(t: String): Column = {
      val df = col(s"df_$t")
      val idf = log((col("n_docs") - df + 0.5) / (df + 0.5) + 1.0)
      // operand grouping mirrors the oracle SQL exactly — double
      // arithmetic is order-sensitive in the last ULP
      idf * (tf(t) * lit(k1 + 1.0)) /
        (tf(t) + lit(k1) * (lit(1.0 - b) +
          lit(b) * col("dl") / (col("sum_dl") / col("n_docs"))))
    }
    scored.select(col("doc_id"),
      round(terms.map(contribution).reduce(_ + _), 8).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }
}
