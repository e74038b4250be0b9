package graft

import graft.operators._
import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("pricing summary covers all flag/status groups with exact sums") {
    val df = Analytics.pricingSummary(spark, sf)
    assert(df.count() === 6)
    assert(df.where($"sum_disc_price" > $"sum_charge").count() === 0)
  }

  test("top customers window keeps exactly 3 per segment") {
    val df = Analytics.topCustomersWindow(spark, sf)
    val per = df.groupBy($"c_mktsegment").count().as[(String, Long)].collect()
    assert(per.forall(_._2 === 3))
  }

  test("approx_count_distinct tracks exact within rsd") {
    val li = Tables.load(spark, sf, "lineitem")
    val (exact, approx) = li.agg(
      countDistinct($"l_partkey").cast("double"),
      approx_count_distinct($"l_partkey", 0.02).cast("double"))
      .as[(Double, Double)].head()
    assert(math.abs(approx - exact) / exact < 0.1)
  }

  test("dedup_exact keeps one representative per distinct text") {
    val df = Dedup.exact(spark, sf)
    val docs = Tables.load(spark, sf, "documents")
    assert(df.count() === docs.select(md5($"text")).distinct().count())
    assert(df.agg(sum($"n_copies")).as[Long].head() === docs.count())
  }

  test("native word_shingles is identical to the HOF spelling") {
    graft.functions.WordShingles.register(spark)
    val docs = Tables.load(spark, sf, "documents").limit(200)
      .select($"doc_id",
        regexp_extract_all(lower($"text"), lit("[a-z0-9]+"), lit(0)).as("w"))
    val both = docs.select($"doc_id",
      graft.functions.WordShingles.word_shingles($"w", 3).as("native"),
      expr("case when size(w) >= 3 then transform(sequence(0, size(w) - 3), " +
        "i -> concat_ws(' ', slice(w, i + 1, 3))) else array() end").as("hof"))
    assert(both.where(not($"native" <=> $"hof")).count() === 0)
  }

  test("shingles handle docs shorter than the n-gram size") {
    // regression: sequence(0, -1) steps DOWN → slice(w, 0, 3) threw
    // "array indices start at 1" for any doc with < 3 tokens
    val docs = Seq((1L, ""), (2L, "one"), (3L, "two words"),
      (4L, "exactly three words"), (5L, "now four whole words"))
      .toDF("doc_id", "text")
    val sh = Dedup.shingles(docs).select($"doc_id", size($"sh").as("n"))
      .as[(Long, Int)].collect().toMap
    assert(sh === Map(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 1, 5L -> 2))
  }

  test("minhash LSH finds every high-jaccard pair (recall vs exact)") {
    val exact = Dedup.ngramJaccard(spark, sf, minJaccard = 0.8)
      .select($"doc_a", $"doc_b")
    val lsh = Dedup.minhashLsh(spark, sf, minJaccard = 0.8)
      .select($"doc_a", $"doc_b")
    val missed = exact.except(lsh).count()
    // 16 bands × r=4: P(miss | J≥0.8) = (1-J^4)^16 ≤ 0.03 per pair
    assert(missed <= math.max(1, (exact.count() * 0.1).toLong),
      s"LSH missed $missed of ${exact.count()} true pairs")
  }

  test("minhash LSH is deterministic across runs") {
    val a = Dedup.minhashLsh(spark, sf).orderBy("doc_a", "doc_b").collect()
    val b = Dedup.minhashLsh(spark, sf).orderBy("doc_a", "doc_b").collect()
    assert(a === b)
  }

  test("simhash near-dup pairs have verified hamming distance") {
    val pairs = Dedup.simhash(spark, sf, maxHamming = 3)
    assert(pairs.where($"hamming" > 3).count() === 0)
    assert(pairs.count() > 0)
  }

  test("native codegen vector kernels are bit-identical to the HOF forms") {
    graft.functions.VectorExprs.register(spark)
    import graft.functions.{VectorExprs => VE, VectorFunctions => VF}
    val emb = Tables.load(spark, sf, "embeddings").limit(50)
    val q = emb.orderBy($"vec_id").select($"embedding").as[Seq[Float]].head()
    val both = emb.select($"vec_id",
      VE.vec_dot($"embedding", typedLit(q)).as("nd"),
      VF.dot($"embedding", typedLit(q)).as("hd"),
      VE.vec_norm($"embedding").as("nn"),
      VF.l2Norm($"embedding").as("hn"),
      VE.vec_l2sq($"embedding", typedLit(q)).as("nl"),
      VF.l2Sq($"embedding", typedLit(q)).as("hl"))
    assert(both.where($"nd" =!= $"hd" || $"nn" =!= $"hn" || $"nl" =!= $"hl")
      .count() === 0)
  }

  test("multiple custom kernels codegen-compile in ONE projection") {
    // regression: fixed local names ("i", "rh", ...) in doGenCode made
    // any projection holding 2+ kernels (vec_cosine = dot + 2 norms)
    // fail Janino compilation and silently run interpreted
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Divide, Multiply}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val arrT = ArrayType(FloatType)
    val a = BoundReference(0, arrT, nullable = true)
    val b = BoundReference(1, arrT, nullable = true)
    val s = BoundReference(2, StringType, nullable = true)
    val cos = Divide(graft.functions.VecDot(a, b),
      Multiply(graft.functions.VecNorm(a), graft.functions.VecNorm(b)))
    val allKernels = Seq(cos,
      graft.functions.VecL2Sq(a, b),
      Add(graft.functions.RollingHash(s), graft.functions.RollingHash(s)))
    // generate() throws CompileException on collision — no fallback here
    val proj = GenerateUnsafeProjection.generate(allKernels)
    val row = InternalRow(
      ArrayData.toArrayData(Array(3.0f, 4.0f)),
      ArrayData.toArrayData(Array(3.0f, 4.0f)),
      UTF8String.fromString("ab"))
    val out = proj(row)
    assert(math.abs(out.getDouble(0) - 1.0) < 1e-12)          // cos(self) = 1
    assert(out.getDouble(1) === 0.0)                          // l2sq(self) = 0
    assert(out.getLong(2) === 2 * (('a'.toLong * 31) + 'b'))  // 2×rolling hash
  }

  test("long-array L2 kernel matches the HOF spelling exactly") {
    graft.functions.VectorExprs.register(spark)
    val emb = Tables.load(spark, sf, "embeddings").limit(50)
      .select($"vec_id", transform($"embedding",
        x => floor(x.cast("double") * 1000000.0).cast("long")).as("qv"))
    val q = emb.orderBy($"vec_id").select($"qv").as[Seq[Long]].head()
    val both = emb.select(
      graft.functions.VectorExprs.vec_l2sq_long($"qv", typedLit(q)).as("native"),
      aggregate(zip_with($"qv", typedLit(q), (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, x) => acc + x).as("hof"))
    assert(both.where($"native" =!= $"hof").count() === 0)
  }

  test("vector kernels agree with scala reference on a sample") {
    val emb = Tables.load(spark, sf, "embeddings").limit(10)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    val got = Tables.load(spark, sf, "embeddings").limit(10)
      .select($"vec_id", VectorFunctions.l2Norm($"embedding").as("n"))
      .as[(Long, Double)].collect().toMap
    emb.foreach { case (id, v) =>
      val expect = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
      assert(math.abs(got(id) - expect) < 1e-12)
    }
  }

  test("hyperplane LSH near-dup recalls the exact near-dup pairs") {
    val exact = Similarity.embeddingNearDup(spark, sf, threshold = 0.4)
      .select($"vec_a", $"vec_b")
    val lsh = Similarity.embeddingNearDupLsh(spark, sf, threshold = 0.4)
      .select($"vec_a", $"vec_b")
    // label-blocked exact pairs ⊆ all-pairs space the LSH searches;
    // count how many of the exact pairs LSH recovers
    val n = exact.count()
    val recalled = exact.intersect(lsh).count()
    assert(n === 0 || recalled.toDouble / n >= 0.3,
      s"LSH recalled $recalled of $n")
    // determinism
    assert(lsh.count() === Similarity.embeddingNearDupLsh(spark, sf, threshold = 0.4).count())
  }

  test("portable hyperplane LSH near-dup recalls the exact near-dup " +
      "pairs and verifies with exact cosine") {
    val exact = Similarity.embeddingNearDup(spark, sf, threshold = 0.4)
      .select($"vec_a", $"vec_b")
    val lsh = Similarity
      .embeddingNearDupLshPortable(spark, sf, threshold = 0.4)
    // every surfaced pair is exact-verified at the threshold...
    assert(lsh.where($"cos_sim" < 0.4).count() === 0)
    // ...and the md5-bit family recalls like the xxhash one
    val pairs = lsh.select($"vec_a", $"vec_b")
    val n = exact.count()
    val recalled = exact.intersect(pairs).count()
    assert(n === 0 || recalled.toDouble / n >= 0.3,
      s"portable LSH recalled $recalled of $n")
  }

  test("persisted IVF+PQ index: probed-cell partition pruning, ADC " +
      "shortlist, exact rerank — recall floor vs brute force holds") {
    val emb = Tables.load(spark, sf, "embeddings")
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_spec_").resolve("idx").toString
    Similarity.ivfPqIndexBuild(spark, idx, emb)
    val q = emb.filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0)
    val res = Similarity.ivfPqIndexQuery(spark, idx, q, excludeVecId = 0L)
    val rows = res.collect()
    assert(rows.length === 10)
    // the cascade's recall vs the exact brute-force top-10: the PQ
    // shortlist sits UNDER the IVF probe, so it can only lose from
    // the probed cells — the floor matches the flat-IVF spec's
    val brute = Similarity.annTopKBrute(spark, sf)
      .select($"vec_id").as[Long].collect().toSet
    val got = rows.map(_.getLong(0)).toSet
    assert(got.intersect(brute).size >= 4,
      s"IVF+PQ recalled ${got.intersect(brute).size}/10 of brute force")
    // BOTH stages' scans (code ranking + exact rerank) read ONLY the
    // probed cells' partitions; unwrap AQE (the join plan adapts)
    val t = graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(idx, "assignments").toString)
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        allScans(r.child)
      case other => other.children.flatMap(allScans)
    }
    val scans = allScans(res.queryExecution.executedPlan).filter(
      _.relation.location.inputFiles.headOption
        .exists(_.contains("assignments")))
    assert(scans.nonEmpty, "no assignments scan found in the plan")
    val total = t.snapshotInfo(t.latestVersion).files.size
    scans.foreach { scan =>
      assert(scan.metrics("numFiles").value < total,
        s"IVF+PQ probe read ${scan.metrics("numFiles").value} of $total " +
          "files — no partition pruning")
    }
    // determinism
    assert(Similarity.ivfPqIndexQuery(spark, idx, q, excludeVecId = 0L)
      .collect().toSeq === rows.toSeq)
    // REBALANCE preserves the codes column (codes are codebook-
    // relative, not cell-relative) and the index keeps serving
    Similarity.rebalanceIndex(spark, idx)
    assert(t.snapshot().columns.contains("codes"),
      "rebalance stripped the PQ codes column")
    assert(Similarity.ivfPqIndexQuery(spark, idx, q, excludeVecId = 0L)
      .count() === 10)
    // INGEST encodes against the stored codebook: a fresh copy of the
    // query vector lands findable at cosine 1.0
    Similarity.ivfPqIndexIngest(spark, idx,
      Seq((999990L, 7, q)).toDF("vec_id", "label", "embedding")
        .withColumn("embedding", $"embedding".cast("array<float>")))
    val top = Similarity.ivfPqIndexQuery(spark, idx, q, excludeVecId = 0L)
      .collect().head
    assert(top.getLong(0) === 999990L && top.getDouble(2) === 1.0,
      s"ingested exact-match vector not served first: $top")
  }

  test("IVF ANN recalls most of brute-force top-10") {
    val brute = Similarity.annTopKBrute(spark, sf).select($"vec_id").as[Long].collect().toSet
    val ivf = Similarity.annIvf(spark, sf).select($"vec_id").as[Long].collect().toSet
    assert(ivf.intersect(brute).size >= 4,
      s"IVF(nprobe=4/16) recalled ${ivf.intersect(brute).size}/10")
  }

  test("persisted IVF index: ingest lands vectors where the stored argmin dictates; probes prune partitions") {
    val emb = Tables.load(spark, sf, "embeddings")
    // incremental: build on 75%, ingest the remaining 25%
    val inc = java.nio.file.Files.createTempDirectory("graft_ivfspec_").toString
    Similarity.ivfIndexBuild(spark, inc, emb.filter($"vec_id" % 4 =!= 0))
    Similarity.ivfIndexIngest(spark, inc, emb.filter($"vec_id" % 4 === 0))
    val t = graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(inc, "assignments").toString)
    assert(t.snapshot().count() === emb.count(), "every vector indexed")
    // THE property: every ingested vector sits in exactly the cell a
    // fresh exact-integer argmin against the STORED centroids puts it
    val cents = Similarity.loadCents(spark, inc)
    val expected = Similarity
      .assignToCents(emb.filter($"vec_id" % 4 === 0), cents)
      .select($"vec_id", $"cent_id").as[(Long, Int)].collect().toMap
    val got = t.snapshot().where($"vec_id" % 4 === 0)
      .select($"vec_id", $"cent_id").as[(Long, Int)].collect().toMap
    assert(got === expected,
      s"${got.count { case (k, v) => expected.get(k).exists(_ != v) }} " +
        "ingested vector(s) landed in the wrong cell")
    val q = emb.filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0)
    val res = Similarity.ivfIndexQuery(spark, inc, q, k = 10,
      excludeVecId = 0L)
    // the probe reads ONLY the probed cells' partition files
    val scan = res.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    val rows = res.collect()
    assert(rows.length === 10)
    val total = t.snapshotInfo(t.latestVersion).files.size
    assert(scan.metrics("numFiles").value < total,
      s"probe read ${scan.metrics("numFiles").value} of $total files — no partition pruning")
    // determinism: a second query returns the identical ranking
    assert(Similarity.ivfIndexQuery(spark, inc, q, k = 10,
      excludeVecId = 0L).collect().toSeq === rows.toSeq)
  }

  test("trained IVF recalls at least as well as seed-centroid IVF") {
    val brute = Similarity.annTopKBrute(spark, sf).select($"vec_id").as[Long].collect().toSet
    val seed = Similarity.annIvf(spark, sf).select($"vec_id").as[Long].collect().toSet
    val trained = Similarity.annIvfTrained(spark, sf).select($"vec_id").as[Long].collect().toSet
    assert(trained.intersect(brute).size >= 4,
      s"trained IVF recalled ${trained.intersect(brute).size}/10")
    // Lloyd iterations should not hurt recall on this corpus
    assert(trained.intersect(brute).size >= seed.intersect(brute).size - 2)
  }

  test("quantized top-k tracks brute-force top-k closely") {
    val brute = Similarity.annTopKBrute(spark, sf, k = 10)
      .select($"vec_id").as[Long].collect().toSet
    val quant = Similarity.annQuantizedTopK(spark, sf, k = 10)
      .select($"vec_id").as[Long].collect().toSet
    // int8 codes keep ~2 decimal places of cosine — near-total overlap
    assert(quant.intersect(brute).size >= 7,
      s"quantized recalled ${quant.intersect(brute).size}/10")
  }

  test("PQ/ADC top-k overlaps exact nearest neighbors") {
    graft.functions.VectorExprs.register(spark)
    val pq = Similarity.annPqTopK(spark, sf, k = 10)
      .select($"vec_id").as[Long].collect()
    assert(pq.length === 10)
    // exact L2 top-10 on the same scaled-integer vectors
    val qemb = Tables.load(spark, sf, "embeddings")
      .select($"vec_id", transform($"embedding",
        x => floor(x.cast("double") * 1000000.0).cast("long")).as("qv"))
    val q = qemb.where($"vec_id" === 0).select($"qv").as[Seq[Long]].head()
    val exact = qemb.where($"vec_id" =!= 0)
      .select($"vec_id",
        graft.functions.VectorExprs.vec_l2sq_long($"qv", typedLit(q)).as("d"))
      .orderBy($"d", $"vec_id").limit(10).select($"vec_id").as[Long].collect()
    // 8-byte codes vs 256-byte vectors: meaningful but lossy — on this
    // near-random corpus untrained codebooks still recall a few
    assert(pq.toSet.intersect(exact.toSet).size >= 2,
      s"PQ recalled ${pq.toSet.intersect(exact.toSet).size}/10")
  }

  test("stratified sample respects per-stratum rates and determinism") {
    val docs = Tables.load(spark, sf, "documents")
    val sample = TextAnalysis.sampleStratified(spark, sf)
    val totals = docs.groupBy($"lang").count().as[(String, Long)].collect().toMap
    val kept = sample.groupBy($"lang").count().as[(String, Long)].collect().toMap
    for ((lang, total) <- totals if total >= 50) {
      val rate = kept.getOrElse(lang, 0L).toDouble / total
      val want = if (lang == "en") 0.4 else if (lang == "fr" || lang == "de") 0.7 else 1.0
      assert(math.abs(rate - want) < 0.15, s"$lang: kept $rate, want ~$want")
    }
    // same docs survive on a re-run (hash-based, no RNG)
    val again = TextAnalysis.sampleStratified(spark, sf)
      .select($"doc_id").as[Long].collect().toSet
    assert(again === sample.select($"doc_id").as[Long].collect().toSet)
  }

  test("domain mix: binding domain caps the budget, rates track " +
      "weights, sample is deterministic") {
    val plan = TextAnalysis.domainMix(spark, sf).cache()
    val rows = plan.select($"source", $"w", $"avail_chars", $"need_chars",
      $"rate_ppm", $"picked_docs", $"avail_docs")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.length === 20)
    // the solver never asks a domain for more than it has, and the
    // BINDING domain is sampled at (or within one floor step of) 100%
    rows.foreach { case (s, _, avail, need, ppm, picked, availDocs) =>
      assert(need <= avail, s"$s overdrawn: $need > $avail")
      assert(ppm <= 1000000L && picked <= availDocs)
    }
    assert(rows.map(_._5).max >= 999000L,
      "no binding domain near rate 1.0 — the budget solve is not tight")
    // need_chars per unit weight is equal across domains (±1 floor)
    val perW = rows.map(r => r._4.toDouble / r._2)
    assert(perW.max - perW.min <= 1.0, s"uneven per-weight need: $perW")
    // the 20-row mix plan joins the corpus via BROADCAST — the corpus
    // side must never shuffle on source at 100 TB
    val phys = plan.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin"),
      s"plan join is not broadcast:\n$phys")
    // deterministic: a re-run picks the identical per-domain sample
    val again = TextAnalysis.domainMix(spark, sf)
      .select($"source", $"picked_docs", $"picked_docid_sum")
      .as[(String, Long, Long)].collect().toSet
    assert(again === plan.select($"source", $"picked_docs",
      $"picked_docid_sum").as[(String, Long, Long)].collect().toSet)
    plan.unpersist()
  }

  test("pack bins preserve tokens and form contiguous doc ranges") {
    val bins = TextAnalysis.packBins(spark, sf).cache()
    val docs = Tables.load(spark, sf, "documents")
    val totalTokens = docs.select(
      sum(size(regexp_extract_all($"text", lit("\\S+"), lit(0))).cast("long")))
      .as[Long].head()
    assert(bins.agg(sum($"bin_tokens")).as[Long].head() === totalTokens)
    // within a lang, bins cover disjoint, ordered doc_id ranges
    val ranges = bins.orderBy($"lang", $"bin_id")
      .select($"lang", $"first_doc", $"last_doc")
      .as[(String, Long, Long)].collect()
    ranges.groupBy(_._1).values.foreach { rs =>
      rs.sliding(2).foreach {
        case Array((_, _, lastA), (_, firstB, _)) => assert(lastA < firstB)
        case _ =>
      }
    }
    // every bin except possibly a lang's last starts before its quota line
    assert(bins.where($"n_docs" <= 0).count() === 0)
  }

  test("as-of join matches a per-row reference on a sample") {
    val out = TemporalJoins.asofEventsOrders(spark, sf)
      .where($"user_id" === 7).select($"ts", $"matched_orderdate")
      .as[(java.sql.Timestamp, java.sql.Timestamp)].collect()
    val orders = Tables.load(spark, sf, "orders").where($"o_custkey" === 7)
      .select($"o_orderdate").as[java.sql.Timestamp].collect()
    out.foreach { case (ts, m) =>
      val expect = orders.filter(!_.after(ts)).sortBy(_.getTime).lastOption.orNull
      assert(m === expect)
    }
  }

  test("multimodal extraction is deterministic and schema-stable") {
    val a = Multimodal.extractFeatures(spark, sf).orderBy("media_id").collect()
    val b = Multimodal.extractFeatures(spark, sf).orderBy("media_id").collect()
    assert(a === b)
    assert(a.length === Tables.load(spark, sf, "documents").count())
  }

  test("frame sampling covers payloads at the configured stride") {
    val frames = Multimodal.frameSample(spark, sf).cache()
    val media = Multimodal.mediaTable(spark, sf)
      .select($"media_id", length($"payload").as("n"))
    // every media row with bytes yields ceil(n/stride) frames
    val got = frames.groupBy($"media_id").count()
    val want = media.where($"n" > 0)
      .select($"media_id", ceil($"n" / 128.0).cast("long").as("count"))
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
    // frames never exceed the frame size and sums bound by 255·len
    assert(frames.where($"frame_len" > 64 ||
      $"byte_sum" > $"frame_len" * 255).count() === 0)
  }

  test("frame near-dup block join equals brute-force hamming over " +
      "the frame signatures") {
    val sigs = Multimodal.frameSignatures(spark, sf).cache()
    val got = Multimodal.frameNearDup(spark, sf)
      .select($"media_a", $"frame_a", $"media_b", $"frame_b", $"hamming")
      .as[(Long, Int, Long, Int, Int)].collect().toSet
    // brute force: ALL frame pairs within hamming 3, no block trick
    val a = sigs.select($"media_id".as("ma"), $"frame_idx".as("fa"),
      $"simhash".as("sa"))
    val b = sigs.select($"media_id".as("mb"), $"frame_idx".as("fb"),
      $"simhash".as("sb"))
    val want = a.crossJoin(b)
      .where($"ma" < $"mb" || ($"ma" === $"mb" && $"fa" < $"fb"))
      .withColumn("hamming",
        bit_count($"sa".bitwiseXOR($"sb")).cast("int"))
      .where($"hamming" <= 3)
      .select($"ma", $"fa", $"mb", $"fb", $"hamming")
      .as[(Long, Int, Long, Int, Int)].collect().toSet
    assert(got === want,
      s"block join lost ${(want -- got).size} / invented ${(got -- want).size}")
    assert(got.nonEmpty, "the corpus should contain near-dup frames")
    // self-equal frames never pair with themselves
    assert(got.forall { case (ma, fa, mb, fb, _) =>
      ma < mb || (ma == mb && fa < fb) })
    sigs.unpersist()
  }

  test("frame embeddings feed the IVF index machinery unchanged: " +
      "build, partition-pruned query, brute-force score agreement") {
    val emb = Multimodal.frameEmbeddings(spark, sf)
      .select($"vec_id", concat(lit("m"), $"media_id").as("label"),
        $"embedding")
    val n = emb.count()
    assert(n > 50, s"setup: expected a real frame corpus, got $n")
    val idx = java.nio.file.Files
      .createTempDirectory("graft_frameivf_").resolve("idx").toString
    Similarity.ivfIndexBuild(spark, idx, emb, nCentroids = 8)
    val q = emb.where($"vec_id" === 0L)
      .select($"embedding").head().getSeq[Float](0)
    val got = Similarity.ivfIndexQuery(spark, idx, q, k = 10,
      excludeVecId = 0L)
      .select($"cos_sim").as[Double].collect()
    assert(got.length === 10)
    // byte-class histograms are degenerate (many exact cosine ties),
    // so assert on SCORES, which are tie-free facts: the IVF answer's
    // best equals the brute best, and being a probed-cell SUBSET its
    // k-th best never beats brute's k-th
    val brute = Multimodal.frameAnnTopK(spark, sf)
      .select($"cos_sim").as[Double].collect()
    assert(got.head === brute.head,
      "IVF top-1 score diverged from brute force")
    assert(got.last <= brute.last + 1e-12,
      "a probed-cell subset cannot out-score brute force at rank k")
  }

  test("frame embeddings feed the IVF+PQ machinery unchanged: " +
      "built, code-ranked, exact-reranked") {
    // the r16-candidate composition: the 8-dim byte-class frame
    // embeddings divide evenly into m=8 subspaces, so the IVFADC
    // layout applies to frames with no adapter
    val emb = Multimodal.frameEmbeddings(spark, sf)
      .select($"vec_id", $"embedding")
    val idx = java.nio.file.Files
      .createTempDirectory("graft_framepq_").resolve("idx").toString
    Similarity.ivfPqIndexBuild(spark, idx, emb, nCentroids = 8)
    val q = emb.where($"vec_id" === 0L)
      .select($"embedding").head().getSeq[Float](0)
    val got = Similarity.ivfPqIndexQuery(spark, idx, q, k = 10,
      excludeVecId = 0L)
      .select($"cos_sim").as[Double].collect()
    assert(got.length === 10)
    val brute = Multimodal.frameAnnTopK(spark, sf)
      .select($"cos_sim").as[Double].collect()
    // exact-duplicate frames exist in this corpus, so the query's
    // twins carry ADC distance 0, top the shortlist, and the exact
    // re-rank recovers the brute top score; the rank-k subset bound
    // holds as for the flat composition
    assert(got.head === brute.head,
      "ADC cascade top-1 score diverged from brute force")
    assert(got.last <= brute.last + 1e-12,
      "a shortlist subset cannot out-score brute force at rank k")
  }

  test("filtered frame retrieval: the media filter saturates the " +
      "probe expansion past the cell geometry, answer ≡ " +
      "filter-then-brute-force") {
    graft.functions.VectorExprs.register(spark)
    val emb = Multimodal.frameEmbeddings(spark, sf)
    // the saturation arithmetic the serve will compute, asserted on
    // the LIVE counts: testdata drift that un-saturates the probe
    // must fail here, not silently weaken the driver oracle
    val total = emb.count()
    val matching = emb.where($"media_id" % 10 === 3).count()
    assert(matching > 10L, s"setup: filter keeps a real population")
    assert((4L * total + matching - 1L) / matching >= 16L,
      s"ceil(4·$total/$matching) must cover the 16-cell geometry")
    val got = Multimodal.frameAnnFilteredScenario(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .toSet
    val q = emb.where($"media_id" === 0L && $"frame_idx" === 0)
      .select($"embedding").head().getSeq[Float](0)
    val expected = emb
      .where($"media_id" % 10 === 3 && $"vec_id" =!= 0L)
      .select($"media_id", $"frame_idx",
        round(graft.functions.VectorExprs
          .vec_cosine($"embedding", typedLit(q))
          .cast("decimal(18,12)"), 6).cast("double").as("cos_sim"))
      .orderBy($"cos_sim".desc, $"media_id", $"frame_idx")
      .limit(10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .toSet
    assert(got === expected,
      "filtered frame serve diverged from filter-then-brute-force")
  }

  test("quality survivorship elects the longest cluster member, " +
      "ties to the smaller id, singletons elect themselves") {
    val base = "alpha beta gamma delta epsilon"
    val docs = Seq(
      (1L, base),                              // 5 words
      (2L, base + " zeta eta"),                // near-dup of 1, LONGER
      (3L, "completely unrelated text entirely"), // singleton
      (4L, "one two three four five six seven"),
      (5L, "one two three four five six seven")  // exact copy: tie
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_qbest_")
    docs.write.parquet(dir.resolve("documents.parquet").toString)
    val out = Dedup.clusterSurvivorsByQuality(spark, dir.toString)
      .as[(Long, Long, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // the LONGER member wins even with the larger id — the min-id
    // rule would have elected doc 1
    assert(out(1L) === ((2L, 0)), s"got ${out(1L)}")
    assert(out(2L) === ((2L, 1)))
    // singleton: its own survivor
    assert(out(3L) === ((3L, 1)))
    // equal quality: ties break to the SMALLER id (deterministic)
    assert(out(4L) === ((4L, 1)))
    assert(out(5L) === ((4L, 0)))
  }

  test("window-dup coverage marks exactly the corpus-repeated " +
      "positions: full copies, partial runs, within-doc repeats") {
    // an operator variant over a constructed frame isn't exposed —
    // stage a corpus as the documents table of a temp sf dir
    val words = (1 to 30).map(i => s"w$i")
    val run = words.take(10).mkString(" ") // one shared 10-token run
    val docs = Seq(
      (1L, words.mkString(" ")),  // 30 tokens
      (2L, words.mkString(" ")),  // exact copy of 1: all covered
      (3L, run + " zz1 zz2 zz3 zz4 zz5 zz6 zz7 zz8 zz9 zz10"), // run + 10 unique
      (4L, "aa1 aa2 aa3 aa4 aa5"),                              // < L tokens
      (5L, (1 to 3).flatMap(_ => Seq("r1 r2 r3 r4 r5 r6 r7 r8 r9 r10")).mkString(" "))) // within-doc repeat
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_windup_")
    docs.write.parquet(dir.resolve("documents.parquet").toString)
    val out = Dedup.windowDupCoverage(spark, dir.toString)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // docs 1 and 2 are exact copies: every window duplicated, full
    // coverage on both
    assert(out(1L) === ((30L, 30L, 1.0)))
    assert(out(2L) === ((30L, 30L, 1.0)))
    // doc 3 shares ONLY the 10-token run (present in docs 1/2/3):
    // positions 1..10 covered of 20
    assert(out(3L) === ((20L, 10L, 0.5)))
    // sub-L docs carry no windows: zero coverage, frac 0
    assert(out(4L) === ((5L, 0L, 0.0)))
    // WITHIN-doc repetition counts as duplication (the memorization
    // signal): doc 5 repeats its own 10-token run 3x — full coverage
    assert(out(5L) === ((30L, 30L, 1.0)))
  }

  test("DSIR importance: target-distribution-like docs outweigh " +
      "non-target docs, whatever their label") {
    // two disjoint vocabularies; doc 21 is LABELED de but speaks the
    // en vocabulary — importance must follow the CONTENT distribution
    val enWords = (1 to 12).map(i => s"target$i")
    val deWords = (1 to 12).map(i => s"andere$i")
    // every doc cycles the WHOLE vocabulary (offset by seed): a
    // one-word doc would skew the raw counts of its own word and
    // make the importance self-referential
    def sent(ws: Seq[String], seed: Int) =
      (0 until 24).map(j => ws((j + seed) % ws.size)).mkString(" ")
    val docs = ((1L to 10L).map(i => (i, sent(enWords, i.toInt), "en")) ++
      (11L to 20L).map(i => (i, sent(deWords, i.toInt), "de")) ++
      Seq((21L, sent(enWords, 21), "de")))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("web"))
      .withColumn("n_chars", length($"text"))
    val dir = java.nio.file.Files.createTempDirectory("graft_dsir_")
    docs.write.parquet(dir.resolve("documents.parquet").toString)
    val w = operators.TextAnalysis.dsirWeight(spark, dir.toString)
      .select($"doc_id", $"weight").as[(Long, Double)].collect().toMap
    val enAvg = (1L to 10L).map(w).sum / 10
    val deAvg = (11L to 20L).map(w).sum / 10
    assert(enAvg > deAvg,
      s"target-vocab docs must outweigh non-target ($enAvg vs $deAvg)")
    assert((11L to 20L).forall(i => w(21L) > w(i)),
      "the mislabeled target-LIKE doc must outweigh every true " +
        "non-target doc — importance follows content, not labels")
    assert(w(21L) > 0 && deAvg < 0,
      "signs: target-like positive, non-target negative")
  }

  test("perplexity scorer: predictable bigrams score low, novel " +
      "bigrams high; pair accounting exact; deterministic") {
    // docs 1-3 cycle ONE bigram pattern (the LM learns it cold);
    // doc 9's bigrams each occur once (maximally surprising)
    val docs = Seq(
      (1L, "alpha beta " * 20),
      (2L, "alpha beta " * 20),
      (3L, "alpha beta " * 20),
      (9L, "qqq www eee rrr ttt yyy uuu iii ooo ppp"),
      (10L, "solo")) // < 2 tokens: no pairs, no row
      .toDF("doc_id", "text")
    val out = operators.TextAnalysis.textPerplexityOf(docs)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(!out.contains(10L), "a 1-token doc has no bigram row")
    assert(out(1L)._1 === 39L, "n_pairs = tokens - 1")
    assert(out(9L)._1 === 9L)
    assert(out(1L)._2 < out(9L)._2,
      s"templated text must score LOWER nll than novel text " +
        s"(${out(1L)._2} vs ${out(9L)._2})")
    assert(out(1L) === out(2L) && out(2L) === out(3L),
      "identical docs must score identically")
    val again = operators.TextAnalysis.textPerplexityOf(docs)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(again === out, "perplexity must be deterministic")
  }

  test("langid marker scorer is confident on english-marker docs") {
    val df = operators.TextAnalysis.langId(spark, sf)
    // deterministic: prediction always set, one of the 4 classes
    assert(df.where(!$"lang_pred".isin("en", "de", "fr", "es")).count() === 0)
  }

  test("stripBoilerplate removes cross-doc template lines, keeps order") {
    val bp = "cookie banner: accept all"
    val docs = Seq(
      (1L, "web", s"intro one\n$bp\nbody A\nfooter x"),
      (2L, "web", s"$bp\nbody B\nfooter x"),
      (3L, "web", s"body C\n$bp\nfooter x"),
      (4L, "web", s"unique doc\nno chrome here"),
      (5L, "wiki", s"$bp\nwiki body"), // different source: its own counts
      (6L, "web", bp)                  // all-boilerplate doc survives empty
    ).toDF("doc_id", "source", "text")
    val out = operators.TextAnalysis.stripBoilerplate(docs, minDocs = 3)
      .as[(Long, String)].collect().toMap
    // both "cookie banner" (4 web docs) and "footer x" (3 web docs)
    // clear the minDocs=3 bar; body lines and order survive
    assert(out(1L) === "intro one\nbody A")
    assert(out(2L) === "body B")
    assert(out(3L) === "body C")
    assert(out(4L) === "unique doc\nno chrome here")
    assert(out(5L) === s"$bp\nwiki body") // wiki source: bp count = 1 there
    assert(out(6L) === "")
  }

  test("paragraphDedup keeps each duplicated line exactly once, at " +
      "its first occurrence, preserving order and short lines") {
    val para = "this exact paragraph repeats across several documents"
    val docs = Seq(
      (1L, s"intro one\n$para\nbody A\n--\n$para"), // within-doc repeat
      (2L, s"$para\nbody B\n--"),
      (3L, s"body C\n$para"),
      (4L, "unique doc\nno duplicates here at all")
    ).toDF("doc_id", "text")
    val out = operators.TextAnalysis.paragraphDedup(docs, minLen = 16)
      .as[(Long, String, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // the FIRST occurrence — doc 1, position 1 — survives; the
    // within-doc repeat at position 4 and the copies in docs 2-3 strip
    assert(out(1L)._1 === s"intro one\n$para\nbody A\n--")
    assert(out(1L)._2 === 1)
    // the short "--" separator (< minLen) keeps EVERYWHERE
    assert(out(2L)._1 === "body B\n--")
    assert(out(2L)._2 === 1)
    assert(out(3L) === (("body C", 1)))
    assert(out(4L) === (("unique doc\nno duplicates here at all", 0)))
    // dedup posture, not cleaning: the paragraph survives corpus-wide
    // exactly once
    val copies = out.values.map(_._1)
      .map(t => t.split("\n").count(_ == para)).sum
    assert(copies === 1)
  }

  test("hash-keyed shuffles (windowDupCoverage, paragraphDedup) are " +
      "value-identical to the text-keyed forms") {
    import org.apache.spark.sql.functions._
    // windowDupCoverage: the 120-bit md5 key pair stands in for the
    // raw window string — replay the TEXT-keyed pipeline and demand
    // identical per-doc coverage
    val l = 10
    val toks = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
          .as("w"))
    val wins = toks.where(size(col("w")) >= l)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(w) - ${l - 1}), " +
          s"i -> struct(i as i, array_join(slice(w, i, $l), ' ') as win))"))
        .as("p"))
      .select(col("doc_id"), col("p.i").as("i"), col("p.win").as("win"))
    val dup = wins.groupBy(col("win")).agg(count(lit(1)).as("c"))
      .where(col("c") >= 2).select(col("win"))
    val covered = wins.join(dup, Seq("win"))
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + (l - 1))).as("pos"))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_covered"))
    val textKeyed = toks
      .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val hashKeyed = Dedup.windowDupCoverage(spark, sf, l)
      .select(col("doc_id"), col("n_tokens"), col("n_covered"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(hashKeyed === textKeyed,
      "hash-keyed window coverage diverged from the text-keyed form")
    // paragraphDedup: same demand over a corpus with cross-doc and
    // within-doc duplicated lines (the scenario's two-line synthesis)
    val d = Tables.load(spark, sf, "documents").limit(200)
    val donors = d.select(col("doc_id").as("sid"), col("text").as("stext"))
    val docs = d.join(donors, col("sid") === pmod(col("doc_id"), lit(50L)))
      .select(col("doc_id"),
        concat(col("text"), lit("\n"), col("stext")).as("text"))
    val linesT = docs.select(col("doc_id"),
      posexplode(split(col("text"), "\n")).as(Seq("idx", "line")))
    val firstT = linesT.where(length(col("line")) >= 16)
      .groupBy(col("line"))
      .agg(min(struct(col("doc_id").as("doc_id"), col("idx").as("idx")))
        .as("f"))
    val keptT = linesT.join(firstT, Seq("line"), "left")
      .where(col("f").isNull ||
        (col("f.doc_id") === col("doc_id") && col("f.idx") === col("idx")))
    val reT = keptT.groupBy(col("doc_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("idx"), col("line")))),
          x => x.getField("line")), "\n").as("clean_text"))
    val expectedPd = docs.select(col("doc_id"))
      .join(reT, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val gotPd = operators.TextAnalysis.paragraphDedup(docs)
      .select(col("doc_id"), col("clean_text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(gotPd === expectedPd,
      "hash-keyed paragraphDedup diverged from the text-keyed form")
  }

  test("exportShards: the bucket-prefix distributed cumsum is value-" +
      "identical to the global-window form and shards are contiguous") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sf, "documents")
    // bucketSize 64 over a 500-doc corpus forces MANY buckets, so the
    // driver prefix fold genuinely composes with the in-bucket windows
    val got = operators.TextAnalysis
      .exportShards(docs, shardTokens = 2048L, bucketSize = 64L)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val expected = docs.select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
          .cast("long").as("n_tokens"))
      .withColumn("tokens_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("shard_id", expr("tokens_before div 2048L"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    assert(got === expected,
      "distributed prefix sum diverged from the global-window cumsum")
    // shards are a CONTIGUOUS partition of the export order: shard k's
    // first doc follows shard k-1's last
    val manifest = operators.TextAnalysis
      .exportShardsManifest(spark, sf)
      .orderBy(col("shard_id"))
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
    assert(manifest.nonEmpty)
    manifest.sliding(2).foreach {
      case Array((_, _, lastA), (_, firstB, _)) =>
        assert(firstB > lastA, "shard doc ranges must be contiguous")
      case _ =>
    }
  }

  test("prefixSum: the bucket-of-buckets fold (driver pane O(√n)) is " +
      "value-identical to the global window across MANY super-buckets") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sf, "documents")
    val d = docs.select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
          .cast("long").as("n_tokens"))
      .withColumn("__b", expr("doc_id div 8L"))
    // superSize 4 over 500 docs → ~16 super-buckets: the super-pane
    // prefix genuinely composes with the bounded per-bucket windows
    val got = operators.TextAnalysis
      .prefixSum(d, Seq("doc_id"), startOffset = 7L, superSize = 4L)
      .select(col("doc_id"), col("tokens_before"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val expected = d
      .withColumn("tokens_before",
        lit(7L) + coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("tokens_before"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected,
      "two-level prefix fold diverged from the global-window cumsum")
  }

  test("exportShardsShuffled seeds: epoch reshuffle draws a fresh " +
      "deterministic permutation per seed, seed 0 is the legacy order, " +
      "each seed ≡ its global-window replay") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sf, "documents")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("tokens_before"), col("shard_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val s0 = rows(operators.TextAnalysis.exportShardsShuffled(docs))
    val s1 = rows(operators.TextAnalysis
      .exportShardsShuffled(docs, seed = 1L))
    val s1b = rows(operators.TextAnalysis
      .exportShardsShuffled(docs, seed = 1L))
    assert(s1 === s1b, "same seed must replay the identical export")
    assert(s0 !== s1, "different seeds must draw different permutations")
    // seed 1 ≡ the global-window cumsum over the '1:'-prefixed order
    val h = expr("conv(substring(md5(concat('1:', CAST(doc_id AS " +
      "STRING))), 1, 15), 16, 10)").cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__h"), col("doc_id"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val expected = docs.select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
          .cast("long").as("n_tokens"))
      .withColumn("__h", h)
      .withColumn("tokens_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("shard_id", expr("tokens_before div 2048L"))
      .select(col("doc_id"), col("tokens_before"), col("shard_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(s1 === expected,
      "seeded shuffle diverged from its global-window replay")
  }

  test("exportShards TOKENIZER bpe: the budget measure swaps without " +
      "touching the pack plan — ≡ global window over bpe counts") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sf, "documents")
    val got = operators.TextAnalysis
      .exportShards(docs, tokenizer = "bpe")
      .select(col("doc_id"), col("n_tokens"), col("shard_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val expected = docs.select(col("doc_id"),
        size(regexp_extract_all(col("text"),
          lit("[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]"), lit(0)))
          .cast("long").as("n_tokens"))
      .withColumn("tokens_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("shard_id", expr("tokens_before div 2048L"))
      .select(col("doc_id"), col("n_tokens"), col("shard_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got === expected,
      "bpe-budgeted export diverged from the global-window cumsum")
    val err = intercept[IllegalArgumentException] {
      operators.TextAnalysis.exportShards(docs, tokenizer = "nope")
        .count()
    }
    assert(err.getMessage.contains("tokenizer"), err.getMessage)
  }

  test("exportShardsMaterialize: shard content lands partitioned by " +
      "shard_id in training order, manifest ≡ the assignment manifest, " +
      "re-run overwrites") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sf, "documents")
    val out = java.nio.file.Files
      .createTempDirectory("graft_expmat_spec_").resolve("shards").toString
    def manifestCells(df: org.apache.spark.sql.DataFrame) = df
      .select(col("shard_id"), col("n_docs").cast("long"),
        col("shard_tokens"), col("first_doc"), col("last_doc"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val m = operators.TextAnalysis.exportShardsMaterialize(docs, out)
    assert(manifestCells(m) === manifestCells(
      operators.TextAnalysis.exportShardsManifest(spark, sf)))
    // every doc landed exactly once, with its text intact
    val back = spark.read.parquet(out)
    assert(back.count() === docs.count())
    assert(back.select(col("doc_id"), md5(col("text"))).distinct()
      .intersectAll(docs.select(col("doc_id"), md5(col("text"))))
      .count() === docs.count(),
      "materialized text must match the source byte-for-byte")
    // TRAINING ORDER: inside each shard directory the physical row
    // order is tokens_before-ascending (one writer task per shard,
    // sortWithinPartitions — the order a trainer streams)
    val shardDirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard_id="))
    assert(shardDirs.length > 1, "setup: expected several shards")
    shardDirs.take(3).foreach { d =>
      val seq = spark.read.parquet(d.toString)
        .select(col("tokens_before")).collect().map(_.getLong(0))
      assert(seq.sameElements(seq.sorted),
        s"${d.getName}: physical order must be training order")
    }
    // idempotent re-run: overwrite, not append
    operators.TextAnalysis.exportShardsMaterialize(docs, out)
    assert(spark.read.parquet(out).count() === docs.count(),
      "re-run must overwrite the materialized export")
  }

  test("indexQueryBatch: the routed batch equals the single-vector " +
      "server per query at the SAME pruned nprobe (the regime the " +
      "saturated driver oracle cannot see)") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val emb = Tables.load(spark, sf, "embeddings")
    val idx = java.nio.file.Files
      .createTempDirectory("graft_batchq_").resolve("idx").toString
    Similarity.ivfIndexBuild(spark, idx, emb)
    val queries = emb.where($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding")
    val batch = Similarity.indexQueryBatch(spark, idx, queries,
      k = 5, nprobe = 2)
      .select($"query_id", $"vec_id", $"cos_sim", $"rank")
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getInt(3))
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq }
    (0L until 4L).foreach { q =>
      val qv = emb.where($"vec_id" === q).select($"embedding")
        .head().getSeq[Float](0).toSeq
      val single = Similarity.ivfIndexQuery(spark, idx, qv, k = 5,
        nprobe = 2, excludeVecId = q)
        .select($"vec_id", $"cos_sim").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(q) === single,
        s"query $q: batch serve diverged from the single-vector serve")
    }
  }

  test("indexQueryBatch PQ: the batch ADC cascade equals the single-" +
      "vector server per query at the SAME pruned nprobe and a " +
      "shortlist the CODE stage genuinely decides") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val emb = Tables.load(spark, sf, "embeddings")
    val idx = java.nio.file.Files
      .createTempDirectory("graft_batchpq_").resolve("idx").toString
    Similarity.ivfPqIndexBuild(spark, idx, emb)
    val queries = emb.where($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding")
    val batch = Similarity.indexQueryBatch(spark, idx, queries,
      k = 5, nprobe = 2, shortlist = 8)
      .select($"query_id", $"vec_id", $"cos_sim", $"rank")
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getInt(3))
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq }
    (0L until 4L).foreach { q =>
      val qv = emb.where($"vec_id" === q).select($"embedding")
        .head().getSeq[Float](0).toSeq
      val single = Similarity.ivfPqIndexQuery(spark, idx, qv, k = 5,
        nprobe = 2, shortlist = 8, excludeVecId = q)
        .select($"vec_id", $"cos_sim").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(q) === single,
        s"query $q: batch ADC diverged from the single-vector cascade")
    }
  }

  test("packSequences: spans tile the concatenated token stream — " +
      "≡ global-window arithmetic, contiguous, offsets in range") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sf, "documents")
    val got = operators.TextAnalysis
      .packSequences(docs, seqLen = 512L, bucketSize = 64L)
    val rows = got.orderBy(col("doc_id")).collect()
    // span arithmetic: tokens_before decomposes into (start_seq,
    // start_offset), end_seq covers the doc's last token
    rows.foreach { r =>
      val (nt, tb, ss, so, es, ns) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(tb === ss * 512L + so, s"doc ${r.getLong(0)}: bad offset")
      assert(so >= 0L && so < 512L)
      assert(es === (tb + math.max(nt, 1L) - 1L) / 512L)
      assert(ns === es - ss + 1L && ns >= 1L)
    }
    // contiguity: each doc starts exactly where the previous ended
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getLong(2) === a.getLong(2) + a.getLong(1),
          "token stream must be contiguous across docs")
      case _ =>
    }
    // ≡ the global-window cumsum (small bucketSize forces many buckets)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val expected = docs.select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
          .cast("long").as("n_tokens"))
      .withColumn("tokens_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    rows.foreach(r => assert(r.getLong(2) === expected(r.getLong(0)),
      "distributed sequence packing diverged from the global window"))
  }

  test("seqManifest: every sequence but the ragged tail fills to " +
      "seqLen, fills sum to the corpus total, carry-in ≤ 1") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sf, "documents")
    val m = operators.TextAnalysis.seqManifest(docs, seqLen = 512L)
      .orderBy(col("seq_id")).collect()
    assert(m.length > 2, "setup: expected several sequences")
    // seq ids are dense 0..N-1
    m.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) === i.toLong, "sequence ids must be dense") }
    m.init.foreach { r =>
      assert(r.getLong(2) === 512L,
        s"seq ${r.getLong(0)}: every non-tail sequence is full") }
    assert(m.last.getLong(2) <= 512L)
    val corpusTokens = docs.agg(sum(
      size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
        .cast("long"))).head().getLong(0)
    assert(m.map(_.getLong(2)).sum === corpusTokens,
      "sequence fills must sum to the corpus token total")
    // at most one doc can carry across any boundary
    m.foreach(r => assert(r.getLong(3) <= 1L, "carry-in is 0 or 1"))
    // a sequence holding d docs with c carrying in starts d - c docs
    val starts = m.map(r => r.getInt(1).toLong - r.getLong(3)).sum
    assert(starts === docs.where(
      size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))) > 0)
      .count(), "every nonempty doc starts in exactly one sequence")
  }

  test("packSequencesMaterialize: landed sequences reconstruct the " +
      "token stream exactly, manifest ≡ the metadata rollup, re-run " +
      "overwrites") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sf, "documents")
    val out = java.nio.file.Files
      .createTempDirectory("graft_seqmat_spec_").resolve("seqs").toString
    val m = operators.TextAnalysis
      .packSequencesMaterialize(docs, out, seqLen = 128L)
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .select(col("seq_id"), col("n_docs").cast("long"),
        col("filled_tokens"), col("n_carry_in"), col("first_doc"),
        col("last_doc"))
      .collect().map(_.toSeq).toSet
    assert(cells(m) === cells(
      operators.TextAnalysis.seqManifest(docs, seqLen = 128L)),
      "re-derived manifest diverged from the metadata rollup")
    // EXACT stream reconstruction: the landed sequence texts, joined
    // in seq_id order, equal the docs' token streams joined in doc_id
    // order (single-spaced normalization on both sides)
    val gotStream = spark.read.parquet(out).orderBy(col("seq_id"))
      .select(col("seq_text")).collect().map(_.getString(0))
      .mkString(" ")
    val expStream = docs.where(
        size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))) > 0)
      .orderBy(col("doc_id"))
      .select(concat_ws(" ",
        regexp_extract_all(col("text"), lit("\\S+"), lit(0))))
      .collect().map(_.getString(0)).mkString(" ")
    assert(gotStream === expStream,
      "landed sequences must reconstruct the token stream exactly")
    // every sequence row is one training batch: provenance arrays are
    // doc_id-ordered and carry_in matches a nonzero start offset
    val rows = spark.read.parquet(out).collect()
    rows.foreach { r =>
      val ids = r.getSeq[Long](r.fieldIndex("doc_ids"))
      assert(ids.sorted === ids, "doc_ids must ride in stream order")
      // doc_starts VALUES (not just presence): aligned with doc_ids,
      // first at 0 (fragments tile the sequence), strictly
      // increasing, and — since the landed text is single-spaced —
      // the boundary tokens re-derived by cutting seq_text's token
      // array at doc_starts must tile it exactly
      val starts = r.getSeq[Long](r.fieldIndex("doc_starts"))
      assert(starts.length === ids.length,
        "doc_starts must align with doc_ids")
      assert(starts.headOption.contains(0L),
        "the first fragment must start at offset 0")
      assert(starts.sliding(2).forall(p => p.length < 2 || p(0) < p(1)),
        "doc_starts must strictly increase")
      val toks = r.getString(r.fieldIndex("seq_text"))
        .split(" ").filter(_.nonEmpty)
      assert(starts.forall(_ < toks.length),
        "doc_starts must sit inside the landed token array")
    }
    // re-run overwrites (idempotent)
    operators.TextAnalysis.packSequencesMaterialize(docs, out,
      seqLen = 128L)
    assert(spark.read.parquet(out).count() === rows.length.toLong,
      "re-run must overwrite the materialized sequences")
    // leading/multiple whitespace must not shift the fragment slice:
    // the token ARRAY and the token COUNTS must share the \S+ measure
    // (split("\s+") emits a leading EMPTY element and silently drops
    // the doc's last token)
    val tricky = Seq((1L, "  alpha beta"), (2L, "gamma  delta epsilon"))
      .toDF("doc_id", "text")
    val out2 = java.nio.file.Files
      .createTempDirectory("graft_seqws_spec_").resolve("seqs").toString
    operators.TextAnalysis.packSequencesMaterialize(tricky, out2,
      seqLen = 3L)
    val got2 = spark.read.parquet(out2).orderBy(col("seq_id"))
      .select(col("seq_text")).collect().map(_.getString(0))
      .mkString(" ")
    assert(got2 === "alpha beta gamma delta epsilon",
      "whitespace-irregular docs must reconstruct token-exactly")
  }

  test("exportShardsIngest: a second id sequence targeting the same " +
      "export path refuses instead of overlapping token ranges") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sf, "documents")
    val stage = java.nio.file.Files
      .createTempDirectory("graft_expown_").toString
    operators.TextAnalysis.exportShardsIngest(spark, stage,
      docs.where($"doc_id" < 100), 0L)
    // a second pipeline's batch 0 collides with the landed id: the
    // isReplay read would skip the out-of-order guard and land
    // token ranges overlapping the owner's batch 0
    val err = intercept[IllegalArgumentException] {
      operators.TextAnalysis.exportShardsIngest(spark, stage,
        docs.where($"doc_id" >= 100 && $"doc_id" < 200), 0L,
        pipelineId = ":other")
    }
    assert(err.getMessage.contains("owned by"), err.getMessage)
    // the owning sequence continues unharmed
    operators.TextAnalysis.exportShardsIngest(spark, stage,
      docs.where($"doc_id" >= 100 && $"doc_id" < 200), 1L)
    assert(graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(stage, "assignments").toString)
      .snapshot().count() === 200L)
  }

  test("exportShardsShuffled hash buckets: a NON-default bucket count " +
      "(and the auto-sized default) are value-identical to the global-" +
      "window replay — the fan-out knob never moves values") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sf, "documents")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("tokens_before"), col("shard_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val auto = rows(operators.TextAnalysis.exportShardsShuffled(docs))
    // a NON-default shift: 64 hash-range buckets instead of the
    // auto-sized count (and than the old fixed 4096)
    val b64 = rows(operators.TextAnalysis
      .exportShardsShuffled(docs, hashBuckets = 64L))
    val b4096 = rows(operators.TextAnalysis
      .exportShardsShuffled(docs, hashBuckets = 4096L))
    assert(b64 === auto, "bucket count 64 moved export values")
    assert(b4096 === auto, "the legacy 4096 shift moved export values")
    // a non-power-of-two request rounds UP (the next pow2 divides the
    // 60-bit space exactly — order alignment needs equal widths)
    val b100 = rows(operators.TextAnalysis
      .exportShardsShuffled(docs, hashBuckets = 100L))
    assert(b100 === auto, "rounded bucket count moved export values")
    // the mixture composition honors the same knob
    val weights = operators.TextAnalysis.scenarioMixture
    def mixRows(hb: Long) = operators.TextAnalysis
      .exportShardsMixture(docs, weights, hashBuckets = hb)
      .select(col("doc_id"), col("rep"), col("tokens_before"),
        col("shard_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(mixRows(64L) === mixRows(0L),
      "mixture bucket count moved export values")
  }

  test("exportShardsIngest: a LEGACY state table (no pipeline column) " +
      "is refused with an error that says to recreate the export") {
    val docs = Tables.load(spark, sf, "documents")
    val stage = java.nio.file.Files
      .createTempDirectory("graft_expadopt_").toString
    operators.TextAnalysis.exportShardsIngest(spark, stage,
      docs.where($"doc_id" < 100), 0L)
    // rebuild the state table in the PRE-pipeline-column 3-col shape
    val stPath = java.nio.file.Paths.get(stage, "state")
    val legacyRows = graft.tables.GraftTable
      .load(spark, stPath.toString).snapshot()
      .select($"batch_id", $"end_offset", $"max_doc")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def rmTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    rmTree(stPath)
    graft.tables.GraftTable.create(spark, stPath.toString,
      legacyRows.toIndexedSeq
        .toDF("batch_id", "end_offset", "max_doc"))
    val asg = graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(stage, "assignments").toString)
    val v = asg.latestVersion
    val err = intercept[IllegalArgumentException] {
      operators.TextAnalysis.exportShardsIngest(spark, stage,
        docs.where($"doc_id" >= 100 && $"doc_id" < 200), 1L,
        pipelineId = ":adopter")
    }
    assert(err.getMessage.contains("no 'pipeline' column") &&
      err.getMessage.contains("recreate the export"), err.getMessage)
    assert(asg.latestVersion === v, "a refused batch must land nothing")
  }

  test("packTokensMaterialize: landed token-id arrays re-derive the " +
      "sequence manifest, the vocabulary ranks by (count desc, token) " +
      "with UNK 0, and subword measures are accepted") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sf, "documents")
    val root = java.nio.file.Files.createTempDirectory("graft_tokmat_s_")
    val out = root.resolve("seqs").toString
    val m = operators.TextAnalysis.packTokensMaterialize(docs, out,
      seqLen = 128L, vocabSize = 512)
    // span math ≡ the metadata manifest at the same seqLen (fill
    // counts are ARRAY LENGTHS on the landed side)
    def spans(df: org.apache.spark.sql.DataFrame) = df
      .select(col("seq_id"), col("n_docs").cast("long"),
        col("filled_tokens"), col("n_carry_in").cast("long"),
        col("first_doc"), col("last_doc"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(spans(m) === spans(
      operators.TextAnalysis.seqManifest(docs, seqLen = 128L)),
      "token-id pack diverged from the metadata manifest's span math")
    // id semantics: every landed id ∈ [0, V]; the rank-1 token's id
    // appears exactly as often as the token does corpus-wide (the
    // vocabulary lookup is checked through the landed content)
    val landed = spark.read.parquet(out)
      .select(explode(col("token_ids")).as("i"))
    assert(landed.where(col("i") < 0L || col("i") > 512L).count() === 0L)
    val vocab = operators.TextAnalysis.tokenVocab(docs, 512)
    val top = vocab.where(col("id") === 1L).head()
    assert(landed.where(col("i") === 1L).count() === top.getLong(2),
      "rank-1 id count must equal the rank-1 token's corpus count")
    // doc_starts are the mask boundaries: aligned with doc_ids,
    // starting at 0 (fragments tile the sequence), strictly
    // increasing, all inside the fill
    val landed0 = spark.read.parquet(out)
    assert(landed0.where(size(col("doc_starts")) =!= size(col("doc_ids")))
      .count() === 0L, "doc_starts must align with doc_ids")
    assert(landed0.where(element_at(col("doc_starts"), 1) =!= 0L)
      .count() === 0L, "the first fragment must start at offset 0")
    landed0.select(col("seq_id"), col("doc_starts"),
      size(col("token_ids")).as("fill")).collect().foreach { r =>
      val starts = r.getSeq[Long](1)
      assert(starts.sliding(2).forall(p =>
        p.length < 2 || p(0) < p(1)),
        s"seq ${r.getLong(0)}: starts must strictly increase")
      assert(starts.forall(_ < r.getInt(2)),
        s"seq ${r.getLong(0)}: starts must sit inside the fill")
    }
    // a tiny vocab sends almost everything to UNK but never changes
    // the span math
    val out1 = root.resolve("seqs1").toString
    val m1 = operators.TextAnalysis.packTokensMaterialize(docs, out1,
      seqLen = 128L, vocabSize = 1)
    assert(spans(m1) === spans(m), "vocab size must not move spans")
    assert(spark.read.parquet(out1)
      .select(explode(col("token_ids")).as("i"))
      .where(col("i") === 0L).count() > 0L, "OOV must map to UNK 0")
    // the bpe measure lands (id slicing needs no text re-assembly):
    // total filled tokens == the corpus bpe token total
    val out2 = root.resolve("seqs2").toString
    val m2 = operators.TextAnalysis.packTokensMaterialize(docs, out2,
      seqLen = 128L, vocabSize = 512, tokenizer = "bpe")
    val bpeTotal = docs.select(sum(size(regexp_extract_all(col("text"),
      lit("[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]"), lit(0))).cast("long")))
      .head().getLong(0)
    assert(m2.agg(sum(col("filled_tokens"))).head().getLong(0)
      === bpeTotal, "bpe pack must land every bpe token exactly once")
  }

  test("exportShardsMixtureMaterialize: each copy's content lands in " +
      "training order, the re-derived manifest ≡ the assignment " +
      "manifest, re-run overwrites") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sf, "documents")
    val weights = operators.TextAnalysis.scenarioMixture
    val out = java.nio.file.Files
      .createTempDirectory("graft_mixmat_spec_").resolve("shards")
      .toString
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .select(col("shard_id"), col("n_copies").cast("long"),
        col("shard_tokens"), col("first_doc"), col("last_doc"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val m = operators.TextAnalysis
      .exportShardsMixtureMaterialize(docs, weights, out)
    val assignManifest = operators.TextAnalysis.shardManifest(
        operators.TextAnalysis.exportShardsMixture(docs, weights))
      .withColumnRenamed("n_docs", "n_copies")
    assert(cells(m) === cells(assignManifest),
      "write-receipt manifest diverged from the assignment manifest")
    // every training COPY landed exactly once with its text intact
    val back = spark.read.parquet(out)
    val nCopies = operators.TextAnalysis
      .exportShardsMixture(docs, weights).count()
    assert(back.count() === nCopies)
    assert(back.select(col("doc_id"), col("rep")).distinct().count()
      === nCopies, "one landed row per (doc, rep) copy")
    // training order inside each shard directory
    val shardDirs = new java.io.File(
        out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard_id="))
    assert(shardDirs.length > 1, "setup: expected several shards")
    shardDirs.take(3).foreach { d =>
      val seq = spark.read.parquet(d.toString)
        .select(col("tokens_before")).collect().map(_.getLong(0))
      assert(seq.sameElements(seq.sorted),
        s"${d.getName}: physical order must be training order")
    }
    operators.TextAnalysis
      .exportShardsMixtureMaterialize(docs, weights, out)
    assert(spark.read.parquet(out).count() === nCopies,
      "re-run must overwrite the materialized mixture")
  }

  test("indexQueryBatch guard: a duplicated query_id refuses loudly; " +
      "a nondeterministic queries source answers correctly (the " +
      "routed pane is frozen before the cell set collects)") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val emb = Tables.load(spark, sf, "embeddings")
    val idx = java.nio.file.Files
      .createTempDirectory("graft_batchguard_").resolve("idx").toString
    Similarity.ivfIndexBuild(spark, idx, emb)
    // duplicated id: two embeddings under one query_id would merge
    // candidate pools into one ranked window — refuse, never rank
    val dup = emb.where($"vec_id" < 2)
      .select(lit(0L).as("query_id"), $"embedding")
    val err = intercept[IllegalArgumentException] {
      Similarity.indexQueryBatch(spark, idx, dup, k = 3, nprobe = 2)
        .count()
    }
    assert(err.getMessage.contains("query_id"), err.getMessage)
    // a NONDETERMINISTIC source (rand-derived filter) — the r17 shape
    // that could route outside the frozen cell set and silently lose
    // candidates — now freezes via the checkpointed pane: every
    // returned row's query is answered exactly as the single-vector
    // server answers it
    val nd = emb.where(rand(seed = 42L) < 0.5 && $"vec_id" < 8)
      .select($"vec_id".as("query_id"), $"embedding")
    val got = Similarity.indexQueryBatch(spark, idx, nd,
      k = 3, nprobe = 2)
      .select($"query_id", $"vec_id", $"cos_sim", $"rank").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getInt(3))
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq }
    assert(got.nonEmpty, "setup: the sampled batch must keep queries")
    got.keys.foreach { q =>
      val qv = emb.where($"vec_id" === q).select($"embedding")
        .head().getSeq[Float](0).toSeq
      val single = Similarity.ivfIndexQuery(spark, idx, qv, k = 3,
        nprobe = 2, excludeVecId = q)
        .select($"vec_id", $"cos_sim").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got(q) === single,
        s"query $q: frozen-pane batch serve diverged from the " +
          "single-vector serve")
    }
  }

  test("vocabInduct: top-V char n-grams score by coverage, lengths " +
      "stay in range, the cut is deterministic") {
    import org.apache.spark.sql.functions._
    val v = operators.TextAnalysis.vocabInduct(spark, sf).collect()
    assert(v.length === 64)
    v.foreach { r =>
      val (g, cnt, score) =
        (r.getString(0), r.getLong(1), r.getLong(2))
      assert(g.length >= 2 && g.length <= 5, s"gram $g out of range")
      assert(score === cnt * (g.length - 1), s"$g: score must be " +
        "coverage = count * (len - 1)")
    }
    // ordered by the selection criterion; the boundary tie-breaks on
    // the gram itself, so a re-run cuts identically
    v.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getLong(2) > b.getLong(2) ||
          (a.getLong(2) == b.getLong(2) &&
            a.getString(0) < b.getString(0)),
          "vocab must order by (score desc, gram)")
      case _ =>
    }
    val again = operators.TextAnalysis.vocabInduct(spark, sf).collect()
    assert(v.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq,
      "vocab induction must be deterministic")
  }

  test("packTokensMixtureMaterialize: every training copy's tokens " +
      "land exactly once in mixture order, provenance arrays align, " +
      "non-tail sequences are exactly full, re-run overwrites") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sf, "documents")
    val w = operators.TextAnalysis.scenarioMixture
    val out = java.nio.file.Files
      .createTempDirectory("graft_mixtok_spec_").resolve("seqs").toString
    val m = operators.TextAnalysis
      .packTokensMixtureMaterialize(docs, w, out)
    // conservation: the landed fills are exactly the mixture stream's
    // token total — every copy's tokens land once, none twice
    val total = operators.TextAnalysis.exportShardsMixture(docs, w)
      .agg(sum(col("n_tokens"))).head().getLong(0)
    assert(m.agg(sum(col("filled_tokens"))).head().getLong(0) === total)
    // all but the ragged tail are exactly full
    val fills = m.select(col("seq_id"), col("filled_tokens"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    fills.dropRight(1).foreach { case (s, f) =>
      assert(f === 128L, s"sequence $s must be exactly full") }
    // provenance arrays align per sequence; ids bounded by the vocab
    val landed = spark.read.parquet(out)
    assert(landed.where(size(col("doc_ids")) =!= size(col("reps")) ||
        size(col("doc_starts")) =!= size(col("doc_ids")))
      .count() === 0L, "doc_ids, reps and doc_starts must align")
    assert(landed.where(element_at(col("doc_starts"), 1) =!= 0L)
      .count() === 0L, "the first fragment must start at offset 0")
    assert(landed.select(explode(col("token_ids")).as("i"))
      .where(col("i") < 0L || col("i") > 512L).count() === 0L)
    // a repeated domain (es, weight 3) contributes 3 copies of each
    // of its docs across the landed provenance
    val esDoc = docs.where(col("lang") === "es")
      .select(col("doc_id")).head().getLong(0)
    val reps = landed
      .select(explode(arrays_zip(col("doc_ids"), col("reps"))).as("z"))
      .select(col("z.doc_ids").as("d"), col("z.reps").as("r"))
      .where(col("d") === esDoc).select(col("r")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(reps === Set(0L, 1L, 2L),
      "an es doc must land once per repetition copy")
    // re-run overwrites
    operators.TextAnalysis.packTokensMixtureMaterialize(docs, w, out)
    assert(operators.TextAnalysis
      .materializedMixtureTokenManifest(spark, out)
      .agg(sum(col("filled_tokens"))).head().getLong(0) === total,
      "re-run must overwrite the landed pack")
  }

  test("vocabSegments: greedy longest-match over the induced grams " +
      "agrees with an imperative reference scan; the vp measure " +
      "threads the metadata pack forms") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sf, "documents")
    val grams = operators.TextAnalysis.inducedGrams(spark, sf)
    val got = operators.TextAnalysis.vocabSegments(docs, grams)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val gset = grams.toSet
    val expected = docs.select(col("doc_id"), col("text")).collect()
      .map { r =>
        val words = "[a-z0-9]+".r
          .findAllIn(r.getString(1).toLowerCase).toSeq
        val cnt = words.map { w =>
          var pos = 0; var c = 0L
          while (pos < w.length) {
            val step = (5 to 2 by -1).find(n => pos + n <= w.length &&
              gset(w.substring(pos, pos + n))).getOrElse(1)
            pos += step; c += 1
          }
          c
        }.sum
        r.getLong(0) -> cnt
      }.toMap
    assert(got === expected,
      "relational greedy encode diverged from the imperative scan")
    assert(got.values.sum > 0L, "setup: the corpus must encode")
    // the vp measure rides the metadata pack family unchanged: the
    // packed stream's token total IS the encode total
    val packed = operators.TextAnalysis.packSequences(docs,
      seqLen = 128L, tokenizer = "vp", vpGrams = grams)
    assert(packed.agg(sum(col("n_tokens"))).head().getLong(0)
      === expected.values.sum)
    val manifestTotal = operators.TextAnalysis.seqManifest(docs,
      seqLen = 128L, tokenizer = "vp", vpGrams = grams)
      .agg(sum(col("filled_tokens"))).head().getLong(0)
    assert(manifestTotal === expected.values.sum,
      "vp-measured manifest must fill exactly the encode total")
    // no grams → loud refusal
    val err = intercept[IllegalArgumentException] {
      operators.TextAnalysis.packSequences(docs, tokenizer = "vp")
        .count()
    }
    assert(err.getMessage.contains("vpGrams"), err.getMessage)
  }

  test("vocabCoverage: OOV accounting is exact — totals equal the " +
      "corpus token counts, a full vocabulary drives OOV to zero, " +
      "and rates fall monotonically with vocab size") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sf, "documents")
    def oov(v: Int): (Long, Long) = {
      val r = operators.TextAnalysis.vocabCoverage(spark, sf, v)
        .agg(sum(col("total_tokens")), sum(col("oov_tokens"))).head()
      (r.getLong(0), r.getLong(1))
    }
    val corpusTotal = docs.select(sum(size(regexp_extract_all(
      col("text"), lit("\\S+"), lit(0))).cast("long"))).head().getLong(0)
    val (t64, o64) = oov(64)
    val (t512, o512) = oov(512)
    assert(t64 === corpusTotal && t512 === corpusTotal,
      "coverage totals must equal the corpus token count")
    assert(o512 <= o64, "OOV must fall as the vocabulary grows")
    // a vocabulary at least as large as the distinct-token domain
    // covers everything
    val nDistinct = docs.select(explode(regexp_extract_all(col("text"),
      lit("\\S+"), lit(0))).as("t")).distinct().count().toInt
    val (_, oAll) = oov(nDistinct)
    assert(oAll === 0L, "a full vocabulary must drive OOV to zero")
  }

  test("mixtureResample: per-domain repetition counts follow the " +
      "weights, the md5 coin is deterministic, seeds redraw it") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sf, "documents")
    val weights = operators.TextAnalysis.scenarioMixture
    val rs = operators.TextAnalysis.mixtureResample(docs, weights)
    val perDoc = rs.groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2)))).toMap
    assert(!perDoc.values.exists(_._1 == "fr"), "weight 0 excludes fr")
    perDoc.values.foreach {
      case ("es", n) => assert(n === 3L, "es takes exactly 3 copies")
      case ("de", n) => assert(n === 1L, "default weight rides de")
      case ("en", n) => assert(n === 1L, "a kept en doc appears once")
      case ("zh", n) => assert(n === 2L || n === 3L, "zh takes 2 + coin")
      case (l, _) => fail(s"unexpected lang $l")
    }
    // the en coin keeps roughly half (exact set pinned by the oracle;
    // here: nonempty, strict subset, deterministic across runs)
    val enIn = docs.where(col("lang") === "en").count()
    val enKept = perDoc.count(_._2._1 == "en")
    assert(enKept > 0 && enKept < enIn, "en must genuinely downsample")
    val again = operators.TextAnalysis.mixtureResample(docs, weights)
      .groupBy(col("doc_id"), col("lang")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getLong(2))))
      .toMap
    assert(again === perDoc, "the md5 coin must replay identically")
    val reseeded = operators.TextAnalysis
      .mixtureResample(docs, weights, seed = 1L)
      .where(col("lang") === "en").select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(reseeded !== perDoc.filter(_._2._1 == "en").keySet,
      "a new seed must draw a different en keep-set")
    intercept[IllegalArgumentException] {
      operators.TextAnalysis.mixtureResample(docs, Map("en" -> -0.5))
    }
  }

  test("exportShardsMixture: every training copy takes an independent " +
      "md5 position — ≡ the global-window replay over (h2, doc, rep)") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sf, "documents")
    val weights = operators.TextAnalysis.scenarioMixture
    val got = operators.TextAnalysis.exportShardsMixture(docs, weights)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4)))
      .toSet
    val rs = operators.TextAnalysis.mixtureResample(docs, weights)
      .select(col("doc_id"), col("rep"),
        size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
          .cast("long").as("n_tokens"))
      .withColumn("__h", expr("conv(substring(md5(concat('mixshuf0:', " +
        "CAST(doc_id AS STRING), ':', CAST(rep AS STRING))), 1, 15), " +
        "16, 10)").cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__h"), col("doc_id"), col("rep"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val expected = rs
      .withColumn("tokens_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("shard_id", expr("tokens_before div 2048L"))
      .select(col("doc_id"), col("rep"), col("tokens_before"),
        col("shard_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got === expected,
      "mixture export diverged from its global-window replay")
    // copies of the SAME doc scatter: some multi-copy doc lands in
    // more than one shard (the permutation hashes (doc, rep), not doc)
    val multi = got.groupBy(_._1).filter(_._2.size > 1)
    assert(multi.exists(_._2.map(_._4).size > 1),
      "copies of one doc must scatter across shards")
  }

  test("exportShardsIngest: a NEW batch with an id below a landed " +
      "higher id refuses even when its doc range is monotone") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sf, "documents")
    val stage = java.nio.file.Files
      .createTempDirectory("graft_expooo_").toString
    operators.TextAnalysis.exportShardsIngest(spark, stage,
      docs.where($"doc_id" < 100), 0L)
    operators.TextAnalysis.exportShardsIngest(spark, stage,
      docs.where($"doc_id" >= 300), 2L)
    // batch 1 arrives LATE: its docs sit above batch 0's max, so the
    // doc_id-monotone check vs strictly-earlier state would pass —
    // but its tokens_before would overlap batch 2's landed range
    val err = intercept[IllegalArgumentException] {
      operators.TextAnalysis.exportShardsIngest(spark, stage,
        docs.where($"doc_id" >= 100 && $"doc_id" < 300), 1L)
    }
    assert(err.getMessage.contains("max landed batch"), err.getMessage)
  }

  test("exportShardsIngest: monotone batches accumulate to the one-" +
      "shot export, mid-sequence replay is a no-op, out-of-order " +
      "arrivals refuse") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sf, "documents")
    val stage = java.nio.file.Files
      .createTempDirectory("graft_expinc_").toString
    def ingest(pred: org.apache.spark.sql.Column, id: Long) =
      operators.TextAnalysis.exportShardsIngest(spark, stage,
        docs.where(pred), id)
    ingest($"doc_id" < 100, 0L)
    ingest($"doc_id" >= 100 && $"doc_id" < 300, 1L)
    ingest($"doc_id" >= 300, 2L)
    def asgT = graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(stage, "assignments").toString)
    def stT = graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(stage, "state").toString)
    val (nBefore, stBefore) =
      (asgT.snapshot().count(), stT.snapshot().count())
    // replay of a MID-SEQUENCE batch: the offset reads state as of
    // strictly-earlier batches, so the monotone check passes again
    // and both watermarks skip — nothing re-lands
    val replay = ingest($"doc_id" >= 100 && $"doc_id" < 300, 1L)
    assert(replay.count() > 0, "replay still returns the verdict frame")
    assert(asgT.snapshot().count() === nBefore &&
      stT.snapshot().count() === stBefore,
      "replayed batch must re-land nothing in either table")
    // accumulated state ≡ the one-shot export over the whole corpus
    val acc = asgT.snapshot()
      .select($"doc_id", $"n_tokens", $"tokens_before", $"shard_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val oneShot = operators.TextAnalysis.exportShards(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(acc === oneShot,
      "incremental accumulation diverged from the one-shot export")
    // an overlapping (non-monotone) batch refuses loudly
    val err = intercept[IllegalArgumentException] {
      ingest($"doc_id" < 50, 3L)
    }
    assert(err.getMessage.contains("monotone"), err.getMessage)
  }

  test("connected components on an empty pair set is the empty frame") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val out = Dedup.connectedComponents(empty)
    assert(out.columns.toSeq === Seq("doc_id", "cluster_id", "is_survivor"))
    assert(out.count() === 0)
  }

  test("connected components resolves chains to the min label") {
    // path graph 5-4, 4-3, 3-2, 2-1 plus an isolated pair 10-11:
    // diameter forces several propagation rounds
    val pairs = Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.connectedComponents(pairs)
      .as[(Long, Long, Int)].collect().sortBy(_._1)
    assert(out.map(r => (r._1, r._2)).toSeq ===
      Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L), (10L, 10L), (11L, 10L)))
    assert(out.filter(_._3 === 1).map(_._1).toSeq === Seq(1L, 10L))
  }

  test("df-cap guard keeps exact scores and full recall at a sane cap") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getInt(2),
        math.round(r.getDouble(3) * 1e9))
    val full = Dedup.ngramJaccard(spark, sf).collect().map(key).toSet
    assert(full.nonEmpty)
    // cap = 32 drops this corpus's hottest (boilerplate) shingles
    // from candidate generation; every oracle pair still surfaces
    // with an IDENTICAL score (the rescore runs over full sets)
    val capped = Dedup.ngramJaccard(spark, sf, maxShingleDf = 32)
      .collect().map(key).toSet
    assert(capped === full,
      s"df-cap lost ${(full -- capped).size} pair(s), " +
        s"invented ${(capped -- full).size}")
  }

  test("df-cap guard drops only pairs whose every shared shingle is hot") {
    // 40 docs share one boilerplate sentence (hot shingles, df=40);
    // docs 0 and 1 additionally share a long unique passage. With the
    // cap excluding the boilerplate, the near-dup pair (0,1) must
    // survive with its exact score; the boilerplate-only pairs are
    // below the threshold anyway
    val bp = "all rights reserved contact us for terms of service"
    val body = "the quick brown fox jumps over the lazy dog near the river bank today"
    val docs = (0 until 40).map { i =>
      val text = if (i < 2) s"$body $bp" else s"unique stuff $i $i $i $bp"
      (i.toLong, text)
    }.toDF("doc_id", "text")
    val capped = Dedup.ngramJaccardOf(docs, minJaccard = 0.5,
      maxShingleDf = 10).as[(Long, Long, Int, Double)].collect()
    val uncapped = Dedup.ngramJaccardOf(docs, minJaccard = 0.5)
      .as[(Long, Long, Int, Double)].collect()
    assert(capped.map(p => (p._1, p._2)).toSet === Set((0L, 1L)))
    // the surviving pair's n_common and jaccard are the UNCAPPED
    // values — hot shingles count toward the score, only candidate
    // generation ignored them
    assert(capped.toSet === uncapped.filter(p => p._1 == 0L && p._2 == 1L).toSet)
  }

  test("decontamination rides any pair source: exact, capped, minhash agree") {
    // the boilerplate corpus from the df-cap test, with enough docs
    // that the deterministic split scatters them across train/val/test;
    // the near-dup pairs are (i, i+1000) for i < 25 — same body, one
    // token differs — and every doc shares the hot boilerplate banner
    // every doc carries the hot banner; each PAIR (100+i, 1100+i)
    // shares a fully distinct 8-token body (cool shingles, df=2), so
    // cross-pair overlap is banner-only (J≈0.3 < τ) while true pairs
    // score ≈0.94
    val bp = "all rights reserved contact us for terms of service"
    val docs = ((0 until 40).map { i =>
      (i.toLong, s"filler$i one$i two$i three$i four$i five$i six$i $bp")
    } ++ (0 until 25).flatMap { i =>
      val body = s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i"
      Seq((100L + i, s"$body $bp"),
          (1100L + i, s"$body $bp extra"))
    }).toDF("doc_id", "text")
    val splits = TextAnalysis.deterministicSplitOf(docs)
    def leaks(pairs: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      Dedup.crossSplitLeaksOf(pairs, splits)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val exact = leaks(Dedup.ngramJaccardOf(docs, minJaccard = 0.5))
    assert(exact.nonEmpty, "the corpus must produce cross-split leaks")
    // df-cap excludes the banner's hot shingles from candidate
    // generation; the leak set is identical (rescore is exact)
    val capped = leaks(Dedup.ngramJaccardOf(docs, minJaccard = 0.5,
      maxShingleDf = 30))
    assert(capped === exact, s"capped lost ${(exact -- capped).size}, " +
      s"invented ${(capped -- exact).size}")
    // the banded-LSH pair source finds the same leaks (64 perms over
    // near-identical docs: candidate recall is effectively certain)
    val mh = leaks(Dedup.minhashLshOf(docs, minJaccard = 0.5))
    assert(mh === exact, s"minhash lost ${(exact -- mh).size}, " +
      s"invented ${(mh -- exact).size}")
  }

  test("incremental exact dedup: ledger canonicals are stable across batches") {
    // the synthetic corpus has no exact duplicates at the gate SFs,
    // so the incremental-exact ledger is exercised on a constructed
    // corpus: cross-batch dups, in-batch dups, and novel docs
    def tmp() = java.nio.file.Files
      .createTempDirectory("graft_exidx_spec_").resolve("l").toString
    val path = tmp()
    val b1 = Seq((1L, "alpha text"), (2L, "beta text"), (3L, "alpha text"))
      .toDF("doc_id", "text")
    val d1 = Dedup.incrementalExact(spark, path, b1)
      .as[(Long, Long, String)].collect().sortBy(_._1)
    // in-batch dup: 3 duplicates 1 (batch minimum is canonical)
    assert(d1.map(r => (r._1, r._2)).toSeq === Seq((3L, 1L)))
    val b2 = Seq((10L, "beta text"), (11L, "alpha text"),
      (12L, "gamma text"), (13L, "gamma text")).toDF("doc_id", "text")
    val d2 = Dedup.incrementalExact(spark, path, b2)
      .as[(Long, Long, String)].collect().sortBy(_._1)
    // cross-batch dups resolve to the STORED canonicals (2 and 1,
    // not 10/11); the novel gamma pair resolves in-batch
    assert(d2.map(r => (r._1, r._2)).toSeq ===
      Seq((10L, 2L), (11L, 1L), (13L, 12L)))
    // the ledger holds one canonical per distinct hash, forever
    val ledger = graft.tables.GraftTable.load(spark, path).snapshot()
    assert(ledger.count() === 3)
    assert(ledger.select("canonical_id").as[Long].collect().toSet ===
      Set(1L, 2L, 12L))
  }

  test("incremental dedup over slices equals the one-shot result") {
    // every pair must surface exactly once — in the batch of its
    // LATER member — and the union over batches must equal probing
    // everything into a fresh index at once
    def tmp() = java.nio.file.Files
      .createTempDirectory("graft_idx_spec_").toString
    val docs = Tables.load(spark, sf, "documents")
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val oneShot = Dedup.incrementalDedup(spark, tmp(), docs)
      .collect().map(key).toSet
    assert(oneShot.nonEmpty, "the corpus must contain near-dup pairs")
    val idx = tmp()
    val sliced = (0 until 3).flatMap { s =>
      Dedup.incrementalDedup(spark, idx,
        docs.filter($"doc_id" % 3 === s)).collect().map(key)
    }
    assert(sliced.size === sliced.toSet.size,
      "a pair surfaced in more than one batch")
    assert(sliced.toSet === oneShot,
      s"slices lost ${(oneShot -- sliced.toSet).size}, " +
        s"invented ${(sliced.toSet -- oneShot).size}")
  }

  test("incremental clustering equals one-shot CC across batch orders") {
    def tmp() = java.nio.file.Files
      .createTempDirectory("graft_iclust_").resolve("c").toString
    // chain 0-1-2-3, a separate pair 10-11, and a LATE bridge 3-10:
    // batches are ordered so components formed in different batches
    // must merge, and the canonical min must propagate across them
    val b1 = Seq((2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val b2 = Seq((0L, 1L), (1L, 2L)).toDF("doc_a", "doc_b")
    val b3 = Seq((3L, 10L)).toDF("doc_a", "doc_b")
    val all = b1.unionByName(b2).unionByName(b3)
    val want = Dedup.connectedComponents(all)
      .as[(Long, Long, Int)].collect().toSet
    val path = tmp()
    Dedup.incrementalClusters(spark, path, b1)
    Dedup.incrementalClusters(spark, path, b2)
    val d3 = Dedup.incrementalClusters(spark, path, b3)
      .as[(Long, Long, Int)].collect().toSet
    val got = Dedup.clustersView(spark, path)
      .as[(Long, Long, Int)].collect().toSet
    assert(got === want,
      s"incremental clustering diverged: lost ${(want -- got).size}, " +
        s"invented ${(got -- want).size}")
    // the late bridge re-rooted the whole 10-11 component to 0
    assert(got.contains((10L, 0L, 0)) && got.contains((11L, 0L, 0)))
    // batch-3 delta carries exactly the changed assignments (the old
    // 10-rooted component and the bridged 3's component are already
    // 0-rooted, so only the re-rooted rows surface)
    assert(d3.forall(_._2 == 0L), s"delta rows must re-root to 0: $d3")
    // a replayed batch is a semantic no-op
    Dedup.incrementalClusters(spark, path, b3)
    assert(Dedup.clustersView(spark, path)
      .as[(Long, Long, Int)].collect().toSet === want)
    // and the same pairs in ONE batch give the same state
    val path2 = tmp()
    Dedup.incrementalClusters(spark, path2, all)
    assert(Dedup.clustersView(spark, path2)
      .as[(Long, Long, Int)].collect().toSet === want)
    // the DISTRIBUTED contraction path (localThreshold = 0) and the
    // driver fast path land identical states batch-for-batch
    val path3 = tmp()
    Seq(b1, b2, b3).foreach(b =>
      Dedup.incrementalClusters(spark, path3, b, localThreshold = 0L))
    assert(Dedup.clustersView(spark, path3)
      .as[(Long, Long, Int)].collect().toSet === want,
      "distributed path diverged from the driver fast path")
  }

  test("first-admitted-wins admission refuses later smaller-id near-dups") {
    def text(i: Long) =
      s"faw${i} alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val stage = java.nio.file.Files.createTempDirectory("graft_faw_")
    val idx = stage.resolve("idx").toString
    val cl = stage.resolve("cl").toString
    // batch 1: doc 10 admitted (no near-dups anywhere)
    val b1 = Seq((10L, text(0))).toDF("doc_id", "text")
    val v1 = Dedup.admitBatch(spark, idx, cl, b1, batchId = 0L,
      admitted = Some(Seq.empty[Long].toDF("doc_id")))
    assert(v1.as[(Long, Long, String)].collect().toSet
      === Set((10L, 10L, "keep")))
    val admitted = Seq(10L).toDF("doc_id")
    // batch 2, OUT OF ORDER: doc 5 near-dups the admitted doc 10 and
    // has the SMALLER id. Default rule would admit it (global min);
    // first-admitted-wins drops it with 10 as canonical. A fresh doc
    // in the same batch still keeps.
    val b2 = Seq((5L, text(0)),
      (20L, "totally different words with no overlap at all here " +
        "nothing shared whatsoever in any shingle"))
      .toDF("doc_id", "text")
    val v2 = Dedup.admitBatch(spark, idx, cl, b2, batchId = 1L,
      admitted = Some(admitted))
    assert(v2.as[(Long, Long, String)].collect().toSet
      === Set((5L, 10L, "drop"), (20L, 20L, "keep")))
    // replay with the post-cycle admitted set: verdicts unchanged
    // (the original survivor canonicalizes to itself)
    val v2r = Dedup.admitBatch(spark, idx, cl, b2, batchId = 1L,
      admitted = Some(admitted.unionByName(Seq(20L).toDF("doc_id"))))
    assert(v2r.as[(Long, Long, String)].collect().toSet
      === Set((5L, 10L, "drop"), (20L, 20L, "keep")))
  }

  test("sweepCurated retires cross-cycle near-dup slip-throughs " +
      "idempotently") {
    def text(i: Long) =
      s"sweep${i} alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val stage = java.nio.file.Files.createTempDirectory("graft_sweep_")
    val idx = stage.resolve("idx").toString
    val cl = stage.resolve("cl").toString
    // out-of-order default-rule admission: doc 10 admitted first,
    // then its smaller-id near-dup 5 also admits (the documented
    // caveat) — the curated table ends up holding both
    val b1 = Seq((10L, text(0))).toDF("doc_id", "text")
    val b2 = Seq((5L, text(0) + " omega"),
      (20L, "completely unrelated content with nothing shared at all " +
        "against any earlier document whatsoever"))
      .toDF("doc_id", "text")
    Dedup.admitBatch(spark, idx, cl, b1, batchId = 0L)
    Dedup.admitBatch(spark, idx, cl, b2, batchId = 1L)
    val curated = graft.tables.GraftTable.create(spark,
      stage.resolve("curated").toString,
      Seq((10L, text(0)), (5L, text(0) + " omega"),
        (20L, "completely unrelated content with nothing shared at " +
          "all against any earlier document whatsoever"))
        .toDF("doc_id", "text"))
    val retired = Dedup.sweepCurated(spark, curated, cl)
      .as[Long].collect().toSet
    // min curated member per cluster survives — the batch algorithms'
    // label — so the sweep retires 10, not 5
    assert(retired === Set(10L))
    assert(curated.snapshot().select($"doc_id").as[Long].collect().toSet
      === Set(5L, 20L))
    // idempotent: a second sweep finds nothing and commits nothing
    val v = curated.latestVersion
    assert(Dedup.sweepCurated(spark, curated, cl).count() === 0)
    assert(curated.latestVersion === v)
  }

  test("quality-scored sweepCurated keeps the BEST curated member, " +
      "not the min id; unknown quality ranks lowest; idempotent") {
    def text(i: Long) =
      s"qsweep${i} alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val stage = java.nio.file.Files.createTempDirectory("graft_qsweep_")
    val idx = stage.resolve("idx").toString
    val cl = stage.resolve("cl").toString
    Dedup.admitBatch(spark, idx, cl,
      Seq((5L, text(0)), (10L, text(0) + " omega"),
        (30L, text(0) + " sigma"))
        .toDF("doc_id", "text"), batchId = 0L)
    val curated = graft.tables.GraftTable.create(spark,
      stage.resolve("curated").toString,
      Seq((5L, text(0)), (10L, text(0) + " omega"),
        (30L, text(0) + " sigma")).toDF("doc_id", "text"))
    // doc 10 is the HIGHEST-quality member despite the larger id;
    // doc 30 is absent from the quality frame (ranks lowest)
    val quality = Seq((5L, 0.2), (10L, 0.9)).toDF("doc_id", "q")
    val retired = Dedup.sweepCurated(spark, curated, cl,
      quality = Some(quality)).as[Long].collect().toSet
    assert(retired === Set(5L, 30L),
      s"the best member must survive the quality sweep, got $retired")
    assert(curated.snapshot().select($"doc_id").as[Long].collect().toSet
      === Set(10L))
    // idempotent under the same policy
    val v = curated.latestVersion
    assert(Dedup.sweepCurated(spark, curated, cl,
      quality = Some(quality)).count() === 0)
    assert(curated.latestVersion === v)
  }

  test("maintainIndex is the one nightly front door: sweeps the " +
      "curated table, bin-packs clusters + curated, reclaims strands") {
    def text(i: Long) =
      s"nightly${i} alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val stage = java.nio.file.Files.createTempDirectory("graft_nightly_")
    val idx = stage.resolve("idx").toString
    val cl = stage.resolve("cl").toString
    val cur = stage.resolve("curated").toString
    // the sweepCurated scenario: out-of-order default-rule admission
    // leaves both 10 and its smaller-id near-dup 5 in the curated set
    Dedup.admitBatch(spark, idx, cl,
      Seq((10L, text(0))).toDF("doc_id", "text"), batchId = 0L)
    Dedup.admitBatch(spark, idx, cl,
      Seq((5L, text(0) + " omega"),
        (20L, "completely unrelated content with nothing shared at " +
          "all against any earlier document whatsoever"))
        .toDF("doc_id", "text"), batchId = 1L)
    graft.tables.GraftTable.create(spark, cur,
      Seq((10L, text(0)), (5L, text(0) + " omega"),
        (20L, "completely unrelated content with nothing shared at " +
          "all against any earlier document whatsoever"))
        .toDF("doc_id", "text"))
    // curatedPath without clustersPath is a caller bug, not a silent
    // no-sweep
    intercept[IllegalArgumentException] {
      Dedup.maintainIndex(spark, idx, curatedPath = Some(cur))
    }
    def parquets(dir: String): Long = java.nio.file.Files
      .walk(java.nio.file.Paths.get(dir))
      .filter(_.toString.endsWith(".parquet")).count()
    Dedup.maintainIndex(spark, idx, targetDocsPerFile = 25L,
      vacuumRetainHours = 0.0, clustersPath = Some(cl),
      curatedPath = Some(cur))
    // swept: min curated member per cluster survives
    val curT = graft.tables.GraftTable.load(spark, cur)
    assert(curT.snapshot().select($"doc_id").as[Long].collect().toSet
      === Set(5L, 20L))
    // the sweep's merge-stranded curated versions were vacuumed by
    // the SAME call: only the final bin-packed files remain
    assert(parquets(cur) === curT.snapshot().inputFiles.length.toLong)
    assert(parquets(cl) === graft.tables.GraftTable.load(spark, cl)
      .snapshot().inputFiles.length.toLong)
    // admission verdicts read identically after full maintenance
    val v = Dedup.admitBatch(spark, idx, cl,
      Seq((7L, text(0) + " tau"), (30L, "fresh singleton nothing " +
        "in common with anything admitted before at all"))
        .toDF("doc_id", "text"), batchId = 2L)
    assert(v.as[(Long, Long, String)].collect().toSet
      === Set((7L, 5L, "drop"), (30L, 30L, "keep")))
  }

  test("continuous dedup maintenance: the lease-arbitrated loop " +
      "sweeps the curated table within a trigger interval and settles") {
    def text(i: Long) =
      s"contnightly${i} alpha beta gamma delta epsilon zeta eta theta iota"
    val stage = java.nio.file.Files.createTempDirectory("graft_contn_")
    val idx = stage.resolve("idx").toString
    val cl = stage.resolve("cl").toString
    val cur = stage.resolve("curated").toString
    // out-of-order default-rule admission leaves BOTH 10 and its
    // smaller-id near-dup 5 curated — the slip-through the sweep fixes
    Dedup.admitBatch(spark, idx, cl,
      Seq((10L, text(0))).toDF("doc_id", "text"), batchId = 0L)
    Dedup.admitBatch(spark, idx, cl,
      Seq((5L, text(0) + " omega"),
        (20L, "completely unrelated content sharing nothing with any " +
          "other admitted document whatsoever"))
        .toDF("doc_id", "text"), batchId = 1L)
    val curT = graft.tables.GraftTable.create(spark, cur,
      Seq((10L, text(0)), (5L, text(0) + " omega"),
        (20L, "completely unrelated content sharing nothing with any " +
          "other admitted document whatsoever"))
        .toDF("doc_id", "text"))
    val q = Dedup.continuousMaintain(spark, idx, interval = "1 second",
      targetDocsPerFile = 25L, clustersPath = Some(cl),
      curatedPath = Some(cur))
    try {
      intercept[IllegalArgumentException] {
        Dedup.continuousMaintain(spark, idx, interval = "1 second")
      }
      val deadline = System.currentTimeMillis() + 90000L
      def curatedIds = curT.snapshot()
        .select($"doc_id").as[Long].collect().toSet
      while (curatedIds != Set(5L, 20L) &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(250L)
      assert(curatedIds === Set(5L, 20L),
        "continuous maintenance never swept the curated slip-through")
      // settles: once swept, clustered and packed, cycles stop
      // committing (no self-trigger off its own maintenance commits)
      val shT = graft.tables.GraftTable.load(spark,
        java.nio.file.Paths.get(idx, "shingles").toString)
      val settleDeadline = System.currentTimeMillis() + 60000L
      var last = (shT.latestVersion, curT.latestVersion)
      var stable = false
      while (!stable && System.currentTimeMillis() < settleDeadline) {
        Thread.sleep(3000L)
        val now = (shT.latestVersion, curT.latestVersion)
        stable = now == last
        last = now
      }
      assert(stable, "maintenance loop kept committing on a settled index")
    } finally {
      assert(Dedup.stopContinuousMaintain(idx))
    }
    assert(!q.isActive)
    // admission still reads identically through the maintained index
    assert(Dedup.admitBatch(spark, idx, cl,
      Seq((7L, text(0) + " tau")).toDF("doc_id", "text"), batchId = 2L)
      .as[(Long, Long, String)].collect().toSet === Set((7L, 5L, "drop")))
  }

  test("admission audit trail persists verdicts exactly-once and " +
      "time-travels") {
    def text(i: Long) =
      s"audit${i} alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val stage = java.nio.file.Files.createTempDirectory("graft_audit_")
    val idx = stage.resolve("idx").toString
    val cl = stage.resolve("cl").toString
    val audit = stage.resolve("audit").toString
    val b1 = Seq((1L, text(0)), (2L, text(0) + " omega"))
      .toDF("doc_id", "text")
    val v1 = Dedup.admitBatchLogged(spark, idx, cl, audit, b1,
      batchId = 0L)
    val auditT = graft.tables.GraftTable.load(spark, audit)
    val logged = auditT.snapshot()
      .as[(Long, Long, Long, String)].collect().toSet
    assert(logged === v1.as[(Long, Long, String)].collect().toSet
      .map((t: (Long, Long, String)) => (0L, t._1, t._2, t._3)))
    assert(logged.map(r => (r._2, r._4)) ===
      Set((1L, "keep"), (2L, "drop")))
    // a replayed batch logs nothing twice
    Dedup.admitBatchLogged(spark, idx, cl, audit, b1, batchId = 0L)
    assert(auditT.snapshot().count() === 2)
    val afterB1 = auditT.latestVersion
    // a second batch appends under its own id; the audit TIME-TRAVELS
    val b2 = Seq((3L, "totally different content with no shingles " +
      "shared at all against anything earlier")).toDF("doc_id", "text")
    Dedup.admitBatchLogged(spark, idx, cl, audit, b2, batchId = 1L)
    assert(auditT.snapshot().count() === 3)
    assert(auditT.snapshot()
      .where($"batch_id" === 1L && $"action" === "keep").count() === 1)
    assert(auditT.snapshotAt(afterB1).count() === 2,
      "audit history must replay the per-batch ledger")
  }

  test("clusters state maintenance compacts and vacuums without " +
      "changing verdicts; replay stays idempotent") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_clmaint_").resolve("c").toString
    val b1 = Seq((2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val b2 = Seq((0L, 1L), (1L, 2L)).toDF("doc_a", "doc_b")
    val b3 = Seq((3L, 10L)).toDF("doc_a", "doc_b")
    Seq(b1, b2, b3).foreach(b => Dedup.incrementalClusters(spark, path, b))
    val before = Dedup.clustersView(spark, path)
      .as[(Long, Long, Int)].collect().toSet
    def parquetCount(): Long = java.nio.file.Files
      .walk(java.nio.file.Paths.get(path))
      .filter(_.toString.endsWith(".parquet")).count()
    val filesBefore = parquetCount()
    Dedup.maintainClusters(spark, path, vacuumRetainHours = 0.0)
    assert(parquetCount() < filesBefore,
      "maintenance reclaimed no stranded clusters-state files")
    assert(Dedup.clustersView(spark, path)
      .as[(Long, Long, Int)].collect().toSet === before,
      "maintenance changed the clustering state")
    // a replayed batch MERGE after maintenance is still a no-op
    Dedup.incrementalClusters(spark, path, b3)
    assert(Dedup.clustersView(spark, path)
      .as[(Long, Long, Int)].collect().toSet === before,
      "replay after maintenance changed the state")
  }

  test("probe-only serving path equals the indexing probe and is read-only") {
    def tmp() = java.nio.file.Files
      .createTempDirectory("graft_idx_probe_").toString
    val docs = Tables.load(spark, sf, "documents")
    val seed = docs.filter($"doc_id" % 5 =!= 0)
    val batch = docs.filter($"doc_id" % 5 === 0)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val idx = tmp()
    Dedup.incrementalIndex(spark, idx, seed, batchId = 0L)
    val sigsT = graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(idx, "sigs").toString)
    val shT = graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(idx, "shingles").toString)
    val (vSigs, vSh) = (sigsT.latestVersion, shT.latestVersion)
    val probed = Dedup.incrementalProbe(spark, idx, batch)
      .collect().map(key).toSet
    assert(sigsT.latestVersion === vSigs && shT.latestVersion === vSh,
      "probe must not commit to either index table")
    // same pair set as the indexing probe on an identical index
    val idx2 = tmp()
    Dedup.incrementalIndex(spark, idx2, seed, batchId = 0L)
    val indexed = Dedup.incrementalDedup(spark, idx2, batch, batchId = 1L)
      .collect().map(key).toSet
    assert(probed === indexed,
      s"probe lost ${(indexed -- probed).size}, " +
        s"invented ${(probed -- indexed).size}")
    // and repeatable: the read-only path serves the same answer twice
    val again = Dedup.incrementalProbe(spark, idx, batch)
      .collect().map(key).toSet
    assert(again === probed)
  }

  test("incremental dedup replays idempotently after a crash between " +
      "the index appends") {
    def tmp() = java.nio.file.Files
      .createTempDirectory("graft_idx_replay_").toString
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val docs = Tables.load(spark, sf, "documents")
    val b0 = docs.filter($"doc_id" % 3 === 0)
    val b1 = docs.filter($"doc_id" % 3 === 1)
    val b2 = docs.filter($"doc_id" % 3 === 2)
    // reference: the same batches through an un-crashed index
    val ref = tmp()
    Dedup.incrementalIndex(spark, ref, b0, batchId = 0L)
    val want = Dedup.incrementalDedup(spark, ref, b1, batchId = 1L)
      .collect().map(key).toSet
    // crashed run: batch 1's SHINGLES commit lands, the sigs commit
    // does not (the exact window the fail-safe order leaves open)
    val idx = tmp()
    Dedup.incrementalIndex(spark, idx, b0, batchId = 0L)
    val shT = graft.tables.GraftTable.load(
      spark, java.nio.file.Paths.get(idx, "shingles").toString)
    val partialSh = Dedup.shingles(b1).filter(size($"sh") > 0)
    shT.appendIfNew(partialSh, 1L, appId = Dedup.incrShinglesAppId)
    val shRows = shT.snapshot().count()
    // replay the whole batch — the shingle append must be a no-op,
    // the sigs append must land, and the pairs must come out right
    val got = Dedup.incrementalDedup(spark, idx, b1, batchId = 1L)
      .collect().map(key).toSet
    assert(got === want, "replay after partial crash lost/invented pairs")
    assert(graft.tables.GraftTable.load(
        spark, java.nio.file.Paths.get(idx, "shingles").toString)
      .snapshot().count() === shRows,
      "replay re-appended shingle rows — duplicates would multiply " +
        "future verification pairs")
    // a later batch over the replayed index behaves exactly like the
    // un-crashed one, with no duplicated pairs
    val w2 = Dedup.incrementalDedup(spark, ref, b2, batchId = 2L)
      .collect().map(key).sorted.toSeq
    val g2 = Dedup.incrementalDedup(spark, idx, b2, batchId = 2L)
      .collect().map(key).sorted.toSeq
    assert(g2 === w2)
  }

  test("incremental verification reads only candidate-covering " +
      "shingle files") {
    def text(i: Long) =
      s"filler${i} alpha${i} beta${i} gamma${i} delta${i} epsilon${i} " +
        s"zeta${i} eta${i} theta${i} iota${i}"
    def mk(ids: Seq[Long], t: Long => String) =
      ids.map(i => (i, t(i))).toDF("doc_id", "text")
    val idx = java.nio.file.Files
      .createTempDirectory("graft_idx_prune_").toString
    // two range-disjoint index batches → ≥2 stored shingle files
    // covering disjoint doc_id intervals
    Dedup.incrementalIndex(spark, idx, mk(0L until 50L, text), batchId = 0L)
    Dedup.incrementalIndex(spark, idx, mk(50L until 100L, text), batchId = 1L)
    // the probe batch duplicates docs 10 and 11 — every candidate's
    // stored partner lives in the FIRST batch's id range
    val probe = Seq((100L, text(10L)), (101L, text(11L)))
      .toDF("doc_id", "text")
    val (out, st) = Dedup.incrementalDedupWithStats(
      spark, idx, probe, batchId = 2L)
    val pairs = out.select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    assert(pairs === Set((10L, 100L), (11L, 101L)))
    assert(st.shingleFilesTotal >= 2, "index must hold multiple files")
    assert(st.shingleFilesRead < st.shingleFilesTotal,
      s"verification fetch read all ${st.shingleFilesTotal} files — " +
        "candidate pruning is dead")
  }

  test("band probe reads only bloom-admitted signature files") {
    def text(i: Long) =
      s"sigtext${i} alpha${i} beta${i} gamma${i} delta${i} epsilon${i} " +
        s"zeta${i} eta${i} theta${i} iota${i}"
    def mk(ids: Seq[Long]) =
      ids.map(i => (i, text(i))).toDF("doc_id", "text")
    val idx = java.nio.file.Files
      .createTempDirectory("graft_idx_sig_").toString
    // two index batches → ≥2 stored SIGNATURE files; the probe's
    // duplicates both live in the FIRST batch, so the second batch's
    // sig file holds no matching band signature and its bloom
    // sidecar must refute the whole probe set
    Dedup.incrementalIndex(spark, idx, mk(0L until 50L), batchId = 0L)
    Dedup.incrementalIndex(spark, idx, mk(50L until 100L), batchId = 1L)
    val probe = Seq((100L, text(10L)), (101L, text(11L)))
      .toDF("doc_id", "text")
    val (out, st) = Dedup.incrementalDedupWithStats(
      spark, idx, probe, batchId = 2L)
    val pairs = out.select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    assert(pairs === Set((10L, 100L), (11L, 101L)))
    assert(st.sigFilesTotal >= 2, "sig table must hold multiple files")
    assert(st.sigFilesRead < st.sigFilesTotal,
      s"band probe read all ${st.sigFilesTotal} signature files — " +
        "bloom scoping is dead")
  }

  test("over-budget band probes prune sig files executor-side with " +
      "identical results") {
    def text(i: Long) =
      s"distsig${i} alpha${i} beta${i} gamma${i} delta${i} epsilon${i} " +
        s"zeta${i} eta${i} theta${i} iota${i}"
    def mk(ids: Seq[Long]) =
      ids.map(i => (i, text(i))).toDF("doc_id", "text")
    def build(): String = {
      val idx = java.nio.file.Files
        .createTempDirectory("graft_idx_dsig_").toString
      Dedup.incrementalIndex(spark, idx, mk(0L until 50L), batchId = 0L)
      Dedup.incrementalIndex(spark, idx, mk(50L until 100L), batchId = 1L)
      idx
    }
    val probe = Seq((100L, text(10L)), (101L, text(11L)))
      .toDF("doc_id", "text")
    // reference: the driver-collect path on a fresh index
    val (outA, stA) = Dedup.incrementalDedupWithStats(
      spark, build(), probe, batchId = 2L)
    val pairsA = outA.select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    // a 1-byte budget rejects ANY driver collect — the probe must
    // take the executor-side consult and prune exactly the same
    val saved = Dedup.candidateKeyByteBudget
    Dedup.candidateKeyByteBudget = 1L
    try {
      val (outB, stB) = Dedup.incrementalDedupWithStats(
        spark, build(), probe, batchId = 2L)
      val pairsB = outB.select("doc_a", "doc_b")
        .as[(Long, Long)].collect().toSet
      assert(pairsB === pairsA, "distributed probe changed the pairs")
      assert(stB.sigFilesTotal >= 2)
      assert(stB.sigFilesRead < stB.sigFilesTotal,
        s"distributed probe read all ${stB.sigFilesTotal} sig files — " +
          "executor-side bloom scoping is dead")
      assert(stB.sigFilesRead === stA.sigFilesRead,
        "driver and executor consults disagreed on the kept files")
    } finally Dedup.candidateKeyByteBudget = saved
  }

  test("incremental exact ledger probe reads only bloom-admitted files") {
    def mk(ids: Seq[Long], tag: String) =
      ids.map(i => (i, s"$tag body $i")).toDF("doc_id", "text")
    val idx = java.nio.file.Files
      .createTempDirectory("graft_exact_bloom_").resolve("ledger").toString
    // two ledger batches → ≥2 stored hash files; batch 3 duplicates
    // only batch-1 texts, so batch 2's file must bloom-refute
    assert(Dedup.incrementalExact(spark, idx, mk(0L until 50L, "a"))
      .count() === 0)
    assert(Dedup.incrementalExact(spark, idx, mk(50L until 100L, "b"))
      .count() === 0)
    val probe = Seq((100L, "a body 10"), (101L, "a body 11"))
      .toDF("doc_id", "text")
    val (dups, st) = Dedup.incrementalExactWithStats(spark, idx, probe)
    assert(dups.select("doc_id", "canonical_id")
      .as[(Long, Long)].collect().toSet === Set((100L, 10L), (101L, 11L)))
    assert(st.ledgerFilesTotal >= 2, "ledger must hold multiple files")
    assert(st.ledgerFilesRead < st.ledgerFilesTotal,
      s"ledger probe read all ${st.ledgerFilesTotal} files — " +
        "bloom scoping is dead")
  }

  test("index maintenance re-clusters shingles without changing " +
      "results — and pruning stays live") {
    def text(i: Long) =
      s"word${i} alpha${i} beta${i} gamma${i} delta${i} epsilon${i} " +
        s"zeta${i} eta${i} theta${i} iota${i}"
    def mk(ids: Seq[Long]) =
      ids.map(i => (i, text(i))).toDF("doc_id", "text")
    val probe = Seq((100L, text(10L)), (101L, text(11L)))
      .toDF("doc_id", "text")
    def buildIdx(): String = {
      val idx = java.nio.file.Files
        .createTempDirectory("graft_idx_maint_").toString
      Dedup.incrementalIndex(spark, idx, mk(0L until 50L), batchId = 0L)
      Dedup.incrementalIndex(spark, idx, mk(50L until 100L), batchId = 1L)
      idx
    }
    val plain = buildIdx()
    val (outA, _) = Dedup.incrementalDedupWithStats(
      spark, plain, probe, batchId = 2L)
    val pairsA = outA.select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    val maintained = buildIdx()
    def parquetCount(): Long = java.nio.file.Files
      .walk(java.nio.file.Paths.get(maintained))
      .filter(_.toString.endsWith(".parquet")).count()
    val filesBefore = parquetCount()
    Dedup.maintainIndex(spark, maintained, targetDocsPerFile = 25L,
      vacuumRetainHours = 0.0)
    assert(parquetCount() < filesBefore,
      "maintenance vacuum reclaimed no stranded index files")
    val (outB, st) = Dedup.incrementalDedupWithStats(
      spark, maintained, probe, batchId = 2L)
    val pairsB = outB.select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    assert(pairsB === pairsA)
    assert(pairsB === Set((10L, 100L), (11L, 101L)))
    // clustering re-tightened per-file ranges: the candidate fetch
    // still reads a strict subset of the (now re-packed) files
    assert(st.shingleFilesTotal >= 3,
      s"expected ≥3 clustered files, got ${st.shingleFilesTotal}")
    assert(st.shingleFilesRead < st.shingleFilesTotal,
      "candidate pruning died after index maintenance")
    // the idempotency watermark survives maintenance commits: a
    // replay of batch 1 is still a no-op
    val shT = graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(maintained, "shingles").toString)
    val rows = shT.snapshot().count()
    shT.appendIfNew(Dedup.shingles(mk(50L until 100L))
      .filter(size($"sh") > 0), 1L, appId = Dedup.incrShinglesAppId)
    assert(shT.snapshot().count() === rows,
      "maintenance must not reset the append watermark")
    // the sig compaction rebuilt the bloom sidecars: the declaration
    // survives and every live sig file carries one, so the band
    // probe's pruning machinery stays armed after maintenance
    val sigsT = graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(maintained, "sigs").toString)
    assert(sigsT.properties.get("graft.bloom.columns").contains("bsig"))
    val sigFiles = sigsT.snapshot().inputFiles
    assert(sigFiles.nonEmpty)
    sigFiles.foreach { f =>
      val p = java.nio.file.Paths.get(new java.net.URI(f).getPath + ".bloom")
      assert(java.nio.file.Files.exists(p),
        s"missing bloom sidecar for $f after maintenance")
    }
  }

  test("ANN index maintenance bin-packs without breaking the probe") {
    val emb = Tables.load(spark, sf, "embeddings")
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ivf_maint_").toString
    Similarity.ivfIndexBuild(spark, idx, emb.filter($"vec_id" % 4 =!= 0))
    Similarity.ivfIndexIngest(spark, idx, emb.filter($"vec_id" % 4 === 0))
    val q = emb.filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0)
    val before = Similarity.ivfIndexQuery(spark, idx, q,
      excludeVecId = 0L).collect().toSeq
    // maintenance owns the full nightly cycle: compaction + vacuum of
    // the files it strands (retain 0h inside the maintenance window)
    val assignDir = java.nio.file.Paths.get(idx, "assignments")
    def parquetCount(): Long = java.nio.file.Files
      .walk(assignDir).filter(_.toString.endsWith(".parquet")).count()
    val filesBefore = parquetCount()
    // compaction in ISOLATION: rebalance opts out so the byte-
    // identical-results assertion below tests bin-packing alone
    assert(!Similarity.maintainIndex(spark, idx, vacuumRetainHours = 0.0,
      rebalanceSkewThreshold = 0.0))
    assert(parquetCount() < filesBefore,
      "maintenance vacuum reclaimed no stranded files")
    val after = Similarity.ivfIndexQuery(spark, idx, q,
      excludeVecId = 0L).collect().toSeq
    assert(after === before,
      "compaction changed the served ANN results")
  }

  test("recall-triggered maintenance: symmetric between-centroid " +
      "drift (skew flat, recall degraded) fires the rebalance and " +
      "recall recovers") {
    import org.apache.spark.sql.functions._
    // unit-direction corpus in the (x,y) plane — cosine ranking IS
    // angular ranking, and near-unit norms keep the integer-L2
    // assignment angular too. Two seed clusters at ~0° and ~90°
    // (ids 100..115), then a DRIFT cluster lands at ~45°: the frozen
    // centroids split it at the bisector — 24 members a hair below
    // (ids 8..31), 8 a hair above (ids 0..7) — so cells stay
    // BALANCED (skew 32·2/48 ≈ 1.33, far under the 4.0 threshold)
    // while every drift member's true neighborhood straddles cells.
    def dir(theta: Double): Seq[Float] =
      Seq(math.cos(theta).toFloat, math.sin(theta).toFloat, 0f, 0f)
    val q = math.Pi / 4
    val rows =
      (0L until 8L).map(i => (i, "drift_hi", dir(q + 0.010 + i * 0.0005))) ++
      (8L until 32L).map(i => (i, "drift_lo", dir(q - 0.010 - (i - 8) * 0.0005))) ++
      (100L until 108L).map(i => (i, "a", dir((i - 100) * 0.001))) ++
      (108L until 116L).map(i => (i, "b", dir(math.Pi / 2 - (i - 108) * 0.001)))
    val seed = rows.filter(_._1 >= 100L)
      .toDF("vec_id", "label", "embedding")
      .withColumn("embedding", $"embedding".cast("array<float>"))
    val drift = rows.filter(_._1 < 100L)
      .toDF("vec_id", "label", "embedding")
      .withColumn("embedding", $"embedding".cast("array<float>"))
    val idx = java.nio.file.Files
      .createTempDirectory("graft_recall_").resolve("ivf").toString
    Similarity.ivfIndexBuild(spark, idx, seed, nCentroids = 2)
    Similarity.ivfIndexIngest(spark, idx, drift)
    // the probe sees it: queries are the 8 lowest-id members (the
    // minority drift side); ground truth top-10 mixes both sides,
    // nprobe=1 serves only the query's own cell → recall well under 1
    val recallBefore = Similarity.indexRecall(spark, idx, k = 10,
      nprobe = 1, nQueries = 8)
    assert(recallBefore < 0.85,
      s"setup: split neighborhood should degrade recall ($recallBefore)")
    // skew-only maintenance stays quiet (the drift is symmetric)...
    val quiet = Similarity.maintainIndexStats(spark, idx)
    assert(!quiet.rebalanced && quiet.cellSkew < 4.0 && quiet.recall.isEmpty,
      s"skew-only cycle must not fire on balanced cells (${quiet.cellSkew})")
    // ...while an armed RECALL FLOOR fires — through the SQL surface,
    // whose result row carries the cycle's observed metrics
    val st = graft.tables.GraftSql.sql(spark,
      s"MAINTAIN ANN INDEX '$idx' RECALL FLOOR 0.85 " +
        "RECALL NPROBE 1 RECALL QUERIES 8").head()
    assert(st.getBoolean(0), "recall floor must trigger the rebalance")
    assert(st.getDouble(1) < 4.0, "skew was quiet — the recall fired it")
    assert(st.getDouble(2) < 0.85 && st.getDouble(2) === recallBefore,
      "the result row must carry the observed (pre-rebalance) recall")
    // post-rebalance the re-trained geometry heals the split: the
    // drift cluster lives in ONE cell and nprobe=1 recall recovers
    val recallAfter = Similarity.indexRecall(spark, idx, k = 10,
      nprobe = 1, nQueries = 8)
    assert(recallAfter >= 0.95,
      s"rebalance must recover recall ($recallBefore -> $recallAfter)")
  }

  test("IVF rebalance: a drift-bloated, forget-hollowed index " +
      "re-trains past the skew threshold — skew drops, the recall " +
      "floor holds, and the re-trained geometry is deterministic") {
    // deterministic synthetic corpus, 4-dim: 8 seed regions at
    // ±10·one-hot, per-member integer jitter (no randomness anywhere)
    def vec(region: Int, j: Int): Seq[Float] = {
      val sign = if (region < 4) 10f else -10f
      Seq.tabulate(4)(d =>
        (if (d == region % 4) sign else 0f) + ((j * (d + 3)) % 5) * 0.01f)
    }
    def rows(ids: Seq[Long], region: Long => Int) =
      ids.map(i => (i, s"r${region(i)}", vec(region(i), i.toInt)))
        .toDF("vec_id", "label", "embedding")
        .withColumn("embedding", $"embedding".cast("array<float>"))
    def buildSkewed(): String = {
      val idx = java.nio.file.Files
        .createTempDirectory("graft_ivf_rebal_").toString
      // seed: ids 1000..1079, one of 8 regions each — balanced build
      val seedIds = (1000L until 1080L)
      Similarity.ivfIndexBuild(spark, idx,
        rows(seedIds, i => (i % 8).toInt), nCentroids = 8)
      // DRIFT: 200 new vectors (low ids — the deterministic Lloyd
      // re-init must see the new mass) in ONE new off-center blob —
      // frozen geometry piles them ALL into the nearest old cell
      Similarity.ivfIndexIngest(spark, idx,
        rows(0L until 200L, _ => 0)
          .withColumn("embedding",
            transform($"embedding", x => x + lit(5.0f).cast("float"))))
      // HOLLOW: forget two whole seed regions
      Similarity.forgetVectors(spark, idx,
        rows(seedIds, i => (i % 8).toInt)
          .where($"label".isin("r1", "r2")).select($"vec_id"))
      idx
    }
    val idx = buildSkewed()
    val skewBefore = Similarity.cellSkew(spark, idx)
    assert(skewBefore >= 4.0,
      s"setup: drift+hollow should push skew past the threshold " +
        s"(got $skewBefore)")
    assert(Similarity.maintainIndex(spark, idx, vacuumRetainHours = 0.0),
      "maintenance must trigger a rebalance past the skew threshold")
    val skewAfter = Similarity.cellSkew(spark, idx)
    assert(skewAfter < skewBefore,
      s"rebalance did not reduce skew ($skewBefore -> $skewAfter)")
    // recall floor vs BRUTE FORCE over the surviving members, for a
    // query inside the drifted mass (the part a frozen geometry
    // serves worst)
    val members = graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(idx, "assignments").toString).snapshot()
    val qv = members.where($"vec_id" === 0L)
      .select($"embedding").head().getSeq[Float](0)
    val got = Similarity.ivfIndexQuery(spark, idx, qv, k = 10,
      nprobe = 4, excludeVecId = 0L)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    graft.functions.VectorExprs.register(spark)
    // brute force with the SAME rounding + tie rule as ivfIndexQuery,
    // so set comparison never trips on 1e-7 cosine ties
    val want = members.where($"vec_id" =!= 0L)
      .select($"vec_id",
        round(graft.functions.VectorExprs.vec_cosine($"embedding",
            typedLit(qv.toSeq)).cast("decimal(18,12)"), 6)
          .cast("double").as("c"))
      .orderBy($"c".desc, $"vec_id").limit(10)
      .collect().map(_.getLong(0)).toSet
    assert((got & want).size >= 7,
      s"recall@10 after rebalance below floor: ${(got & want).size}/10")
    // determinism: the identical skewed state re-trains to the
    // identical geometry (hash-sampled Lloyd, no randomness)
    val idx2 = buildSkewed()
    Similarity.rebalanceIndex(spark, idx2)
    def cents(p: String) = graft.tables.GraftTable.load(spark,
        java.nio.file.Paths.get(p, "centroids").toString)
      .snapshot().collect().map(r => (r.getInt(0), r.getSeq[Long](1)))
      .sortBy(_._1).toSeq
    assert(cents(idx) === cents(idx2),
      "identical index states rebalanced to different geometries")
  }

  test("continuous IVF maintenance: the lease-arbitrated loop " +
      "rebalances drift within a trigger interval, settles, and " +
      "refuses a second loop") {
    def vec(region: Int, j: Int): Seq[Float] = {
      val sign = if (region < 4) 10f else -10f
      Seq.tabulate(4)(d =>
        (if (d == region % 4) sign else 0f) + ((j * (d + 3)) % 5) * 0.01f)
    }
    def rows(ids: Seq[Long], region: Long => Int) =
      ids.map(i => (i, s"r${region(i)}", vec(region(i), i.toInt)))
        .toDF("vec_id", "label", "embedding")
        .withColumn("embedding", $"embedding".cast("array<float>"))
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ivf_cont_").toString
    Similarity.ivfIndexBuild(spark, idx,
      rows(1000L until 1080L, i => (i % 8).toInt), nCentroids = 8)
    val centsT = graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(idx, "centroids").toString)
    val centsV0 = centsT.latestVersion
    // NO vacuum inside the loop: this spec reads (cellSkew, the
    // probe) CONCURRENTLY with maintenance commits, and retain-0
    // reclaim would yank files from under a planned scan — the
    // documented reader-window contract; the batch maintenance spec
    // covers the vacuum leg
    val q = Similarity.continuousMaintain(spark, idx,
      interval = "1 second")
    try {
      // the lease refuses a second loop on the same index
      intercept[IllegalArgumentException] {
        Similarity.continuousMaintain(spark, idx, interval = "1 second")
      }
      // DRIFT lands while the loop runs: one off-center blob piles
      // into a single frozen cell — skew crosses the threshold and
      // the NEXT maintenance cycle must rebalance
      Similarity.ivfIndexIngest(spark, idx,
        rows(0L until 200L, _ => 0)
          .withColumn("embedding",
            transform($"embedding", x => x + lit(5.0f).cast("float"))))
      val deadline = System.currentTimeMillis() + 90000L
      while (centsT.latestVersion == centsV0 &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(250L)
      assert(centsT.latestVersion > centsV0,
        "continuous maintenance never re-trained the drifted index")
      assert(Similarity.cellSkew(spark, idx) < 4.0,
        "rebalance left the index over the skew threshold")
      // serving stays live against the maintained index
      assert(Similarity.ivfIndexQuery(spark, idx, vec(0, 0), k = 5)
        .count() === 5)
      // the loop SETTLES: once balanced and packed, a cycle commits
      // nothing, so it stops re-triggering itself off its own commits
      val asgT = graft.tables.GraftTable.load(spark,
        java.nio.file.Paths.get(idx, "assignments").toString)
      val settleDeadline = System.currentTimeMillis() + 60000L
      var v1 = asgT.latestVersion
      var stable = false
      while (!stable && System.currentTimeMillis() < settleDeadline) {
        Thread.sleep(3000L)
        val v2 = asgT.latestVersion
        stable = v2 == v1
        v1 = v2
      }
      assert(stable, "maintenance loop kept committing on a settled index")
    } finally {
      assert(Similarity.stopContinuousMaintain(idx),
        "owner stop must be synchronous")
    }
    assert(!q.isActive)
    // the slot is free again: a fresh loop starts and stops cleanly
    val q2 = Similarity.continuousMaintain(spark, idx,
      interval = "1 second", rebalanceSkewThreshold = 0.0)
    try assert(q2.isActive)
    finally assert(Similarity.stopContinuousMaintain(idx))
  }

  test("gate column builders match their metric frames' flags " +
      "(drift guard)") {
    val docs = Tables.load(spark, sf, "documents")
    val q = TextAnalysis.quality(spark, sf)
      .select($"doc_id", $"keep_flag".as("want"))
    val qg = docs.select($"doc_id",
      TextAnalysis.qualityGateCol($"text").cast("int").as("got"))
    assert(q.join(qg, Seq("doc_id"))
      .where($"want" =!= $"got" ||
        $"want".isNull =!= $"got".isNull).count() === 0,
      "qualityGateCol drifted from quality()'s keep_flag")
    val g = TextAnalysis.gopherRules(spark, sf)
      .select($"doc_id", $"gopher_flag".as("want"))
    val gg = docs.select($"doc_id",
      TextAnalysis.gopherGateCol($"text").cast("int").as("got"))
    assert(g.join(gg, Seq("doc_id"))
      .where($"want" =!= $"got" ||
        $"want".isNull =!= $"got".isNull).count() === 0,
      "gopherGateCol drifted from gopherRules()'s gopher_flag")
    // the builders compose straight into the admission gate
    val verdictActions = Dedup.admitBatch(spark,
      java.nio.file.Files.createTempDirectory("graft_gatecol_")
        .resolve("idx").toString,
      java.nio.file.Files.createTempDirectory("graft_gatecol_")
        .resolve("cl").toString,
      docs.limit(50), batchId = 0L,
      gate = Some(TextAnalysis.qualityGateCol($"text")))
      .select($"action").distinct().as[String].collect().toSet
    assert(verdictActions.subsetOf(Set("keep", "drop", "reject")))
  }

  test("cellSkew under live deletion vectors: footer counts minus DV " +
      "tombstones from metadata alone — no corpus read, scan-equal") {
    def vec(region: Int, j: Int): Seq[Float] =
      Seq.tabulate(4)(d =>
        (if (d == region % 4) 10f else 0f) + ((j * (d + 3)) % 5) * 0.01f)
    val idx = java.nio.file.Files
      .createTempDirectory("graft_skewdv_").resolve("idx").toString
    Similarity.ivfIndexBuild(spark,
      idx,
      (0L until 80L).map(i => (i, s"r${i % 4}", vec((i % 4).toInt, i.toInt)))
        .toDF("vec_id", "label", "embedding")
        .withColumn("embedding", $"embedding".cast("array<float>")),
      nCentroids = 4)
    val asgT = graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(idx, "assignments").toString)
    // MoR delete: tombstones only, footer counts now overcount — the
    // honest-metadata path must subtract the DV entries per file
    asgT.deleteMor($"vec_id" % 7 === 0L)
    // the reference value, from an explicit DV-masked scan
    val counts = asgT.snapshot().groupBy($"cent_id").count()
      .select($"count").as[Long].collect()
    val want = counts.max.toDouble * 4 / counts.sum
    assert(Similarity.cellSkew(spark, idx) === want,
      "DV-adjusted metadata skew diverged from the scan value")
    // STRONG no-corpus-read assert: hide the assignments DATA files;
    // footer counts live in the commit log and tombstone counts in
    // dv/, so the metadata path still answers — any scan would throw
    val filesDir = java.nio.file.Paths.get(idx, "assignments", "files")
    val hidden = java.nio.file.Paths.get(idx, "assignments", "files_hidden")
    java.nio.file.Files.move(filesDir, hidden)
    try assert(Similarity.cellSkew(spark, idx) === want,
      "cellSkew read the corpus under live DVs")
    finally java.nio.file.Files.move(hidden, filesDir)
  }

  test("quality-gated admission evaluates the arrival batch ONCE " +
      "(gate verdict rides a persisted column, both branches read it)") {
    val acc = spark.sparkContext.longAccumulator("graft_gate_evals")
    val bump = udf((id: Long) => { acc.add(1L); id })
    val raw = Tables.load(spark, sf, "documents").limit(60)
    val n = raw.count()
    val docs = raw.withColumn("doc_id", bump($"doc_id"))
    val st = java.nio.file.Files.createTempDirectory("graft_gate1x_")
    val verdicts = Dedup.admitBatch(spark,
      st.resolve("idx").toString, st.resolve("cl").toString, docs,
      batchId = 0L, gate = Some($"n_chars" >= 100L))
    val rows = verdicts.collect()
    assert(rows.length.toLong === n, "one verdict per batch doc")
    assert(rows.map(_.getString(2)).toSet.contains("reject"),
      "setup: the gate must actually reject something")
    assert(acc.value === n,
      s"arrival batch evaluated ${acc.value}/$n times — the gated " +
        "split must cost ONE batch scan, not one per branch")
    verdicts.unpersist()
  }

  test("semantic screen's stored read prunes to the batch's touched " +
      "cells' partitions (plan-asserted numFiles)") {
    def vec(region: Int, j: Int): Seq[Float] =
      Seq.tabulate(4)(d =>
        (if (d == region % 4) (if (region < 4) 10f else -10f) else 0f) +
          ((j * (d + 3)) % 5) * 0.01f)
    val idx = java.nio.file.Files
      .createTempDirectory("graft_semprune_").resolve("idx").toString
    Similarity.ivfIndexBuild(spark, idx,
      (0L until 80L).map(i => (i, s"r${i % 8}", vec((i % 8).toInt, i.toInt)))
        .toDF("vec_id", "label", "embedding")
        .withColumn("embedding", $"embedding".cast("array<float>")),
      nCentroids = 8)
    val total = graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(idx, "assignments").toString)
      .snapshotInfo(0L).files.size
    assert(total >= 8, s"setup: expected >= 8 partition files, got $total")
    // a batch entirely inside region 0's cell must not read the corpus
    val batch = (9000L until 9005L).map(i => (i, vec(0, i.toInt)))
      .toDF("vec_id", "embedding")
      .withColumn("embedding", $"embedding".cast("array<float>"))
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val pairs = Similarity.semanticScreenPairs(spark, idx, batch,
        tau = 0.3, maxCellSize = Int.MaxValue)
      val scans = pairs.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.nonEmpty, "expected the stored-cells file scan")
      pairs.collect()
      scans.foreach { s =>
        val n = s.metrics("numFiles").value
        assert(n < total,
          s"stored read scanned $n of $total files — touched-cell " +
            "partition pruning is dead")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  test("semantic hot-cell cap: a dense cell's candidate pairs bound " +
      "at O(c*cap) and the verdict components survive the cap") {
    // the adversarial shape: 300 near-identical vectors (boilerplate
    // embedding mass) land in ONE cell — uncapped pairing is O(c²)
    def jit(i: Long, d: Int): Float = ((i * (d + 3)) % 7).toFloat * 0.001f
    val dense = (0L until 300L).map(i =>
      (i, Seq.tabulate(8)(d => (if (d == 0) 10f else 0f) + jit(i, d)), 0))
    // a second, heterogeneous over-cap cell: two interleaved groups
    // (even ids on axis 2, odd on axis 3 — cross-cosine ≈ 0 < τ)
    val hetero = (1000L until 1200L).map(i =>
      (i, Seq.tabulate(8)(d =>
        (if (d == (if (i % 2 == 0) 2 else 3)) 10f else 0f) + jit(i, d)), 1))
    val assigned = (dense ++ hetero)
      .toDF("vec_id", "embedding", "cent_id")
      .withColumn("embedding", $"embedding".cast("array<float>"))
    graft.functions.VectorExprs.register(spark)
    val uncapped = Similarity.semanticPairsOf(assigned, 0.3,
      maxCellSize = Int.MaxValue)
      .select($"vec_a", $"vec_b").as[(Long, Long)].collect().toSet
    val capped = Similarity.semanticPairsOf(assigned, 0.3,
      maxCellSize = 50)
      .select($"vec_a", $"vec_b").as[(Long, Long)].collect().toSet
    // bounded candidates: each member pairs with ≤ cap hub members,
    // so the dense cell costs ≤ c·cap pairs, not c²/2
    assert(uncapped.size > 40000,
      s"setup: the dense cell must be genuinely quadratic, " +
        s"got ${uncapped.size}")
    assert(capped.size <= 500L * 50L,
      s"cap leaked past O(c*cap): ${capped.size} pairs")
    assert(capped.subsetOf(uncapped), "the cap must only REMOVE pairs")
    // recall floor — and for homogeneous/hub-covered mass, EQUALITY:
    // connected components (what the verdicts are made of) are
    // identical, because every member still pairs with its cell's
    // minimum-id hub members
    def components(pairs: Set[(Long, Long)]): Map[Long, Long] =
      Dedup.connectedComponents(
        pairs.toSeq.toDF("doc_a", "doc_b"))
        .select($"doc_id", $"cluster_id").as[(Long, Long)]
        .collect().toMap
    assert(components(capped) === components(uncapped),
      "capped components diverged from the uncapped kernel")
  }

  test("semantic dedup: one verdict per vector, canonicals are kept " +
      "component minima, deterministic across runs") {
    val emb = Tables.load(spark, sf, "embeddings")
    val n = emb.count()
    def run() = Similarity.semanticDedup(spark, sf)
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    val v = run()
    assert(v.length.toLong === n, "every vector verdicts exactly once")
    assert(v.map(_._1).distinct.length === v.length)
    // the canonical is the component MINIMUM: never larger than the
    // member, and itself always a keeper
    assert(v.forall { case (id, canon, _) => canon <= id })
    val keeps = v.filter(_._3 == "keep").map(_._1).toSet
    assert(v.map(_._2).toSet.subsetOf(keeps),
      "every canonical must itself be kept")
    assert(v.forall { case (id, canon, a) =>
      (a == "keep") == (id == canon) })
    // near-dups exist on this corpus at τ=0.3 — the verdict is not
    // a trivial all-keep
    assert(v.exists(_._3 == "drop"), "expected at least one semantic drop")
    assert(run() === v, "semantic dedup must be deterministic")
    // the INDEXED form rides a persisted IVF index's own cells: an
    // index built over the same corpus with the same Lloyd
    // parameters yields the IDENTICAL verdict set — semantic dedup
    // composes with the incremental ingest/rebalance lifecycle
    val idx = java.nio.file.Files
      .createTempDirectory("graft_semidx_").resolve("idx").toString
    Similarity.ivfIndexBuild(spark, idx, emb)
    assert(Similarity.semanticDedupIndexed(spark, idx)
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq === v,
      "indexed semantic dedup diverged from the batch operator")
  }

  test("connected components converges in O(log n) rounds on a chain") {
    // a 1000-node path is the star-contraction worst case the
    // diameter-bound algorithm choked on: 999 propagation rounds
    // there, ≤ ~2·log₂(n) alternating large/small-star rounds here
    val n = 1000
    val pairs = (0 until n - 1).map(i => (i.toLong, i.toLong + 1))
      .toDF("doc_a", "doc_b")
    // localThreshold = 0 forces the all-distributed contraction path
    // (the default would finish this toy graph driver-side at once)
    val (out, rounds) =
      Dedup.connectedComponentsWithRounds(pairs, localThreshold = 0L)
    val rows = out.as[(Long, Long, Int)].collect()
    assert(rows.length === n)
    assert(rows.forall(_._2 === 0L), "one chain must resolve to one cluster")
    assert(rows.count(_._3 === 1) === 1)
    val bound = 2 * (math.log(n.toDouble) / math.log(2)).ceil.toInt
    assert(rounds <= bound, s"$rounds rounds exceeds the O(log n) bound $bound")
    // the driver-side union-find tail produces EXACTLY the same
    // labels as the distributed contraction
    val (local, localRounds) = Dedup.connectedComponentsWithRounds(pairs)
    assert(localRounds === 0, "toy graph should finish driver-side at once")
    assert(local.as[(Long, Long, Int)].collect().sortBy(_._1).toSeq ===
      rows.sortBy(_._1).toSeq)
  }

  test("union-find tail equals distributed contraction on a random graph") {
    val rnd = new scala.util.Random(7)
    val pairs = (1 to 400)
      .map(_ => (rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter(p => p._1 != p._2).toDF("doc_a", "doc_b")
    val dist = Dedup.connectedComponentsWithRounds(pairs, localThreshold = 0L)
      ._1.as[(Long, Long, Int)].collect().sortBy(_._1).toSeq
    val local = Dedup.connectedComponentsWithRounds(pairs)
      ._1.as[(Long, Long, Int)].collect().sortBy(_._1).toSeq
    assert(local === dist)
  }

  test("approx (HLL++) profile bounds error and drops the Expand") {
    val exact = Profile.profileOrders(spark, sf)
    val approx = Profile.profileOrdersApprox(spark, sf)
    assert(approx.columns.toSeq === exact.columns.toSeq)
    val e = exact.collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_distinct")).toMap
    val a = approx.collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_distinct")).toMap
    // rsd = 5%: a 3σ (15%) envelope on every column's estimate
    e.foreach { case (c, n) =>
      assert(math.abs(a(c) - n) <= math.max(3L, (0.15 * n).toLong),
        s"$c: HLL estimate ${a(c)} too far from exact $n")
    }
    // n exact COUNT(DISTINCT)s need an Expand (n+1 scan projections);
    // the HLL++ pane is a plain one-pass aggregate without it
    assert(exact.queryExecution.executedPlan.toString.contains("Expand"))
    assert(!approx.queryExecution.executedPlan.toString.contains("Expand"))
  }

  test("profile runs ONE scan and matches per-column direct stats") {
    val out = Profile.profileOrders(spark, sf)
    // count source relations in the optimized logical plan (the
    // physical scan hides inside AdaptiveSparkPlanExec pre-execution)
    val scans = out.queryExecution.optimizedPlan.collectLeaves()
    assert(scans.size === 1, "profile must read the table exactly once")
    val rows = out.collect().map(r => r.getString(0) -> r).toMap
    val orders = Tables.load(spark, sf, "orders")
    val n = orders.count()
    val direct = orders.agg(
      countDistinct($"o_custkey"), min($"o_totalprice").cast("double"),
      max($"o_totalprice").cast("double"), min($"o_orderstatus"),
      max($"o_orderstatus")).head()
    assert(rows("o_custkey").getAs[Long]("n_rows") === n)
    assert(rows("o_custkey").getAs[Long]("n_distinct") === direct.getLong(0))
    assert(rows("o_totalprice").getAs[Double]("min_num") === direct.getDouble(1))
    assert(rows("o_totalprice").getAs[Double]("max_num") === direct.getDouble(2))
    assert(rows("o_orderstatus").getAs[String]("min_str") === direct.getString(3))
    assert(rows("o_orderstatus").getAs[String]("max_str") === direct.getString(4))
    assert(rows("o_orderkey").getAs[Long]("null_count") === 0L)
  }

  test("profile survives dotted column names and duplicate entries") {
    val df = Seq((1L, "x"), (2L, null), (3L, "x"))
      .toDF("id", "v").withColumnRenamed("v", "props.lang")
    val out = Profile.profile(df, Seq("props.lang", "id", "props.lang"))
      .collect()
    assert(out.length === 3)
    val dotted = out.filter(_.getString(0) == "props.lang")
    assert(dotted.length === 2)
    dotted.foreach { r =>
      assert(r.getAs[Long]("null_count") === 1L)
      assert(r.getAs[Long]("n_distinct") === 1L)
      assert(r.getAs[String]("min_str") === "x")
    }
    assert(out.find(_.getString(0) == "id").get.getAs[Double]("max_num") === 3.0)
  }

  test("forgetDocs purges a doc from the index and clusters; its " +
      "former near-dup then admits with a fresh canonical") {
    def text(i: Long) =
      s"forget$i alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val stage = java.nio.file.Files.createTempDirectory("graft_forget_")
    val idx = stage.resolve("idx").toString
    val cl = stage.resolve("cl").toString
    // doc 1 admitted, doc 2 drops as its near-dup (canonical 1)
    val v1 = Dedup.admitBatch(spark, idx, cl,
      Seq((1L, text(0))).toDF("doc_id", "text"), batchId = 0L)
    assert(v1.as[(Long, Long, String)].collect().toSet
      === Set((1L, 1L, "keep")))
    val b2 = Seq((2L, text(0) + " omega")).toDF("doc_id", "text")
    assert(Dedup.admitBatch(spark, idx, cl, b2, batchId = 1L)
      .as[(Long, Long, String)].collect().toSet
      === Set((2L, 1L, "drop")))
    // GDPR: doc 1 retires; the forget propagates into sigs, shingles
    // and the clusters state (component re-roots to the new min, 2)
    val retired = Seq(1L).toDF("doc_id")
    Dedup.forgetDocs(spark, idx, retired, Some(cl)).unpersist()
    def sigsT = graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(idx, "sigs").toString)
    def shT = graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(idx, "shingles").toString)
    assert(sigsT.snapshot().where($"doc_id" === 1L).count() === 0,
      "forgotten doc's signatures survived")
    assert(shT.snapshot().where($"doc_id" === 1L).count() === 0,
      "forgotten doc's shingles survived")
    assert(Dedup.clustersView(spark, cl)
      .as[(Long, Long, Int)].collect().toSet === Set((2L, 2L, 1)),
      "component did not re-root to the surviving minimum")
    // the former near-dup re-admits as its OWN canonical...
    assert(Dedup.admitBatch(spark, idx, cl, b2, batchId = 2L)
      .as[(Long, Long, String)].collect().toSet
      === Set((2L, 2L, "keep")))
    // ...and a fresh near-dup canonicalizes to 2, never to deleted 1
    assert(Dedup.admitBatch(spark, idx, cl,
        Seq((3L, text(0) + " omega psi")).toDF("doc_id", "text"),
        batchId = 3L)
      .as[(Long, Long, String)].collect().toSet
      === Set((3L, 2L, "drop")))
    // replay of the forget: deletes nothing, state unchanged
    val sigRows = sigsT.snapshot().count()
    val clusters = Dedup.clustersView(spark, cl)
      .as[(Long, Long, Int)].collect().toSet
    Dedup.forgetDocs(spark, idx, retired, Some(cl)).unpersist()
    assert(sigsT.snapshot().count() === sigRows)
    assert(Dedup.clustersView(spark, cl)
      .as[(Long, Long, Int)].collect().toSet === clusters)
  }

  test("forgetDocs audit trail is exactly-once under replay") {
    def text(i: Long) = s"fa$i lorem ipsum dolor sit amet consectetur " +
      "adipiscing elit sed do eiusmod tempor"
    val stage = java.nio.file.Files.createTempDirectory("graft_forgeta_")
    val idx = stage.resolve("idx").toString
    val audit = stage.resolve("audit").toString
    Dedup.incrementalIndex(spark, idx,
      Seq((1L, text(1)), (2L, text(2))).toDF("doc_id", "text"),
      batchId = 0L)
    Dedup.forgetDocs(spark, idx, Seq(1L).toDF("doc_id"),
      auditPath = Some(audit), batchId = 7L).unpersist()
    Dedup.forgetDocs(spark, idx, Seq(1L).toDF("doc_id"),
      auditPath = Some(audit), batchId = 7L).unpersist()
    val t = graft.tables.GraftTable.load(spark, audit)
    assert(t.snapshot().as[(Long, Long)].collect().toSeq
      === Seq((7L, 1L)), "replayed forget double-logged")
  }

  test("forgetExact retires a deleted canonical so identical content " +
      "re-seeds the ledger") {
    val stage = java.nio.file.Files.createTempDirectory("graft_forgetx_")
    val idx = stage.resolve("ledger").toString
    Dedup.incrementalExact(spark, idx,
      Seq((1L, "same text"), (5L, "other text")).toDF("doc_id", "text"))
      .count()
    // doc 7 duplicates the stored content → canonical 1
    assert(Dedup.incrementalExact(spark, idx,
        Seq((7L, "same text")).toDF("doc_id", "text"))
      .as[(Long, Long, String)].collect().map(r => (r._1, r._2)).toSet
      === Set((7L, 1L)))
    Dedup.forgetExact(spark, idx, Seq(1L).toDF("doc_id"))
    // the content re-seeds fresh (no dup against the deleted doc)...
    assert(Dedup.incrementalExact(spark, idx,
        Seq((9L, "same text")).toDF("doc_id", "text")).count() === 0)
    // ...and later copies dedupe against the NEW canonical
    assert(Dedup.incrementalExact(spark, idx,
        Seq((11L, "same text")).toDF("doc_id", "text"))
      .as[(Long, Long, String)].collect().map(r => (r._1, r._2)).toSet
      === Set((11L, 9L)))
  }

  test("forgetEverywhere retires a doc from EVERY surface in one " +
      "call; a crash between content and sketch deletes replays to " +
      "the same state; the whole call is idempotent") {
    import graft.tables.GraftTable
    def text(i: Long) =
      s"fe$i alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val stage = java.nio.file.Files.createTempDirectory("graft_fe_")
    val idx = stage.resolve("idx").toString
    val cl = stage.resolve("cl").toString
    val ledger = stage.resolve("ledger").toString
    val audit = stage.resolve("audit").toString
    // corpus: 1 admitted, 2 drops as 1's near-dup, 3 distinct
    val corpusDf = Seq((1L, text(0)), (2L, text(0) + " omega"),
      (3L, "totally different content with its own distinct words here"))
      .toDF("doc_id", "text")
    val corpusT = GraftTable.create(spark,
      stage.resolve("corpus").toString, corpusDf)
    val verdicts = Dedup.admitBatch(spark, idx, cl, corpusDf, batchId = 0L)
    val curatedT = GraftTable.create(spark,
      stage.resolve("curated").toString,
      corpusDf.join(verdicts.where($"action" === "keep").select("doc_id"),
        Seq("doc_id"), "left_semi"))
    assert(curatedT.snapshot().where($"doc_id" === 1L).count() === 1,
      "setup: the doc to forget must be curated")
    Dedup.incrementalExact(spark, ledger, corpusDf).count()
    // the docs' embeddings live in a persisted ANN index too — the
    // front door must purge that surface as well (vec_id = doc_id)
    val ivf = stage.resolve("ivf").toString
    Similarity.ivfIndexBuild(spark, ivf,
      Seq((1L, "d", Seq(1f, 0f, 0f, 0f)), (2L, "d", Seq(0f, 1f, 0f, 0f)),
        (3L, "d", Seq(0f, 0f, 1f, 0f)), (4L, "d", Seq(0f, 0f, 0f, 1f)))
        .toDF("vec_id", "label", "embedding")
        .withColumn("embedding", $"embedding".cast("array<float>")),
      nCentroids = 2)
    def ivfVecs = GraftTable.load(spark,
        java.nio.file.Paths.get(ivf, "assignments").toString)
      .snapshot().select($"vec_id").as[Long].collect().toSet
    val retired = Seq(1L).toDF("doc_id")
    // simulated CRASH between content and sketch deletes: only the
    // content surfaces committed before the process died...
    Dedup.forgetEverywhere(spark, retired,
      corpus = Some(corpusT), curated = Some(curatedT)).unpersist()
    assert(corpusT.snapshot().where($"doc_id" === 1L).count() === 0)
    // ...then the REPLAY runs the full call — every step idempotent
    Dedup.forgetEverywhere(spark, retired,
      corpus = Some(corpusT), curated = Some(curatedT),
      indexPath = Some(idx), clustersPath = Some(cl),
      ledgerPath = Some(ledger), auditPath = Some(audit),
      batchId = 7L, ivfIndexPath = Some(ivf)).unpersist()
    // NO surface returns the doc
    assert(corpusT.snapshot().where($"doc_id" === 1L).count() === 0)
    assert(curatedT.snapshot().where($"doc_id" === 1L).count() === 0)
    assert(ivfVecs === Set(2L, 3L, 4L),
      "the ANN index must purge exactly the retired doc's vector")
    def sub(s: String) = GraftTable.load(spark,
      java.nio.file.Paths.get(idx, s).toString).snapshot()
    assert(sub("sigs").where($"doc_id" === 1L).count() === 0)
    assert(sub("shingles").where($"doc_id" === 1L).count() === 0)
    assert(Dedup.clustersView(spark, cl)
      .where($"doc_id" === 1L || $"cluster_id" === 1L).count() === 0,
      "no surviving cluster assignment may name the forgotten doc")
    // probe surface: fresh near-dup content canonicalizes to the
    // re-rooted survivor (2), never the forgotten doc
    assert(Dedup.admitBatch(spark, idx, cl,
        Seq((9L, text(0) + " psi")).toDF("doc_id", "text"), batchId = 1L)
      .as[(Long, Long, String)].collect().toSet === Set((9L, 2L, "drop")))
    // ledger surface: the forgotten doc's exact content re-seeds
    assert(Dedup.incrementalExact(spark, ledger,
      Seq((11L, text(0))).toDF("doc_id", "text")).count() === 0)
    // audit: exactly one record, and a full replay changes NOTHING
    def auditRows = GraftTable.load(spark, audit).snapshot()
      .select($"batch_id", $"doc_id").as[(Long, Long)].collect().toSeq
    assert(auditRows === Seq((7L, 1L)))
    val before = (corpusT.snapshot().count(), curatedT.snapshot().count(),
      sub("sigs").count(), sub("shingles").count(), ivfVecs,
      Dedup.clustersView(spark, cl).as[(Long, Long, Int)].collect().toSet)
    Dedup.forgetEverywhere(spark, retired,
      corpus = Some(corpusT), curated = Some(curatedT),
      indexPath = Some(idx), clustersPath = Some(cl),
      ledgerPath = Some(ledger), auditPath = Some(audit),
      batchId = 7L, ivfIndexPath = Some(ivf)).unpersist()
    assert((corpusT.snapshot().count(), curatedT.snapshot().count(),
      sub("sigs").count(), sub("shingles").count(), ivfVecs,
      Dedup.clustersView(spark, cl).as[(Long, Long, Int)].collect().toSet)
      === before, "replayed forget changed state")
    assert(auditRows === Seq((7L, 1L)), "replayed forget double-logged")
  }

  test("forgetEverywhere audits LAST: a failing ledger purge leaves " +
      "no audit record; the repaired replay logs exactly once") {
    import graft.tables.GraftTable
    val stage = java.nio.file.Files.createTempDirectory("graft_feord_")
    val idx = stage.resolve("idx").toString
    val ledger = stage.resolve("ledger")
    val audit = stage.resolve("audit").toString
    Dedup.incrementalIndex(spark, idx,
      Seq((1L, "ord lorem ipsum dolor sit amet consectetur adipiscing"))
        .toDF("doc_id", "text"), batchId = 0L)
    // corrupt ledger: _graft_log exists but is an unreadable FILE, so
    // forgetExact's load throws AFTER the sketch deletes committed
    java.nio.file.Files.createDirectories(ledger)
    java.nio.file.Files.writeString(ledger.resolve("_graft_log"),
      "not a log")
    intercept[Throwable] {
      Dedup.forgetEverywhere(spark, Seq(1L).toDF("doc_id"),
        indexPath = Some(idx), ledgerPath = Some(ledger.toString),
        auditPath = Some(audit), batchId = 3L)
    }
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(audit, "_graft_log")),
      "audit record certified an INCOMPLETE pass (ledger still held " +
        "the retired canonicals)")
    // repair (drop the dead ledger surface) and replay: audit lands once
    Dedup.forgetEverywhere(spark, Seq(1L).toDF("doc_id"),
      indexPath = Some(idx), auditPath = Some(audit), batchId = 3L)
      .unpersist()
    assert(GraftTable.load(spark, audit).snapshot()
      .select($"batch_id", $"doc_id").as[(Long, Long)].collect().toSeq
      === Seq((3L, 1L)))
  }

  test("forgetEverywhere with no sketch index still repairs the " +
      "clusters state and audits") {
    import graft.tables.GraftTable
    val stage = java.nio.file.Files.createTempDirectory("graft_fenc_")
    val cl = stage.resolve("cl").toString
    val audit = stage.resolve("audit").toString
    Dedup.incrementalClusters(spark, cl,
      Seq((1L, 2L), (2L, 4L)).toDF("doc_a", "doc_b")).unpersist()
    Dedup.forgetEverywhere(spark, Seq(1L).toDF("doc_id"),
      clustersPath = Some(cl), auditPath = Some(audit), batchId = 5L)
      .unpersist()
    // component {1,2,4} re-roots to 2 with 1 gone
    assert(Dedup.clustersView(spark, cl)
      .as[(Long, Long, Int)].collect().toSet
      === Set((2L, 2L, 1), (4L, 2L, 0)))
    assert(GraftTable.load(spark, audit).snapshot()
      .select($"batch_id", $"doc_id").as[(Long, Long)].collect().toSeq
      === Seq((5L, 1L)))
    // replay: state unchanged, no double-log
    Dedup.forgetEverywhere(spark, Seq(1L).toDF("doc_id"),
      clustersPath = Some(cl), auditPath = Some(audit), batchId = 5L)
      .unpersist()
    assert(Dedup.clustersView(spark, cl)
      .as[(Long, Long, Int)].collect().toSet
      === Set((2L, 2L, 1), (4L, 2L, 0)))
    assert(GraftTable.load(spark, audit).snapshot().count() === 1)
  }

  test("forgetVectors removes retired vectors from the IVF cells") {
    val emb = Tables.load(spark, sf, "embeddings")
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_forget_").toString
    Similarity.ivfIndexBuild(spark, path, emb.filter($"vec_id" % 4 =!= 0))
    Similarity.ivfIndexIngest(spark, path, emb.filter($"vec_id" % 4 === 0))
    val q = emb.filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0)
    val before = Similarity.ivfIndexQuery(spark, path, q, k = 5,
      excludeVecId = 0L).select($"vec_id").as[Long].collect().toSeq
    val gone = before.head
    Similarity.forgetVectors(spark, path, Seq(gone).toDF("vec_id"))
    val t = graft.tables.GraftTable.load(spark,
      java.nio.file.Paths.get(path, "assignments").toString)
    assert(t.snapshot().where($"vec_id" === gone).count() === 0,
      "forgotten vector survived in the cell table")
    val after = Similarity.ivfIndexQuery(spark, path, q, k = 5,
      excludeVecId = 0L).select($"vec_id").as[Long].collect().toSeq
    assert(!after.contains(gone), "forgotten vector still served")
    assert(after.size === 5)
    // replay: nothing left to delete, serving unchanged
    Similarity.forgetVectors(spark, path, Seq(gone).toDF("vec_id"))
    assert(Similarity.ivfIndexQuery(spark, path, q, k = 5,
      excludeVecId = 0L).select($"vec_id").as[Long].collect().toSeq
      === after)
  }

  test("kmeansFitOf's release thunk clears the Lloyd corpus cache — " +
      "unpersisting the derived assignment frame was a silent no-op") {
    val emb = Tables.load(spark, sf, "embeddings").limit(200)
    // track the SPECIFIC rdd ids the fit adds (a bare size compare is
    // GC-flaky: stale localCheckpoint blocks from earlier tests can
    // vanish mid-test)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (_, assigned, release) = Similarity.kmeansFitOf(spark, emb, 4, 1)
    assigned.count()
    def added() = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added().nonEmpty,
      "setup: Lloyd must persist the quantized corpus")
    // the historical bug: the returned frame is DERIVED (withColumn)
    // from the cached plan, so unpersisting it releases nothing
    assigned.unpersist()
    assert(added().nonEmpty,
      "setup: derived-frame unpersist is the no-op the thunk replaces")
    release()
    assert(added().isEmpty,
      "release() must clear the Lloyd cache entry")
  }

  test("incrementalExact tolerates duplicate ledger rows (racing " +
      "blind-appends): one deterministic min-canonical verdict per " +
      "doc, not a fan-out of conflicting rows") {
    val idx = java.nio.file.Files
      .createTempDirectory("graft_exdup_").resolve("idx").toString
    Dedup.incrementalExact(spark, idx,
      Seq((10L, "race duplicate text")).toDF("doc_id", "text")).count()
    // simulate the second racer landing the same novel hash under a
    // different canonical
    val h = Seq("race duplicate text").toDF("text")
      .select(md5($"text")).head().getString(0)
    graft.tables.GraftTable.load(spark, idx)
      .append(Seq((h, 99L)).toDF("content_hash", "canonical_id"))
    val out = Dedup.incrementalExact(spark, idx,
      Seq((20L, "race duplicate text")).toDF("doc_id", "text"))
      .select($"doc_id", $"canonical_id").collect().map(r =>
        (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq((20L, 10L)),
      "duplicate ledger rows must collapse to ONE min-canonical " +
        s"verdict, got ${out.toSeq}")
  }

  test("exact dedup excludes null texts — N unrelated null-text docs " +
      "are not copies of one another (the incremental twin's guard)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_exnull_").toString
    Seq((1L, "same text"), (2L, "same text"),
        (3L, null.asInstanceOf[String]), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val out = Dedup.exact(spark, dir).collect()
    assert(out.length === 1, s"got ${out.length} groups")
    assert(out.head.getLong(0) === 1L)
    assert(out.head.getLong(2) === 2L, "the real pair groups; nulls drop")
  }

  test("multimodal guards: a null payload yields zero frames (not an " +
      "NPE), and frame_idx overflowing the 2^16 vec_id packing " +
      "refuses instead of colliding with the next asset") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mmguard_").toString
    Seq((1L, "hello world frame payload"),
        (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    // null payload: the typed flatMap skips the asset
    val frames = Multimodal.frameSample(spark, dir)
    assert(frames.where($"media_id" === 2L).count() === 0L)
    assert(frames.where($"media_id" === 1L).count() > 0L)
    assert(Multimodal.extractFeatures(spark, dir).count() === 1L)
    // overflow: a 70k-frame asset at stride 1 crosses 65536
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_mmovf_").toString
    Seq((1L, "x" * 70000)).toDF("doc_id", "text")
      .write.parquet(s"$dir2/documents.parquet")
    val e = intercept[Exception] {
      // sum over vec_id, not count(): column pruning would strip the
      // guarded projection from a row-count plan entirely
      Multimodal.frameEmbeddings(spark, dir2, frameSize = 4,
        stride = 1).agg(sum($"vec_id")).head()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("overflows the 2^16")),
      s"expected the packing refusal, got: ${msgs(e).mkString(" | ")}")
  }

  test("candidate-id file pruning falls back to the full scan above " +
      "the 2^53 double-exactness ceiling — near-dup pairs between " +
      "huge doc_ids still surface") {
    val big = 1L << 53
    val idx = java.nio.file.Files
      .createTempDirectory("graft_bigid_").toString
    val text = "the quick brown fox jumps over the lazy dog again and again"
    Dedup.incrementalIndex(spark, idx,
      Seq((big + 1L, text)).toDF("doc_id", "text"), batchId = 0L)
    // identical text: every band signature matches deterministically,
    // so the ONLY thing that can lose the pair is the file prune
    val pairs = Dedup.incrementalDedup(spark, idx,
      Seq((big + 3L, text)).toDF("doc_id", "text"),
      batchId = 1L)
    val got = pairs.select($"doc_a", $"doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    pairs.unpersist()
    assert(got.toSeq === Seq((big + 1L, big + 3L)),
      s"the huge-id near-dup pair must survive pruning, got ${got.toSeq}")
  }
}
