package graft

import org.apache.spark.sql.functions._

/** The r19 subword exit: segment-ID emission, the vp token pack,
  * externally-supplied vocabularies, the production broadcast-join
  * seam, incremental sequence packing, and DESCRIBE PACK.
  */
class SubwordPackSpec extends SparkSpec {
  import spark.implicits._

  test("vocabSegmentIds: greedy longest-match emits the matched " +
      "grams' ids in cursor order, single-char fallbacks to UNK 0") {
    val docs = Seq(
      (1L, "abcde xq"),     // abcd(1) + e-fallback(0); x(0), q(0)
      (2L, "ABCD"),         // lowercased -> abcd(1)
      (3L, "zzabzz"),       // z(0) z(0) ab(2) z(0) z(0)
      (4L, "...!!!")        // no [a-z0-9] word at all -> empty
    ).toDF("doc_id", "text")
    val vocab = Seq(("abcd", 1L), ("ab", 2L), ("cd", 3L))
      .toDF("token", "id")
    val got = operators.TextAnalysis.vocabSegmentIds(docs, vocab)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Long](1).toList).toMap
    assert(got(1L) === List(1L, 0L, 0L, 0L))
    assert(got(2L) === List(1L))
    assert(got(3L) === List(0L, 0L, 2L, 0L, 0L))
    assert(got(4L) === Nil)
  }

  test("vocabSegmentIds derives the probe window from the vocabulary " +
      "itself: entries outside the induced [2,5] range (a 6-char " +
      "piece, a 1-char piece) are reachable instead of silently UNK") {
    val docs = Seq((1L, "ingest x kw"), (2L, "zingestz"))
      .toDF("doc_id", "text")
    val vocab = Seq(("ingest", 5L), ("x", 9L), ("kw", 2L))
      .toDF("token", "id")
    val got = operators.TextAnalysis.vocabSegmentIds(docs, vocab)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Long](1).toList).toMap
    assert(got(1L) === List(5L, 9L, 2L))
    // mid-word: z-fallback, the 6-char match, z-fallback — BUT 'z'
    // falls back at length 1 while 'x' matches the 1-char vocab
    // entry, so fallback and match stay distinguishable
    assert(got(2L) === List(0L, 5L, 0L))
    // a >32-char entry refuses loudly instead of an unbounded chain
    val big = Seq(("a" * 33, 1L)).toDF("token", "id")
    val err = intercept[IllegalArgumentException] {
      operators.TextAnalysis.vocabSegmentIds(docs, big).collect()
    }
    assert(err.getMessage.contains("capped"), err.getMessage)
  }

  test("vocabSegmentIds and vocabSegments share the step: array " +
      "length == counted measure on the real corpus") {
    val docs = Tables.load(spark, sf, "documents")
    val grams = operators.TextAnalysis.inducedGrams(spark, sf)
    val counts = operators.TextAnalysis.vocabSegments(docs, grams)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val ids = operators.TextAnalysis.vocabSegmentIdsScenario(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(ids === counts,
      "size(vp_ids) diverged from the vp_tokens count")
    assert(counts.values.sum > 0L, "setup: the corpus must encode")
  }

  test("vp pack: a SUPPLIED gram vocabulary reproduces the induced " +
      "pack bit-for-bit when the tables match") {
    val docs = Tables.load(spark, sf, "documents")
    val root = java.nio.file.Files.createTempDirectory("graft_vpsup_")
    val induced = operators.TextAnalysis.packTokensMaterialize(docs,
      root.resolve("a").toString, seqLen = 128L, vocabSize = 64,
      tokenizer = "vp")
    val vdf = operators.TextAnalysis.gramVocab(docs, 64)
    val supplied = operators.TextAnalysis.packTokensMaterialize(docs,
      root.resolve("b").toString, seqLen = 128L, vocabSize = 64,
      tokenizer = "vp", vocab = Some(vdf))
    assert(supplied.collect().map(_.toSeq).toSet ===
      induced.collect().map(_.toSeq).toSet,
      "VOCAB FROM must be a drop-in for the induced ranking")
    assert(induced.count() > 0L)
  }

  test("whole-token pack: a SUPPLIED (token, id) table reproduces " +
      "the induced pack (the ws VOCAB FROM seam)") {
    val docs = Tables.load(spark, sf, "documents")
    val root = java.nio.file.Files.createTempDirectory("graft_wssup_")
    val induced = operators.TextAnalysis.packTokensMaterialize(docs,
      root.resolve("a").toString, seqLen = 128L, vocabSize = 512)
    val vdf = operators.TextAnalysis.tokenVocab(docs, 512)
    val supplied = operators.TextAnalysis.packTokensMaterialize(docs,
      root.resolve("b").toString, seqLen = 128L, vocabSize = 512,
      vocab = Some(vdf))
    assert(supplied.collect().map(_.toSeq).toSet ===
      induced.collect().map(_.toSeq).toSet)
  }

  test("the production-V broadcast-join spelling is value-identical " +
      "to the literal-map probe at the full 512-token vocab") {
    val docs = Tables.load(spark, sf, "documents")
    val vdf = operators.TextAnalysis.tokenVocab(docs, 512)
    val toks = docs.select($"doc_id",
      regexp_extract_all($"text", lit("\\S+"), lit(0)).as("__toks"))
    val vmap = broadcast(vdf.agg(map_from_entries(
      collect_list(struct($"token", $"id"))).as("__vmap")))
    val viaMap = toks.crossJoin(vmap)
      .select($"doc_id", transform($"__toks",
        t => coalesce(element_at($"__vmap", t), lit(0L))).as("__ids"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList))
      .toMap
    val viaJoin = operators.TextAnalysis.tokenIdsByJoin(toks, vdf)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList))
      .toMap
    assert(viaJoin === viaMap,
      "the guarded broadcast-join seam drifted from the map probe")
  }

  test("PACK SEQUENCES ... IDS TOKENIZER vp lands the subword pack " +
      "from SQL; VOCAB FROM drives it with a landed vocab table") {
    val docs = Tables.load(spark, sf, "documents")
    val root = java.nio.file.Files.createTempDirectory("graft_vpsql_")
    docs.write.parquet(root.resolve("src").toString)
    val src = root.resolve("src").toString
    val api = operators.TextAnalysis.packTokensMaterialize(docs,
      root.resolve("api").toString, seqLen = 128L, vocabSize = 64,
      tokenizer = "vp").collect().map(_.toSeq).toSet
    val viaSql = graft.tables.GraftSql.sql(spark,
      s"PACK SEQUENCES FROM '$src' LENGTH 128 " +
        s"TOKENIZER vp MATERIALIZE TO '${root.resolve("sql")}' IDS " +
        "VOCAB SIZE 64").collect().map(_.toSeq).toSet
    assert(viaSql === api, "the SQL spelling diverged from the API")
    // a landed (token, id) parquet table drives the pack without
    // re-induction
    val vocabPath = root.resolve("vocab").toString
    operators.TextAnalysis.gramVocab(docs, 64).write.parquet(vocabPath)
    val viaFrom = graft.tables.GraftSql.sql(spark,
      s"PACK SEQUENCES FROM '$src' LENGTH 128 " +
        s"TOKENIZER vp MATERIALIZE TO '${root.resolve("from")}' IDS " +
        s"VOCAB FROM '$vocabPath'").collect().map(_.toSeq).toSet
    assert(viaFrom === api, "VOCAB FROM diverged from the induced pack")
    // grammar guards: VOCAB FROM needs IDS; SIZE and FROM conflict
    val e1 = intercept[IllegalArgumentException] {
      graft.tables.GraftSql.sql(spark,
        s"PACK SEQUENCES FROM '$src' VOCAB FROM '$vocabPath'")
    }
    assert(e1.getMessage.contains("add IDS"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      graft.tables.GraftSql.sql(spark,
        s"PACK SEQUENCES FROM '$src' MATERIALIZE " +
          s"TO '${root.resolve("x")}' IDS VOCAB SIZE 64 " +
          s"VOCAB FROM '$vocabPath'")
    }
    assert(e2.getMessage.contains("pick one"), e2.getMessage)
  }

  test("bpeInduct: the driver-loop merge sequence equals an " +
      "imperative reference BPE (Sennrich-style, left-to-right, " +
      "ties by (count desc, pair)); the induced vocab feeds the " +
      "subword pack end-to-end") {
    val docs = Seq(
      (1L, "low low low lower lower newest newest newest"),
      (2L, "newest newest widest widest widest low lowest"))
      .toDF("doc_id", "text")
    // imperative reference over the word-frequency dict
    def refBpe(words: Map[String, Long], numMerges: Int,
        minCount: Long): Seq[(String, Long)] = {
      var wf = words.toSeq.map { case (w, c) =>
        (w.map(_.toString).toVector, c) }
      val out = scala.collection.mutable.ArrayBuffer[(String, Long)]()
      var i = 0; var done = false
      while (i < numMerges && !done) {
        val counts =
          scala.collection.mutable.Map[(String, String), Long]()
        for ((syms, c) <- wf; j <- 0 until syms.length - 1)
          counts((syms(j), syms(j + 1))) =
            counts.getOrElse((syms(j), syms(j + 1)), 0L) + c
        val best = counts.toSeq
          .sortBy { case ((a, b), n) => (-n, a, b) }.headOption
        best match {
          case Some(((a, b), n)) if n >= minCount =>
            out += ((a + b, n))
            wf = wf.map { case (syms, c) =>
              val buf = Vector.newBuilder[String]
              var k = 0
              while (k < syms.length) {
                if (k + 1 < syms.length && syms(k) == a &&
                    syms(k + 1) == b) { buf += (a + b); k += 2 }
                else { buf += syms(k); k += 1 }
              }
              (buf.result(), c)
            }
            i += 1
          case _ => done = true
        }
      }
      out.toSeq
    }
    val words = Seq("low", "low", "low", "low", "lower", "lower",
      "newest", "newest", "newest", "newest", "newest", "widest",
      "widest", "widest", "lowest")
      .groupBy(identity).map { case (w, g) => (w, g.size.toLong) }
    val expected = refBpe(words, 8, 2L)
    val vocab = operators.TextAnalysis.bpeInduct(docs, 8, 2L)
    val rows = vocab.orderBy($"id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val nChars = words.keys.flatMap(_.toSeq).toSet.size
    val gotMerges = rows.drop(nChars).map(r => (r._1, r._3)).toSeq
    assert(gotMerges === expected,
      "distributed merge sequence diverged from the reference BPE")
    assert(rows.take(nChars).map(_._1).toSeq ===
      words.keys.flatMap(_.toSeq).toSet.toSeq.sorted.map(_.toString),
      "base characters must precede merges in rank order")
    // the induced table drives the subword pack end-to-end, and the
    // landed fill total equals the encode total under the same vocab
    val root = java.nio.file.Files.createTempDirectory("graft_bpe_")
    val m = operators.TextAnalysis.packTokensMaterialize(docs,
      root.resolve("seqs").toString, seqLen = 16L, tokenizer = "vp",
      vocab = Some(vocab))
    val landed = m.agg(sum($"filled_tokens")).head().getLong(0)
    val encoded = operators.TextAnalysis
      .vocabSegmentIds(docs, vocab)
      .agg(sum(size($"vp_ids"))).head().getLong(0)
    assert(landed === encoded,
      "pack fills diverged from the encode under the BPE vocab")
    assert(landed > 0L)
  }

  test("packSequencesIngest: batches accumulate to the one-shot " +
      "spans, a sequence carries a doc across the batch seam, and a " +
      "replay re-lands nothing") {
    val docs = Tables.load(spark, sf, "documents")
    val p = java.nio.file.Files.createTempDirectory("graft_pincspec_")
    val b0 = operators.TextAnalysis.packSequencesIngest(spark,
      p.toString, docs.where($"doc_id" < 170), 0L)
    operators.TextAnalysis.packSequencesIngest(spark, p.toString,
      docs.where($"doc_id" >= 170), 1L)
    // replay of batch 1: both watermarks skip
    operators.TextAnalysis.packSequencesIngest(spark, p.toString,
      docs.where($"doc_id" >= 170), 1L)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toSet
    val oneShot = operators.TextAnalysis.packSequences(docs)
    val landed = graft.tables.GraftTable.load(spark,
        java.nio.file.Paths.get(p.toString, "assignments").toString)
      .snapshot()
    assert(landed.count() === docs.count(), "replay must be a no-op")
    assert(key(b0) === key(oneShot.where($"doc_id" < 170)),
      "batch-0 spans must equal the one-shot prefix")
    val manifest = operators.TextAnalysis.packIngestManifest(spark,
      p.toString)
    val oneShotManifest = operators.TextAnalysis.seqManifest(docs)
    assert(manifest.collect().map(_.toSeq).toSet ===
      oneShotManifest.collect().map(_.toSeq).toSet,
      "accumulated manifest diverged from the one-shot rollup")
    // the seam: the sequence holding batch 1's first doc also holds a
    // batch-0 doc (the open partial sequence filled across batches)
    val seamSeq = oneShot.where($"doc_id" === 170L)
      .select($"start_seq").head().getLong(0)
    val seamDocs = manifest.where($"seq_id" === seamSeq)
      .select($"first_doc", $"last_doc").head()
    assert(seamDocs.getLong(0) < 170L && seamDocs.getLong(1) >= 170L,
      "the batch seam's sequence must span both batches — pick a " +
        "corpus split that does not align to seqLen")
  }

  test("packTokensIngest: batches assemble to the one-shot token " +
      "pack under a pinned vocabulary, the boundary sequence " +
      "completes across batches, and a replay re-lands nothing") {
    val docs = Tables.load(spark, sf, "documents")
    val pinned = operators.TextAnalysis.tokenVocab(docs, 512)
    val p = java.nio.file.Files.createTempDirectory("graft_tokincspec_")
    operators.TextAnalysis.packTokensIngest(spark, p.toString,
      docs.where($"doc_id" < 170), 0L, vocab = Some(pinned))
    operators.TextAnalysis.packTokensIngest(spark, p.toString,
      docs.where($"doc_id" >= 170 && $"doc_id" < 340), 1L)
    operators.TextAnalysis.packTokensIngest(spark, p.toString,
      docs.where($"doc_id" >= 340), 2L)
    val fragsPath =
      java.nio.file.Paths.get(p.toString, "fragments").toString
    val n = graft.tables.GraftTable.load(spark, fragsPath)
      .snapshot().count()
    // replay of the last batch: spans, state and fragments all skip
    operators.TextAnalysis.packTokensIngest(spark, p.toString,
      docs.where($"doc_id" >= 340), 2L)
    assert(graft.tables.GraftTable.load(spark, fragsPath)
      .snapshot().count() === n, "replay must re-land nothing")
    // accumulated fragments assemble to EXACTLY the one-shot pack
    val inc = operators.TextAnalysis
      .packTokensIngestManifest(spark, p.toString)
      .collect().map(_.toSeq).toSet
    val root = java.nio.file.Files.createTempDirectory("graft_tokos_")
    val oneShot = operators.TextAnalysis.packTokensMaterialize(docs,
      root.resolve("seqs").toString, seqLen = 128L,
      vocab = Some(pinned)).collect().map(_.toSeq).toSet
    assert(inc === oneShot,
      "incremental fragments diverged from the one-shot token pack")
    // the batch seam: the sequence holding batch 1's first fragment
    // also holds a batch-0 doc (the open sequence filled across)
    val frags = graft.tables.GraftTable.load(spark, fragsPath)
      .snapshot()
    val seamSeq = frags.where($"batch_id" === 1L)
      .agg(min($"seq_id")).head().getLong(0)
    val seamBatches = frags.where($"seq_id" === seamSeq)
      .select($"batch_id").distinct().count()
    assert(seamBatches === 2L,
      "the seam sequence must carry fragments from BOTH batches — " +
        "pick a corpus split that does not align to seqLen")
    // the vocabulary stayed PINNED: later batches encoded against
    // batch 0's table, not a re-induction over their own slice (the
    // landed table carries the normalized shape with null merge-pair
    // columns — project to the id mapping for the compare)
    val landedVocab = graft.tables.GraftTable.load(spark,
        java.nio.file.Paths.get(p.toString, "vocab").toString)
      .snapshot().select($"token", $"id").collect()
      .map(_.toSeq).toSet
    assert(landedVocab ===
      pinned.select($"token", $"id").collect().map(_.toSeq).toSet)
    // DESCRIBE PACK serves the incremental layout: pinned constants
    // from the meta sidecar, totals re-aggregated live
    val row = graft.tables.GraftSql.sql(spark,
      s"DESCRIBE PACK '${p.toString}'").head()
    assert(row.getString(0) === "incremental_tokens")
    assert(row.getString(1) === "ws")
    assert(row.getLong(2) === 128L)
    // vocab_size = the PINNED table's actual rows (the tiny corpus
    // has fewer distinct tokens than the 512 cap)
    assert(row.getLong(3) === pinned.count())
    assert(row.getLong(4) === inc.size.toLong)
    // the pack constants REFUSE drift: a changed seqLen would corrupt
    // every boundary sequence, a different vocab would re-number ids
    val e1 = intercept[IllegalArgumentException] {
      operators.TextAnalysis.packTokensIngest(spark, p.toString,
        docs.where($"doc_id" >= 340), 3L, seqLen = 256L)
    }
    assert(e1.getMessage.contains("seq_len"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      operators.TextAnalysis.packTokensIngest(spark, p.toString,
        docs.where($"doc_id" >= 340), 3L,
        vocab = Some(Seq(("zzz", 1L)).toDF("token", "id")))
    }
    assert(e2.getMessage.contains("DIFFERENT"), e2.getMessage)
    // and the measure is ws-bound (the stored offsets' measure)
    val e3 = intercept[IllegalArgumentException] {
      operators.TextAnalysis.packTokensIngest(spark, p.toString,
        docs.where($"doc_id" >= 340), 3L, tokenizer = "bpe")
    }
    assert(e3.getMessage.contains("measure-bound"), e3.getMessage)
    // a replay of batch 0 WITH the original vocab still passes (the
    // crash-replay contract: supplying the same table is idempotent)
    operators.TextAnalysis.packTokensIngest(spark, p.toString,
      docs.where($"doc_id" < 170), 0L, vocab = Some(pinned))
    assert(graft.tables.GraftTable.load(spark, fragsPath)
      .snapshot().count() === n)
  }

  test("ml_threshold_fixed: the relational sweep picks the brute-" +
      "force argmax with ties to the smallest threshold") {
    val scored = graft.ml.RiskPipeline.scoreFixed(spark, sf)
      .select($"score", $"bad_flag").as[(Double, Int)].collect()
    val posTotal = scored.count(_._2 == 1)
    val brute = scored.map(_._1).distinct.map { t =>
      val tp = scored.count(s => s._1 >= t && s._2 == 1)
      val pp = scored.count(_._1 >= t)
      val f1 = 2.0 * tp / (2.0 * tp + (pp - tp) + (posTotal - tp))
      (t, f1, tp.toLong, (pp - tp).toLong, (posTotal - tp).toLong)
    }.sortBy(x => (-x._2, x._1)).head
    val got = graft.ml.RiskPipeline.thresholdFixed(spark, sf).head()
    assert(got.getDouble(0) === brute._1)
    assert(got.getLong(2) === brute._3 && got.getLong(3) === brute._4
      && got.getLong(4) === brute._5)
    assert(math.abs(got.getDouble(1) - brute._2) < 1e-12)
  }

  test("DESCRIBE PACK serves the landed summary in O(1) and refuses " +
      "a path with no pack") {
    val docs = Tables.load(spark, sf, "documents")
    val root = java.nio.file.Files.createTempDirectory("graft_dpack_")
    val out = root.resolve("seqs").toString
    val manifest = operators.TextAnalysis.packTokensMaterialize(docs,
      out, seqLen = 128L, vocabSize = 64, tokenizer = "vp")
    val row = graft.tables.GraftSql.sql(spark,
      s"DESCRIBE PACK '$out'").head()
    assert(row.getString(0) === "tokens" && row.getString(1) === "vp")
    assert(row.getLong(2) === 128L && row.getLong(3) === 64L)
    val agg = manifest.agg(count(lit(1)), sum($"filled_tokens"),
      sum($"ids_sum")).head()
    assert(row.getLong(4) === agg.getLong(0))
    assert(row.getLong(5) === agg.getLong(1))
    assert(row.getLong(6) === agg.getLong(2))
    val err = intercept[IllegalArgumentException] {
      graft.tables.GraftSql.sql(spark,
        s"DESCRIBE PACK '${root.resolve("nothing")}'")
    }
    assert(err.getMessage.contains("no _pack_summary.json"),
      err.getMessage)
  }

  test("the native vp_encode kernel is byte-identical to the " +
      "built-ins fold spelling on the real corpus (ids AND counts, " +
      "induced vocabulary)") {
    val docs = Tables.load(spark, sf, "documents")
    val grams = operators.TextAnalysis.inducedGrams(spark, sf)
    val vocab = operators.TextAnalysis.gramVocab(docs, 64)
    val kIds = operators.TextAnalysis.vocabSegmentIds(docs, vocab)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList))
      .toMap
    val fIds = operators.TextAnalysis.vocabSegmentIdsFold(docs, vocab)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList))
      .toMap
    assert(kIds === fIds, "kernel ids diverged from the fold spelling")
    val kCnt = operators.TextAnalysis.vocabSegments(docs, grams)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val fCnt = operators.TextAnalysis
      .vocabSegmentsFold(docs, grams)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(kCnt === fCnt,
      "kernel counts diverged from the fold spelling")
    assert(kIds.values.map(_.size.toLong).sum ===
      kCnt.values.sum, "ids length must equal the counted measure")
    assert(kCnt.values.sum > 0L, "setup: the corpus must encode")
  }

  test("vp_encode kernel ≡ fold on adversarial input: unicode " +
      "lowercasing (Kelvin sign, dotted İ, ß), multi-byte chars " +
      "flanking word runs, 1-char and id-0 vocab entries, digits") {
    // the Kelvin sign K lowercases to ASCII 'k'; İ (U+0130)
    // lowercases to 'i' + combining dot — both INJECT word bytes the
    // raw text does not carry, so the kernel must lowercase before
    // scanning, exactly like lower() + the regex
    val docs = Seq(
      (1L, "Kelvin İstanbul straße"),
      (2L, "汉字ab汉cd12字 xéy"),       // CJK flanks; é splits xy
      (3L, "A1B2C3 zz00zz"),
      (4L, ""), (5L, "...!!!   "),
      (6L, "aaa abab kkk")
    ).toDF("doc_id", "text")
    // a 1-char entry, an entry with id 0 (an external table may map
    // its UNK explicitly — must terminate and match the fold), and
    // overlapping grams
    val vocab = Seq(("ab", 7L), ("k", 3L), ("kelvin", 11L),
      ("z", 0L), ("a", 5L), ("12", 9L), ("stra", 2L), ("e", 1L))
      .toDF("token", "id")
    val k = operators.TextAnalysis.vocabSegmentIds(docs, vocab)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList))
      .toMap
    val f = operators.TextAnalysis.vocabSegmentIdsFold(docs, vocab)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList))
      .toMap
    assert(k === f, "kernel diverged from the fold on unicode input")
    // spot-pin the semantics, not just the equivalence: Kelvin sign
    // lowercases into 'kelvin' (id 11), id-0 entry 'z' matches as a
    // VOCAB hit (indistinguishable from UNK by id — by design)
    assert(k(1L).startsWith(List(11L)), k(1L).toString)
    assert(k(4L) === Nil && k(5L) === Nil)
  }

  /** Imperative merge-order reference encode — refBpe's own word
    * loop, applied at inference: chars, then each pinned merge in
    * training order (left-to-right, pending-fuse), then ids.
    */
  private def refMergeEncode(text: String,
      merges: Seq[(String, String)],
      ids: Map[String, Long]): List[Long] =
    "[a-z0-9]+".r.findAllIn(text.toLowerCase).toList.flatMap { w =>
      var syms = w.map(_.toString).toVector
      for ((a, b) <- merges) {
        val buf = Vector.newBuilder[String]; var k = 0
        while (k < syms.length) {
          if (k + 1 < syms.length && syms(k) == a &&
              syms(k + 1) == b) { buf += (a + b); k += 2 }
          else { buf += syms(k); k += 1 }
        }
        syms = buf.result()
      }
      syms.map(s => ids.getOrElse(s, 0L))
    }

  test("bpeSegmentIds applies merges in TRAINING ORDER — equal to " +
      "the imperative merge-order reference under a bpeInduct-" +
      "trained vocabulary, and DIFFERENT from greedy longest-match " +
      "where the two semantics diverge") {
    val docs = Seq(
      (1L, "low low low lower lower newest newest newest"),
      (2L, "newest newest widest widest widest low lowest"),
      (3L, "aaa abab slowest westest"))
      .toDF("doc_id", "text")
    val vocab = operators.TextAnalysis.bpeInduct(docs, 8, 2L)
    val vrows = vocab.collect()
    val ids = vrows.map(r => (r.getString(0), r.getLong(1))).toMap
    val merges = vrows.filter(!_.isNullAt(3))
      .sortBy(_.getLong(1)).map(r => (r.getString(3), r.getString(4)))
      .toSeq
    assert(merges.nonEmpty, "setup: induction must emit merges")
    val got = operators.TextAnalysis.bpeSegmentIds(docs, vocab)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList))
      .toMap
    val texts = docs.collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    texts.foreach { case (d, t) =>
      assert(got(d) === refMergeEncode(t, merges, ids),
        s"doc $d diverged from the merge-order reference")
    }
    // the canonical divergence: vocab {ab, bc} with merge (b, c)
    // ranked first — greedy takes [ab, c], merge-order [a, bc]
    val dv = Seq(("a", 1L, null: String, null: String),
      ("b", 2L, null: String, null: String),
      ("c", 3L, null: String, null: String),
      ("bc", 4L, "b", "c"), ("ab", 5L, null: String, null: String))
      .toDF("token", "id", "left", "right")
    val dd = Seq((1L, "abc")).toDF("doc_id", "text")
    val mergeIds = operators.TextAnalysis.bpeSegmentIds(dd, dv)
      .head().getSeq[Long](1).toList
    val greedyIds = operators.TextAnalysis
      .vocabSegmentIds(dd, dv.select($"token", $"id"))
      .head().getSeq[Long](1).toList
    assert(mergeIds === List(1L, 4L), mergeIds.toString)   // [a, bc]
    assert(greedyIds === List(5L, 3L), greedyIds.toString) // [ab, c]
    // a mangled merge row (token != left || right) refuses loudly
    val bad = Seq(("xy", 1L, "a", "b")).toDF("token", "id", "left",
      "right")
    val err = intercept[IllegalArgumentException] {
      operators.TextAnalysis.bpeSegmentIds(dd, bad)
    }
    assert(err.getMessage.contains("left || right"), err.getMessage)
  }

  test("packTokensMaterialize AUTO-ROUTES to the merge-order encode " +
      "when the vocabulary carries its pairs: landed ids equal the " +
      "bpeSegmentIds stream, and the summary records vp_merge") {
    val docs = Tables.load(spark, sf, "documents")
    val vocab = operators.TextAnalysis.fixedBpeVocab(spark)
    val root = java.nio.file.Files.createTempDirectory("graft_bpm_")
    val m = operators.TextAnalysis.packTokensMaterialize(docs,
      root.resolve("seqs").toString, seqLen = 128L,
      tokenizer = "vp", vocab = Some(vocab))
    val enc = operators.TextAnalysis.bpeSegmentIds(docs, vocab)
    val encTotals = enc.agg(sum(size($"vp_ids")),
      sum(aggregate($"vp_ids", lit(0L), (a, x) => a + x))).head()
    val mTotals = m.agg(sum($"filled_tokens"), sum($"ids_sum")).head()
    assert(mTotals.getLong(0) === encTotals.getLong(0),
      "pack fills diverged from the merge-order encode")
    assert(mTotals.getLong(1) === encTotals.getLong(1),
      "pack id checksum diverged from the merge-order encode")
    assert(mTotals.getLong(1) > 0L)
    val desc = operators.TextAnalysis.describePack(spark,
      root.resolve("seqs").toString).head()
    assert(desc.getString(1) === "vp_merge",
      "the summary must record the RESOLVED encode mode")
    // a pair-less projection of the same table routes greedy — the
    // two applications genuinely differ on the real corpus
    val greedy = operators.TextAnalysis.vocabSegmentIds(docs,
      vocab.select($"token", $"id"))
      .agg(sum(aggregate($"vp_ids", lit(0L), (a, x) => a + x))).head()
    assert(greedy.getLong(0) !== mTotals.getLong(1),
      "setup: greedy and merge-order should diverge on this corpus " +
        "(if they ever coincide, pick different merges)")
  }

  test("packTokensIngest vp: unaligned subword batches + a replay " +
      "assemble to the one-shot vp pack under the pinned gram " +
      "vocabulary; the measure pins and refuses drift both ways") {
    val docs = Tables.load(spark, sf, "documents")
    val pinned = operators.TextAnalysis.gramVocab(docs, 64)
    val p = java.nio.file.Files.createTempDirectory("graft_vpincs_")
    operators.TextAnalysis.packTokensIngest(spark, p.toString,
      docs.where($"doc_id" < 170), 0L, 128L, tokenizer = "vp",
      vocab = Some(pinned))
    operators.TextAnalysis.packTokensIngest(spark, p.toString,
      docs.where($"doc_id" >= 170 && $"doc_id" < 340), 1L, 128L,
      tokenizer = "vp")
    operators.TextAnalysis.packTokensIngest(spark, p.toString,
      docs.where($"doc_id" >= 340), 2L, 128L, tokenizer = "vp")
    // replay: every watermark skips
    operators.TextAnalysis.packTokensIngest(spark, p.toString,
      docs.where($"doc_id" >= 340), 2L, 128L, tokenizer = "vp")
    val inc = operators.TextAnalysis
      .packTokensIngestManifest(spark, p.toString)
      .collect().map(_.toSeq).toSet
    val root = java.nio.file.Files.createTempDirectory("graft_vpone_")
    val oneShot = operators.TextAnalysis.packTokensMaterialize(docs,
      root.resolve("seqs").toString, seqLen = 128L,
      tokenizer = "vp", vocab = Some(pinned))
      .collect().map(_.toSeq).toSet
    assert(inc === oneShot,
      "accumulated vp fragments diverged from the one-shot pack")
    assert(inc.nonEmpty)
    // measure drift refuses BOTH ways: a ws batch into the vp pack...
    val e1 = intercept[IllegalArgumentException] {
      operators.TextAnalysis.packTokensIngest(spark, p.toString,
        docs.where($"doc_id" >= 340), 3L, 128L)
    }
    assert(e1.getMessage.contains("tokenizer"), e1.getMessage)
    // ...and a vp batch into a ws pack
    val pws = java.nio.file.Files.createTempDirectory("graft_wsp_")
    operators.TextAnalysis.packTokensIngest(spark, pws.toString,
      docs.where($"doc_id" < 170), 0L, 128L)
    val e2 = intercept[IllegalArgumentException] {
      operators.TextAnalysis.packTokensIngest(spark, pws.toString,
        docs.where($"doc_id" >= 170), 1L, 128L, tokenizer = "vp")
    }
    assert(e2.getMessage.contains("tokenizer"), e2.getMessage)
    // a later pair-LESS supply of a pinned merge-carrying vocabulary
    // refuses (stripping pairs would downgrade the encode silently)
    val pm = java.nio.file.Files.createTempDirectory("graft_vpm_")
    val mvocab = operators.TextAnalysis.fixedBpeVocab(spark)
    operators.TextAnalysis.packTokensIngest(spark, pm.toString,
      docs.where($"doc_id" < 170), 0L, 128L, tokenizer = "vp",
      vocab = Some(mvocab))
    val e3 = intercept[IllegalArgumentException] {
      operators.TextAnalysis.packTokensIngest(spark, pm.toString,
        docs.where($"doc_id" >= 170), 1L, 128L, tokenizer = "vp",
        vocab = Some(mvocab.select($"token", $"id")))
    }
    assert(e3.getMessage.contains("merge pairs"), e3.getMessage)
    // and the merge-carrying pin keeps encoding merge-order on later
    // batches: accumulated == one-shot under the same spec
    operators.TextAnalysis.packTokensIngest(spark, pm.toString,
      docs.where($"doc_id" >= 170), 1L, 128L, tokenizer = "vp")
    val incM = operators.TextAnalysis
      .packTokensIngestManifest(spark, pm.toString)
      .collect().map(_.toSeq).toSet
    val rootM = java.nio.file.Files.createTempDirectory("graft_vpmo_")
    val oneM = operators.TextAnalysis.packTokensMaterialize(docs,
      rootM.resolve("seqs").toString, seqLen = 128L,
      tokenizer = "vp", vocab = Some(mvocab))
      .collect().map(_.toSeq).toSet
    assert(incM === oneM,
      "merge-order incremental fragments diverged from the one-shot")
  }

  test("DESCRIBE PACK's incremental serve folds the O(batches) " +
      "rollup ledger, equals the live re-aggregation through a " +
      "multi-batch + replay storm, and falls back live when a " +
      "crash window leaves a batch un-rolled-up") {
    val docs = Tables.load(spark, sf, "documents")
    val p = java.nio.file.Files.createTempDirectory("graft_rollup_")
    operators.TextAnalysis.packTokensIngest(spark, p.toString,
      docs.where($"doc_id" < 170), 0L, 128L)
    operators.TextAnalysis.packTokensIngest(spark, p.toString,
      docs.where($"doc_id" >= 170 && $"doc_id" < 340), 1L, 128L)
    operators.TextAnalysis.packTokensIngest(spark, p.toString,
      docs.where($"doc_id" >= 340), 2L, 128L)
    // replay storm: every watermark (incl. the rollup's) skips
    operators.TextAnalysis.packTokensIngest(spark, p.toString,
      docs.where($"doc_id" >= 340), 2L, 128L)
    operators.TextAnalysis.packTokensIngest(spark, p.toString,
      docs.where($"doc_id" >= 170 && $"doc_id" < 340), 1L, 128L)
    val rollsPath = java.nio.file.Paths.get(p.toString, "rollups")
    assert(graft.tables.GraftTable.load(spark, rollsPath.toString)
      .snapshot().count() === 3L,
      "replays must not duplicate rollup rows")
    val live = operators.TextAnalysis
      .packTokensIngestManifest(spark, p.toString)
      .agg(count(lit(1)), sum($"filled_tokens"), sum($"ids_sum"))
      .head()
    val served = operators.TextAnalysis.describePack(spark,
      p.toString).head()
    assert(served.getLong(4) === live.getLong(0), "n_sequences")
    assert(served.getLong(5) === live.getLong(1), "filled_tokens")
    assert(served.getLong(6) === live.getLong(2), "ids_sum")
    // crash window: a landed batch whose rollup append never ran —
    // simulate by dropping the rollups table; DESCRIBE must fall
    // back to the live re-aggregation, same numbers
    def rm(d: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(d))
        java.nio.file.Files.list(d).forEach(rm(_))
      java.nio.file.Files.deleteIfExists(d): Unit
    }
    rm(rollsPath)
    val fallback = operators.TextAnalysis.describePack(spark,
      p.toString).head()
    assert(fallback.getLong(4) === live.getLong(0))
    assert(fallback.getLong(5) === live.getLong(1))
    assert(fallback.getLong(6) === live.getLong(2))
    // a replay SELF-HEALS the ledger: the fresh rollup table re-lands
    // the replayed batch's row (the others stay missing → still live
    // fallback, still correct)
    operators.TextAnalysis.packTokensIngest(spark, p.toString,
      docs.where($"doc_id" >= 340), 2L, 128L)
    assert(graft.tables.GraftTable.load(spark, rollsPath.toString)
      .snapshot().count() === 1L)
    val healed = operators.TextAnalysis.describePack(spark,
      p.toString).head()
    assert(healed.getLong(5) === live.getLong(1),
      "partial ledger must not serve partial totals")
    // INTERIOR batches heal too: batch 2's rollup already landed on
    // the fresh ledger, yet replays of 0 and 1 must still re-land
    // their rows (the marker is per batch — a shared high-water
    // watermark would skip them forever and the ledger could never
    // complete)
    operators.TextAnalysis.packTokensIngest(spark, p.toString,
      docs.where($"doc_id" < 170), 0L, 128L)
    operators.TextAnalysis.packTokensIngest(spark, p.toString,
      docs.where($"doc_id" >= 170 && $"doc_id" < 340), 1L, 128L)
    assert(graft.tables.GraftTable.load(spark, rollsPath.toString)
      .snapshot().count() === 3L,
      "interior-batch replays must heal the ledger")
    val fullLedger = operators.TextAnalysis.describePack(spark,
      p.toString).head()
    assert(fullLedger.getLong(4) === live.getLong(0))
    assert(fullLedger.getLong(5) === live.getLong(1))
    assert(fullLedger.getLong(6) === live.getLong(2))
  }

  test("bpeInduct's maintained pair-count table reproduces the " +
      "full-recount loop EXACTLY — merge sequence, counts and base " +
      "chars — on the real corpus and on the classic corpus") {
    val docs = Tables.load(spark, sf, "documents")
    val inc = operators.TextAnalysis.bpeInduct(docs, 16, 2L)
      .collect().map(_.toSeq).toList
    val rec = operators.TextAnalysis.bpeInductRecount(docs, 16, 2L)
      .collect().map(_.toSeq).toList
    assert(inc === rec,
      "delta-maintained pair counts diverged from the full recount")
    assert(inc.exists(r => r(3) != null),
      "setup: the corpus must yield at least one merge")
    val classic = Seq(
      (1L, "low low low lower lower newest newest newest"),
      (2L, "newest newest widest widest widest low lowest"))
      .toDF("doc_id", "text")
    val incC = operators.TextAnalysis.bpeInduct(classic, 12, 2L)
      .collect().map(_.toSeq).toList
    val recC = operators.TextAnalysis.bpeInductRecount(classic, 12, 2L)
      .collect().map(_.toSeq).toList
    assert(incC === recC)
  }

  test("packTokensIngest refuses a pack whose meta sidecar is missing " +
      "— its constants are unknown, so it must be recreated") {
    val docs = Tables.load(spark, sf, "documents")
    val p = java.nio.file.Files.createTempDirectory("graft_nometa_")
    operators.TextAnalysis.packTokensIngest(spark, p.toString,
      docs.where($"doc_id" < 170), 0L, 128L)
    val frags = java.nio.file.Paths.get(p.toString, "fragments").toString
    val landed = graft.tables.GraftTable.load(spark, frags).latestVersion
    val meta = java.nio.file.Paths.get(p.toString, "_pack_meta.json")
    java.nio.file.Files.delete(meta)
    // neither measure, nor the pack's own seq_len, adopts the pack
    Seq(("ws", 128L), ("ws", 64L), ("vp", 128L)).foreach { case (tok, len) =>
      val e = intercept[IllegalArgumentException] {
        operators.TextAnalysis.packTokensIngest(spark, p.toString,
          docs.where($"doc_id" >= 170), 1L, len, tokenizer = tok)
      }
      assert(e.getMessage.contains(p.toString) &&
        e.getMessage.contains("recreate the pack"), e.getMessage)
    }
    assert(!java.nio.file.Files.exists(meta),
      "a refused batch must not write a sidecar")
    assert(graft.tables.GraftTable.load(spark, frags).latestVersion === landed,
      "a refused batch must land nothing")
  }

  test("DESCRIBE PACK serves a zero-sequence incremental pack (every " +
      "landed batch measured 0 tokens) from the ledger without " +
      "faulting, equal to the live fallback") {
    val vocab = Seq(("ab", 1L), ("cd", 2L)).toDF("token", "id")
    val docs = Seq((1L, "!!! ..."), (2L, "???"))
      .toDF("doc_id", "text")
    val p = java.nio.file.Files.createTempDirectory("graft_zfrag_")
    operators.TextAnalysis.packTokensIngest(spark, p.toString, docs,
      0L, 128L, tokenizer = "vp", vocab = Some(vocab))
    // the rollup row landed with a NULL max_seq (no fragments) — the
    // ledger fold must coalesce to 0 sequences, not NPE
    val served = operators.TextAnalysis.describePack(spark,
      p.toString).head()
    assert(served.getLong(4) === 0L, "n_sequences")
    assert(served.getLong(5) === 0L, "filled_tokens")
    assert(served.getLong(6) === 0L, "ids_sum")
  }

  test("the kernel's probe cache CONTENT-VERIFIES: a reused row " +
      "buffer serving a different map at the same address must not " +
      "probe the stale vocabulary (per-row maps on the SQL surface)") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, UnsafeProjection}
    import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
    import org.apache.spark.sql.types.{DataType, LongType, MapType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val mt = MapType(StringType, LongType, valueContainsNull = false)
    // ONE generated projection instance re-serializes every row into
    // the SAME buffer: identical (baseObject, offset, sizeInBytes),
    // different contents — the exact aliasing a per-row `map(k, v)`
    // produces under whole-stage codegen
    val proj = UnsafeProjection.create(Array[DataType](mt))
    val kernel = graft.functions.VocabEncodeIds(Literal("ab"),
      BoundReference(0, mt, nullable = false), 1, 5)
    def mapOf(k: String, v: Long) = new ArrayBasedMapData(
      new GenericArrayData(Array[Any](UTF8String.fromString(k))),
      new GenericArrayData(Array[Any](v)))
    val m1 = proj(InternalRow(mapOf("ab", 7L))).getMap(0)
    assert(kernel.encodeIds(UTF8String.fromString("ab"), m1)
      .toLongArray.toList === List(7L))
    val m2 = proj(InternalRow(mapOf("cd", 9L))).getMap(0)
    assert(kernel.encodeIds(UTF8String.fromString("ab"), m2)
      .toLongArray.toList === List(0L, 0L),
      "the stale cached vocabulary served for a changed map")
    assert(kernel.encodeIds(UTF8String.fromString("cd"), m2)
      .toLongArray.toList === List(9L))
    // the broadcast fast path still caches: the same map content at
    // the same address is a byte-verified HIT — pinned through the
    // build counter, because a rebuild-per-row regression would
    // return identical ids and stay invisible to output assertions
    assert(kernel.mapBuilds === 2L, "m1 and m2 each build once")
    val m3 = proj(InternalRow(mapOf("cd", 9L))).getMap(0)
    assert(kernel.encodeIds(UTF8String.fromString("cd"), m3)
      .toLongArray.toList === List(9L))
    assert(kernel.mapBuilds === 2L,
      "an unchanged map at the same address must be a cache hit, " +
        "not a rebuild")
    // end to end through the registered SQL function with per-row
    // maps (equal-size keys so every row aliases the buffer shape)
    graft.functions.VocabEncode.register(spark)
    val rows = Seq(("ab", "ab", 1L), ("cd", "cd", 2L),
        ("ab", "xx", 3L))
      .toDF("text", "k", "v")
      .selectExpr("vp_encode_ids(text, map(k, v), 1, 5) AS ids")
      .collect().map(_.getSeq[Long](0).toList).toList
    assert(rows === List(List(1L), List(2L), List(0L, 0L)),
      "per-row maps must each probe their own vocabulary")
  }
}
