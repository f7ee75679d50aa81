package graft

import graft.operators.{Multimodal, TextAnalysis}
import org.apache.spark.sql.functions._

class TextMultimodalSpec extends SparkSpec {

  test("fuzzy decontamination flags a reworded benchmark copy, not unrelated docs") {
    import spark.implicits._
    val dir = tempDir("graft_decon").toString
    def doc(id: Long, text: String) = (id, text, "en", "srcT", text.length.toLong)
    val vocabA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val benchDocs = (0L until 10L).map(i => doc(i, s"b$i one$i two$i three$i four$i five$i six$i"))
      .updated(5, doc(5L, vocabA))
    val train = Seq(
      // near-copy of bench doc 5: shares 7 of its 8 3-grams plus one new
      doc(100L, vocabA + " reworded"),
      // unrelated vocabulary: zero shingle overlap with any bench doc
      doc(101L, "red blue green yellow purple orange brown black white pink"))
    (benchDocs ++ train).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val out = TextAnalysis.decontaminateFuzzy(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((if (r.isNullAt(1)) None else Some(r.getAs[Long]("bench_doc"))),
          r.getAs[Double]("jac"), r.getAs[Boolean]("contaminated"))).toMap
    assert(out.keySet == Set(100L, 101L))
    val (b100, jac100, c100) = out(100L)
    assert(b100.contains(5L) && c100, s"expected doc 100 flagged against bench 5, got $b100 jac=$jac100")
    // 10-word source → 8 shingles, 11-word copy → 9, sharing 8: 8/9
    assert(math.abs(jac100 - 8.0 / 9.0) < 1e-3)
    val (b101, jac101, c101) = out(101L)
    assert(b101.isEmpty && jac101 == 0.0 && !c101, "unrelated doc must not be flagged")
  }

  test("langid predicts a language or 'und' for every doc") {
    val rows = TextAnalysis.langId(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    val langs = Set("de", "en", "es", "fr", "zh", "und")
    assert(rows.forall(r => langs.contains(r.getAs[String]("predicted_lang"))))
    // marker hits of 0 must map to 'und'
    assert(rows.filter(_.getAs[Long]("marker_hits") == 0)
      .forall(_.getAs[String]("predicted_lang") == "und"))
  }

  test("quality score is bounded [0,1] and ratios are sane") {
    val rows = TextAnalysis.quality(spark, sf).collect()
    assert(rows.forall { r =>
      val q = r.getAs[Double]("quality")
      q >= 0.0 && q <= 1.0001
    })
    assert(rows.forall(r => r.getAs[Double]("stop_ratio") <= 1.0))
  }

  test("gopher repetition stats equal a direct per-doc recompute") {
    val got = TextAnalysis.gopherRules(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_words"), r.getAs[Double]("dup_word_frac"),
         r.getAs[Double]("dup_2gram_frac"), r.getAs[Double]("top_2gram_frac"),
         r.getAs[Boolean]("keep"))).toMap
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
    assert(got.size == docs.count(_.getAs[String]("text").split(" ").length >= 2))
    docs.foreach { d =>
      val w = d.getAs[String]("text").split(" ")
      if (w.length >= 2) {
        val grams = w.sliding(2).map(_.mkString(" ")).toSeq
        val counts = grams.groupBy(identity).map(_._2.size)
        def r4(x: Double) = math.round((x + 1e-9) * 1e4) / 1e4
        val dupW = 1.0 - w.distinct.length.toDouble / w.length
        val dup2 = 1.0 - counts.size.toDouble / grams.size
        val top2 = counts.max.toDouble / grams.size
        val (n, gw, g2, gt, keep) = got(d.getAs[Long]("doc_id"))
        assert(n == w.length && gw == r4(dupW) && g2 == r4(dup2) && gt == r4(top2))
        assert(keep == (dup2 <= 0.08 && top2 <= 0.10 && dupW <= 0.55))
      }
    }
  }

  test("token counts: Column-expression BPE equals the reference fold on every corpus word") {
    import org.apache.spark.sql.functions._
    // plain-Scala reference of the documented semantics: chars, then
    // each applicable rule in priority order, one left-to-right
    // non-overlapping merge pass per rule
    def refBpe(w: String): Long = {
      if (w.isEmpty) return 0L
      var toks = w.map(_.toString).toList
      for (r <- TextAnalysis.BpeMerges if w.contains(r.replace(" ", ""))) {
        val Array(a, b) = r.split(" ")
        val out = scala.collection.mutable.ListBuffer[String]()
        for (t <- toks) {
          if (out.nonEmpty && out.last == a && t == b) out(out.length - 1) = a + b
          else out += t
        }
        toks = out.toList
      }
      toks.length.toLong
    }
    val vocab = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("w")).distinct()
      .withColumn("wtoks", TextAnalysis.bpeTokenCount(col("w")))
      .collect().map(r => r.getAs[String]("w") -> r.getAs[Long]("wtoks"))
    assert(vocab.nonEmpty)
    vocab.foreach { case (w, got) =>
      assert(got == refBpe(w), s"word '$w': column fold $got != reference ${refBpe(w)}")
    }
    // merges actually fire: the corpus vocabulary compresses below chars
    assert(vocab.exists { case (w, t) => w.length > 1 && t < w.length })
    // per-doc: every word is at least one token, tokens never exceed chars
    val rows = TextAnalysis.tokenCounts(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("bpe_tokens") <= r.getAs[Long]("n_chars_text"))
      assert(r.getAs[Long]("bpe_tokens") >= 1L)
    }
  }

  test("learned quality model: probabilities bounded, threshold consistent, agrees with its teacher") {
    val got = TextAnalysis.qualityModel(spark, sf).collect()
    assert(got.length == Tables.documents(spark, sf).count())
    got.foreach { r =>
      val p = r.getAs[Double]("p_keep")
      assert(p >= 0.0 && p <= 1.0)
      // keep is the 0.5-probability threshold (z + b > 0 ⇔ sigmoid > 0.5);
      // allow the rounding boundary itself
      if (math.abs(p - 0.5) > 1e-4) assert(r.getAs[Boolean]("keep") == (p > 0.5))
    }
    // distillation held: the model agrees with the heuristic teacher on
    // well over half the corpus (83% at training time on sf0.01)
    val teacher = TextAnalysis.quality(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Double]("quality") >= 0.5)).toMap
    val agree = got.count(r => teacher(r.getAs[Long]("doc_id")) == r.getAs[Boolean]("keep"))
    assert(agree.toDouble / got.length > 0.7, s"agreement ${agree.toDouble / got.length}")
  }

  test("bpe training step equals a plain-Scala pair count under the mid-training prefix") {
    // reference: fold every corpus word under the 40-merge prefix with
    // the same one-pass-per-rule semantics, count adjacent token pairs
    // weighted by word frequency, rank (freq desc, pair asc), top 10
    val prefix = TextAnalysis.BpeMerges.take(TextAnalysis.BpeTrainAt)
    def refFold(w: String): List[String] = {
      var toks = w.map(_.toString).toList
      for (r <- prefix if w.contains(r.replace(" ", ""))) {
        val Array(a, b) = r.split(" ")
        val out = scala.collection.mutable.ListBuffer[String]()
        for (t <- toks) {
          if (out.nonEmpty && out.last == a && t == b) out(out.length - 1) = a + b
          else out += t
        }
        toks = out.toList
      }
      toks
    }
    val words = Tables.documents(spark, sf).select("text").collect()
      .flatMap(_.getAs[String]("text").split(" ")).filter(_.nonEmpty)
    val pairFreq = scala.collection.mutable.Map[String, Long]()
    words.groupBy(identity).foreach { case (w, occs) =>
      val toks = refFold(w)
      if (toks.length >= 2)
        toks.sliding(2).foreach { p =>
          val key = p.mkString(" ")
          pairFreq(key) = pairFreq.getOrElse(key, 0L) + occs.length
        }
    }
    val expect = pairFreq.toSeq.sortBy { case (p, f) => (-f, p) }.take(10)
    val got = TextAnalysis.bpeTrainStep(spark, sf).collect()
      .map(r => r.getAs[String]("pair") -> r.getAs[Long]("freq")).toSeq
    assert(got == expect, s"got $got\nexpect $expect")
    // the step is mid-training for real: candidates exist and the
    // winner is a pair the saturated table would have merged later
    assert(expect.nonEmpty)
  }

  test("unigram scoring tail keys are bounded by total/HeadK (the skew guarantee)") {
    import org.apache.spark.sql.functions._
    // the de-skewed join broadcasts the top-1024 tokens; any token left
    // in the shuffled tail must have corpus frequency <= total/1024,
    // because each of the 1024 head tokens has frequency >= the
    // rank-1024 one — the structural worst-key bound of the join
    val toks = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("tok"))
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val total = freq.agg(sum(col("c"))).collect().head.getLong(0)
    val ordered = freq.orderBy(col("c").desc, col("tok")).collect().map(_.getAs[Long]("c"))
    val headK = 1024
    if (ordered.length > headK) {
      val tailMax = ordered.drop(headK).max
      assert(tailMax <= total / headK,
        s"tail worst key $tailMax exceeds ${total / headK}")
    } else succeed // whole vocabulary fits in the broadcast head: no shuffled tail at all
  }

  test("cluster topics label every non-empty cluster with 3 ranked terms") {
    val rows = TextAnalysis.clusterTopics(spark, sf).collect()
    assert(rows.nonEmpty)
    val byCluster = rows.groupBy(_.getAs[Int]("cluster"))
    assert(byCluster.size <= 8)
    byCluster.values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rk")).sorted.sameElements(1 to rs.length))
      assert(rs.forall(_.getAs[Long]("n_docs") > 0))
      val scores = rs.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("score"))
      assert(scores.sameElements(scores.sortBy(-(_: Double))))
    }
    // clusters partition the embeddable docs
    val total = byCluster.values.map(_.head.getAs[Long]("n_docs")).sum
    assert(total == Tables.documents(spark, sf).count())
  }

  test("bigram prefix-join tail keys honor the same total/HeadK bound") {
    import org.apache.spark.sql.functions._
    // prefix totals c(a,.) drive the vocab-level join; the head (top
    // 1024 prefixes) is broadcast, so a shuffled tail prefix must have
    // total <= corpus_bigrams/1024 — same structural bound as unigram
    val t = Tables.documents(spark, sf)
      .select(split(col("text"), " ").as("w"))
      .select(explode(expr("zip_with(slice(w, 1, size(w)-1), slice(w, 2, size(w)-1), (a, b) -> a)")).as("a"))
    val pref = t.groupBy(col("a")).agg(count(lit(1)).as("c"))
    val total = pref.agg(sum(col("c"))).collect().head.getLong(0)
    val ordered = pref.orderBy(col("c").desc, col("a")).collect().map(_.getAs[Long]("c"))
    val headK = 1024
    if (ordered.length > headK)
      assert(ordered.drop(headK).max <= total / headK)
    else succeed
  }

  test("token-budget sample keeps whole top-quality buckets within 2000 tokens per lang") {
    val rows = TextAnalysis.sampleTokenBudget(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("lang")).foreach { case (lang, rs) =>
      // kept docs are the top-quality prefix: every kept doc's quality is
      // >= the per-lang minimum kept quality, and whole-bucket totals fit
      val qmin = rs.map(_.getAs[Double]("quality")).min
      val kept = rs.map(_.getAs[Long]("n_tokens")).sum
      // bucket granularity means the NEXT bucket would overflow, but the
      // kept set itself must fit the budget
      assert(kept <= 2000, s"$lang kept $kept tokens > budget")
      assert(rs.forall(_.getAs[Double]("quality") >= qmin))
    }
  }

  test("bigram logprob counts exactly n_words - 1 transitions per doc") {
    val rows = TextAnalysis.bigramLogprob(spark, sf).collect()
    assert(rows.nonEmpty)
    val words = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).as("nw")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("nw")).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_bigrams") == words(r.getAs[Long]("doc_id")) - 1)
      assert(r.getAs[Double]("mean_neg_logprob") >= 0)
    }
  }

  test("hash embeddings are unit-norm and within 64 dims") {
    val rows = TextAnalysis.hashEmbed(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val d = r.getAs[Long]("dim"); assert(d >= 0 && d < 64)
    }
    rows.groupBy(_.getAs[Long]("doc_id")).values.foreach { ds =>
      val sq = ds.map(r => { val w = r.getAs[Double]("weight"); w * w }).sum
      assert(math.abs(sq - 1.0) < 0.01, s"norm^2 = $sq")
    }
  }

  test("weighted sample is reproducible and favors heavy docs") {
    import org.apache.spark.sql.functions._
    val s1 = TextAnalysis.sampleWeighted(spark, sf).collect()
    val s2 = TextAnalysis.sampleWeighted(spark, sf).collect()
    assert(s1.map(_.getAs[Long]("doc_id")).sameElements(s2.map(_.getAs[Long]("doc_id"))))
    assert(s1.length == 100)
    val sampleMean = s1.map(_.getAs[Long]("n_chars")).sum.toDouble / s1.length
    val corpusMean = Tables.documents(spark, sf).agg(avg(col("n_chars")))
      .collect().head.getDouble(0)
    assert(sampleMean > corpusMean, s"weighted draw ($sampleMean) should skew heavy vs $corpusMean")
  }

  test("mixture sample hits each language's quota exactly (when the stratum is big enough)") {
    import org.apache.spark.sql.functions._
    val rows = TextAnalysis.sampleMixture(spark, sf).collect()
    val byLang = rows.groupBy(_.getAs[String]("lang")).view.mapValues(_.length).toMap
    val corpus = Tables.documents(spark, sf).groupBy(col("lang")).count()
      .collect().map(r => r.getAs[String]("lang") -> r.getAs[Long]("count")).toMap
    val quotas = Map("en" -> 40, "de" -> 15, "es" -> 15, "fr" -> 15, "zh" -> 15)
    quotas.foreach { case (l, q) =>
      assert(byLang.getOrElse(l, 0) == math.min(q.toLong, corpus.getOrElse(l, 0L)))
    }
  }

  test("fingerprint is stable and one per doc") {
    val a = TextAnalysis.fingerprint(spark, sf).collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("fingerprint"))
    val b = TextAnalysis.fingerprint(spark, sf).collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("fingerprint"))
    assert(a.sameElements(b))
  }

  test("hand-rolled BMP encoder is decode-equivalent to ImageIO's writer") {
    // r16 replaced BufferedImage + ImageIO.write with a direct
    // ByteBuffer encoder in the asset synthesizer (the decode side is
    // untouched ImageIO.read). Pin full equivalence against the old
    // encoder: same byte length (the oracle's analytic 54 + padded-rows
    // formula) and the identical decoded raster, for ids covering every
    // (w, h) = (id%16+1, id%12+1) combination incl. row-padding cases.
    for (id <- 0L until 48L) {
      val bytes = Multimodal.bmpBytes(id * 3) // image ids are %3==0
      val w = (id * 3 % 16 + 1).toInt
      val h = (id * 3 % 12 + 1).toInt
      assert(bytes.length == 54 + ((w * 3 + 3) & ~3) * h)
      val ref = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until h; x <- 0 until w) {
        val v = ((id * 3 * 31 + x * 7 + y) % 256).toInt
        ref.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(ref, "bmp", bos)
      assert(bos.size() == bytes.length, s"id $id: length drifted from ImageIO's writer")
      val got = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(got != null && got.getWidth == w && got.getHeight == h)
      for (y <- 0 until h; x <- 0 until w)
        assert(got.getRGB(x, y) == ref.getRGB(x, y), s"id $id pixel ($x,$y)")
    }
  }

  test("media decode: real imageio round-trip on image rows, digest stub elsewhere") {
    val assets = Multimodal.assets(spark, sf)
    val feats = Multimodal.decodeFeatures(spark, assets).collect()
    assert(feats.length == Tables.documents(spark, sf).count())
    // byte_len equals payload length for every row
    val byId = assets.collect().map(a => a.doc_id -> a.payload.length).toMap
    assert(feats.forall(f => byId(f.doc_id).toLong == f.byte_len))
    val (img, stub) = feats.partition(_.mime == "image/bmp")
    assert(img.nonEmpty && stub.nonEmpty)
    // image rows: REALLY decoded — dims and channel sum match the
    // deterministic raster the synthesizer encoded
    img.foreach { f =>
      val (w, h) = ((f.doc_id % 16 + 1).toInt, (f.doc_id % 12 + 1).toInt)
      assert(f.decoded_w.contains(w) && f.decoded_h.contains(h))
      val expSum = (for (y <- 0 until h; x <- 0 until w)
        yield 3L * ((f.doc_id * 31 + x * 7 + y) % 256)).sum
      assert(f.px_sum.contains(expSum))
      assert(f.md5_head.isEmpty && f.hist_bucket.isEmpty)
      // BMP layout: 54-byte header + 4-byte-aligned 24-bit rows
      assert(f.byte_len == 54 + h.toLong * ((3 * w + 3) / 4 * 4))
    }
    stub.foreach { f =>
      assert(f.md5_head.exists(_.length == 8))
      assert(f.hist_bucket.exists(b => b >= 0 && b < 16))
      assert(f.decoded_w.isEmpty && f.px_sum.isEmpty)
    }
  }

  test("temperature sampling upsamples low-resource strata vs proportional") {
    import org.apache.spark.sql.functions._
    val rows = TextAnalysis.sampleTemperature(spark, sf).collect()
    val byLang = rows.groupBy(_.getAs[String]("lang")).view.mapValues(_.length).toMap
    val corpus = Tables.documents(spark, sf).groupBy(col("lang")).count()
      .collect().map(r => r.getAs[String]("lang") -> r.getAs[Long]("count")).toMap
    val z = corpus.values.map(n => math.sqrt(n.toDouble)).sum
    corpus.foreach { case (l, n) =>
      val quota = math.floor(100.0 * math.sqrt(n.toDouble) / z + 1e-9).toInt
      assert(byLang.getOrElse(l, 0) == math.min(quota.toLong, n))
      // α = 0.5 damps the majority stratum: its share of the sample is
      // strictly below its share of the corpus (and vice versa for the
      // smallest), the whole point of temperature mixing
      val corpusShare = n.toDouble / corpus.values.sum
      val sampleShare = byLang.getOrElse(l, 0).toDouble / rows.length
      if (corpusShare == corpus.values.max.toDouble / corpus.values.sum)
        assert(sampleShare < corpusShare + 1e-9)
    }
    // deterministic re-run
    assert(rows.map(_.getAs[Long]("doc_id")).sameElements(
      TextAnalysis.sampleTemperature(spark, sf).collect().map(_.getAs[Long]("doc_id"))))
  }

  test("phash: decoded-pixel aHash matches the analytic raster, near edits move few bits") {
    val rows = Multimodal.mmPhash(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (w, h) = ((id % 16 + 1).toInt, (id % 12 + 1).toInt)
      assert(r.getAs[Int]("decoded_w") == w && r.getAs[Int]("decoded_h") == h)
      val samples = for (j <- 0 until 8; i <- 0 until 8)
        yield ((id * 31 + (i * w / 8) * 7 + (j * h / 8)) % 256).toInt
      val mean = samples.sum.toDouble / 64.0
      val expected = samples.map(v => if (v > mean) '1' else '0').mkString
      assert(r.getAs[String]("phash") == expected, s"phash mismatch for doc $id")
    }
    // robustness: a one-pixel edit of a decoded image moves few bits;
    // a different image's hash is far — the property that makes aHash a
    // near-dup signature where byte digests see only exact copies
    def hashOf(img: java.awt.image.BufferedImage): String = {
      val (w, h) = (img.getWidth, img.getHeight)
      val s = for (j <- 0 until 8; i <- 0 until 8) yield img.getRGB(i * w / 8, j * h / 8) & 0xff
      val m = s.sum.toDouble / 64.0
      s.map(v => if (v > m) '1' else '0').mkString
    }
    def hamming(a: String, b: String): Int = a.zip(b).count { case (x, y) => x != y }
    def mk(seed: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(16, 12, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until 12; x <- 0 until 16) {
        val v = (seed * 31 + x * 7 + y * 13) % 256
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    val base = mk(7)
    val nearDup = mk(7)
    nearDup.setRGB(2, 3, 0xffffff) // one-pixel edit ON a sampled grid point
    val other = mk(101)
    assert(hamming(hashOf(base), hashOf(nearDup)) <= 4)
    assert(hamming(hashOf(base), hashOf(other)) >= 16)
  }

  test("frame sampling emits ceil((duration+2)/2) frames per video") {
    val rows = Multimodal.mmFrameSample(spark, sf).collect()
    val perDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    perDoc.foreach { case (_, fs) =>
      val dur = fs.head.getAs[Int]("duration_s")
      assert(fs.length == dur / 2 + 1)
      val ts = fs.map(_.getAs[Int]("frame_t")).sorted
      assert(ts.head == 0 && ts.last <= dur)
    }
  }

  test("phash dedup: banding finds EVERY distinct-hash pair within Hamming 3 (pigeonhole recall)") {
    val pairs = Multimodal.mmPhashDedup(spark, sf).collect()
      .map(r => (r.getAs[Long]("rep_a"), r.getAs[Long]("rep_b"), r.getAs[Long]("hamming")))
    // distinct hashes only: reps are unique on each side and hamming ≥ 1
    assert(pairs.forall { case (a, b, h) => a < b && h >= 1 && h <= 3 })
    // brute-force ground truth over the (small) distinct-hash set
    val hs = Multimodal.mmPhash(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("phash")))
      .filter { case (_, p) => p.contains('0') && p.contains('1') } // degenerate dropped
      .groupBy(_._2).map { case (p, ds) => (ds.map(_._1).min, p) }.toSeq
    val exact = (for {
      (ra, pa) <- hs; (rb, pb) <- hs if ra < rb
      h = pa.zip(pb).count { case (x, y) => x != y } if h <= 3
    } yield (ra, rb, h.toLong)).toSet
    assert(pairs.toSet == exact, s"banded=${pairs.length} exact=${exact.size}")
  }

  test("curation funnel: six stages, monotone non-increasing survivor counts") {
    val stages = TextAnalysis.curateEnd2End(spark, sf).collect()
      .map(r => (r.getAs[Int]("stage_idx"), r.getAs[String]("stage"), r.getAs[Long]("docs")))
    assert(stages.map(_._1).toSeq == (0 until 6))
    assert(stages.map(_._2).toSeq ==
      Seq("raw", "exact_dedup", "langid", "quality", "gopher", "sample10"))
    val counts = stages.map(_._3)
    assert(counts.head == Tables.documents(spark, sf).count())
    counts.sliding(2).foreach { case Array(hi, lo) => assert(hi >= lo) }
    // the gopher gate is harsh on this synthetic repetitive corpus (18
    // keepers of 500 at sf0.01), so the terminal 10% sample may
    // legitimately be empty — monotonicity and the DuckDB twin are the
    // gates here, not a non-empty tail
  }

  test("wav features come from REALLY decoded PCM samples") {
    val rows = Multimodal.mmWavFeatures(spark, sf).collect()
    assert(rows.nonEmpty)
    // every payload decoded through the JDK codec — no stub fallback
    assert(rows.forall(_.getAs[Boolean]("decoded")))
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val n = (id % 50 + 10).toInt
      assert(r.getAs[Long]("n_samples") == n)
      assert(r.getAs[Long]("byte_len") == 44 + 2L * n)
      assert(r.getAs[Int]("sample_rate") == 8000)
      assert(r.getAs[Long]("duration_us") == n.toLong * 125)
      // recompute the waveform independently from its formula
      val vs = Array.tabulate(n)(i => ((id * 31 + i * 7) % 2003 - 1001).toInt)
      assert(r.getAs[Long]("sum_abs") == vs.map(v => math.abs(v).toLong).sum)
      assert(r.getAs[Long]("max_abs") == vs.map(v => math.abs(v).toLong).max)
      assert(r.getAs[Long]("zero_crossings") ==
        vs.sliding(2).count(p => p(0).toLong * p(1) < 0))
    }
  }

  test("corpus mix report: one row per language, shares sum to 100, totals reconcile") {
    import org.apache.spark.sql.functions._
    val rows = TextAnalysis.corpusReport(spark, sf).collect()
    assert(rows.nonEmpty)
    val langs = rows.map(_.getAs[String]("lang"))
    assert(langs.distinct.length == langs.length)
    assert(rows.map(_.getAs[Long]("n_docs")).sum == Tables.documents(spark, sf).count())
    val pctSum = rows.map(_.getAs[Double]("token_pct")).sum
    assert(math.abs(pctSum - 100.0) < 0.01, s"token shares sum to $pctSum")
    rows.foreach { r =>
      assert(r.getAs[Double]("mean_doc_tokens") > 0)
      assert(r.getAs[Long]("n_tokens") >= r.getAs[Long]("n_docs"))
    }
  }

  test("audio VAD: decoded-stream detector matches the analytic recompute, real segments") {
    val rows = Multimodal.mmAudioVad(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("decoded")), "some payload failed the codec round-trip")
    // local analytic recompute from the waveform formula (never decodes)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val n = (id % 120 + 40).toInt
      val s = Array.tabulate(n)(i => (((id * 31 + i.toLong * i * 13 + i * 7) % 2003) - 1001).toInt)
      val frames = s.grouped(8).toArray
      val act = frames.map(f => f.map(math.abs).sum.toLong > 500L * f.length)
      assert(r.getAs[Long]("n_frames") == frames.length, s"doc $id frame count")
      assert(r.getAs[Long]("n_active") == act.count(identity), s"doc $id active count")
      val nseg = act.indices.count(j => act(j) && (j == 0 || !act(j - 1)))
      assert(r.getAs[Long]("n_segments") == nseg, s"doc $id segments")
      assert(r.getAs[Long]("active_us") ==
        frames.indices.filter(act).map(frames(_).length.toLong).sum * 125, s"doc $id active_us")
    }
    // the detector genuinely segments (the slow-ramp waveform was
    // all-or-nothing per clip — this guards the speech-shaped input)
    assert(rows.exists(_.getAs[Long]("n_segments") >= 2), "no multi-segment clip")
    assert(rows.exists(r => r.getAs[Long]("n_active") < r.getAs[Long]("n_frames")),
      "no inactive frame anywhere")
  }

  test("ccnet buckets: every doc bucketed, tercile-ish shares, monotone mean perplexity") {
    val rows = TextAnalysis.textCcnetBuckets(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    val byLang = rows.groupBy(_.getAs[String]("lang"))
    byLang.foreach { case (lang, rs) =>
      val byBucket = rs.groupBy(_.getAs[String]("bucket"))
        .view.mapValues(_.map(_.getAs[Double]("ppl_score"))).toMap
      assert(byBucket.keySet.subsetOf(Set("head", "middle", "tail")), s"$lang: ${byBucket.keySet}")
      // the sketch's 1024-bin thresholds land each share near a third
      // (loose band: small strata + binning granularity)
      byBucket.foreach { case (b, scores) =>
        val share = scores.length.toDouble / rs.length
        assert(share > 0.1 && share < 0.6, s"$lang/$b share $share")
      }
      // ordering property: every head score ≤ every tail score, and the
      // bucket means are monotone
      def mean(xs: Array[Double]) = xs.sum / xs.length
      assert(byBucket("head").max <= byBucket("tail").min + 1e-9, s"$lang head/tail overlap")
      assert(mean(byBucket("head")) <= mean(byBucket("middle")) &&
        mean(byBucket("middle")) <= mean(byBucket("tail")), s"$lang means not monotone")
    }
  }

  test("bpe training folds the vocabulary, not the token stream") {
    // r17: Catalyst pushed the size(toks) >= 2 filter (a function of
    // the grouping key, with the 40-rule fold inlined) BELOW the word-
    // count aggregate, onto the exploded token stream — the fold ran
    // per token occurrence (measured 25s solo at sf10 vs ~2s for the
    // word count itself). The checkpointed word-count frame is the
    // structural barrier: the query plan must carry exactly ONE
    // Generate (the vocab pair explode) over a LogicalRDD leaf, with
    // no token explode and no fold expression below an aggregate.
    val df = TextAnalysis.bpeTrainStep(spark, sf)
    val gens = df.queryExecution.optimizedPlan.collectWithSubqueries {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    assert(gens.size == 1, s"expected only the vocab pair explode, got ${gens.size} Generates")
    val leaves = df.queryExecution.optimizedPlan.collectWithSubqueries {
      case l: org.apache.spark.sql.execution.LogicalRDD => l
    }
    assert(leaves.size == 1,
      s"expected the checkpointed word-count frame as the only leaf, got ${leaves.size} LogicalRDDs")
  }
}
