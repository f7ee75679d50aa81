package graft

import graft.functions.ODataFilter
import graft.operators.Search
import org.apache.spark.sql.functions._

class SearchSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sf)

  test("fuzzy match finds only edit-distance-1 neighbors of the misspelled term") {
    val rows = Search.searchFuzzy(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Int]("dist") <= 1)
      // 'sprk' itself is not corpus vocabulary, so every hit is a repair
      assert(r.getAs[String]("matched_tok") != "sprk")
    }
    assert(rows.exists(_.getAs[String]("matched_tok") == "spark"))
  }

  test("suggester completes the prefix with corpus tokens, doc-frequency ranked") {
    val rows = Search.searchSuggest(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 5)
    rows.foreach { r =>
      assert(r.getAs[String]("suggestion").startsWith("s"))
      assert(r.getAs[Long]("n_occurrences") >= r.getAs[Long]("n_docs"))
    }
    val freqs = rows.map(_.getAs[Long]("n_docs"))
    assert(freqs.sameElements(freqs.sortBy(-_)))
  }

  test("highlight tags every snippet and counts hits") {
    val rows = Search.searchHighlight(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[String]("snippet").contains("<em>spark</em>"))
      assert(r.getAs[Long]("n_hits") >= 1)
      // snippet is ±5 tokens around the first hit: at most 11 tokens
      assert(r.getAs[String]("snippet").split(" ").length <= 11)
    }
  }

  test("OData comparison operators compile correctly") {
    assert(docs.filter(ODataFilter.compile("lang eq 'en'")).collect()
      .forall(_.getAs[String]("lang") == "en"))
    assert(docs.filter(ODataFilter.compile("n_chars ge 300")).collect()
      .forall(_.getAs[Long]("n_chars") >= 300))
    assert(docs.filter(ODataFilter.compile("n_chars lt 100")).collect()
      .forall(_.getAs[Long]("n_chars") < 100))
  }

  test("OData and/or precedence: and binds tighter") {
    val n = docs.filter(ODataFilter.compile("lang eq 'en' or lang eq 'de' and n_chars ge 300")).count()
    val expected = docs.filter(col("lang") === "en" ||
      (col("lang") === "de" && col("n_chars") >= 300)).count()
    assert(n == expected)
  }

  test("OData not and parens") {
    val n = docs.filter(ODataFilter.compile("not (lang eq 'en' or lang eq 'de')")).count()
    val expected = docs.filter(!(col("lang") === "en" || col("lang") === "de")).count()
    assert(n == expected)
  }

  test("OData mirrors the reference's indexer-run filter shape") {
    // reference: DatalakeIndexerFunc.cs:47 — filesystem eq '…' and search.ismatch('partition_1*')
    val filtered = docs.filter(
      ODataFilter.compile("source eq 'src1' and search.ismatch('sp*')", searchField = "text"))
    assert(filtered.collect().forall(r => r.getAs[String]("source") == "src1" &&
      r.getAs[String]("text").split(" ").exists(_.startsWith("sp"))))
  }

  test("OData unquoted ISO datetime literals compare as timestamps") {
    // reference shape: "lastModified ge 2023-09-28T05:00:00Z" (PathIndexClient.cs:57)
    val e = Tables.events(spark, sf)
    val n = e.filter(ODataFilter.compile("ts ge 2024-01-15T00:00:00Z")).count()
    val expected = e.filter(col("ts") >= lit("2024-01-15 00:00:00").cast("timestamp")).count()
    assert(n == expected && n > 0)
  }

  test("OData literal edge cases: ne, floats, negative numbers") {
    assert(docs.filter(ODataFilter.compile("lang ne 'en'")).collect()
      .forall(_.getAs[String]("lang") != "en"))
    val e = Tables.events(spark, sf)
    assert(e.filter(ODataFilter.compile("value lt 10.5")).collect()
      .forall(_.getAs[Double]("value") < 10.5))
    assert(e.filter(ODataFilter.compile("value gt -1")).count() == e.count())
  }

  test("pushdown invariant: key always embeds filesystem%2fpathUrlEncoded") {
    // searchIsMatchPath / listPathsDelta push filesystem- and
    // path-prefix predicates BELOW the upsert's per-key shuffle; that is
    // sound only because the key is exactly
    // base64(filesystem + '%2f' + pathUrlEncoded) — same row, same
    // derivation (Keys.pathKey). If key construction ever changes, this
    // test pins the contract the pushdowns rely on.
    val rows = graft.operators.PathIndexOps.changeLog(spark, sf)
      .select(col("key"), col("filesystem"), col("pathUrlEncoded")).limit(200).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val decoded = new String(java.util.Base64.getDecoder.decode(r.getAs[String]("key")), "UTF-8")
      assert(decoded == r.getAs[String]("filesystem") + "%2f" + r.getAs[String]("pathUrlEncoded"))
    }
  }

  test("OData null comparisons are IS NULL / IS NOT NULL") {
    import spark.implicits._
    val df = Seq(("a", Some("x")), ("b", None), ("c", Some("y")))
      .toDF("id", "v")
    // `eq null` must match the null row (=== lit(null) would match NOTHING)
    assert(df.filter(ODataFilter.compile("v eq null")).collect().map(_.getString(0)).toSeq == Seq("b"))
    assert(df.filter(ODataFilter.compile("v ne null")).collect().map(_.getString(0)).sorted.toSeq == Seq("a", "c"))
    intercept[IllegalArgumentException](ODataFilter.compile("v gt null"))
  }

  test("OData parser handles nesting, double negation, and spaced strings") {
    import spark.implicits._
    val df = Seq(("a", "hello world", 5L), ("b", "plain", 50L), ("c", "hello there", 500L))
      .toDF("id", "s", "n")
    // string literal containing a space
    assert(df.filter(ODataFilter.compile("s eq 'hello world'")).collect()
      .map(_.getString(0)).toSeq == Seq("a"))
    // double negation cancels
    assert(df.filter(ODataFilter.compile("not not (n ge 50)")).collect()
      .map(_.getString(0)).sorted.toSeq == Seq("b", "c"))
    // nested parens with mixed precedence
    val got = df.filter(ODataFilter.compile("(n lt 10 or (n ge 50 and not (id eq 'c')))"))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(got == Seq("a", "b"))
  }

  test("OData string functions and search.in compile to the right predicates") {
    val sw = docs.filter(ODataFilter.compile("startswith(source, 'src1')")).collect()
    assert(sw.nonEmpty && sw.forall(_.getAs[String]("source").startsWith("src1")))
    val ew = docs.filter(ODataFilter.compile("endswith(source, '3')")).collect()
    assert(ew.nonEmpty && ew.forall(_.getAs[String]("source").endsWith("3")))
    val ct = docs.filter(ODataFilter.compile("contains(lang, 'e')")).collect()
    assert(ct.nonEmpty && ct.forall(_.getAs[String]("lang").contains("e")))
    val si = docs.filter(ODataFilter.compile("search.in(lang, 'zh, fr')")).collect()
    assert(si.nonEmpty && si.forall(r => Set("zh", "fr")(r.getAs[String]("lang"))))
    // custom delimiter form
    val sd = docs.filter(ODataFilter.compile("search.in(lang, 'zh|fr', '|')")).collect()
    assert(sd.map(_.getAs[Long]("doc_id")).sorted.sameElements(si.map(_.getAs[Long]("doc_id")).sorted))
    // startswith composes with ordinary comparisons and not
    val mixed = docs.filter(ODataFilter.compile(
      "startswith(source, 'src') and not contains(lang, 'z') and n_chars ge 100")).collect()
    assert(mixed.forall(r => !r.getAs[String]("lang").contains("z") && r.getAs[Long]("n_chars") >= 100))
    // startswith reaches the parquet scan as a pushed filter
    val plan = docs.filter(ODataFilter.compile("startswith(source, 'src1')"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("StartsWith"), s"plan:\n$plan")
  }

  test("OData rejects malformed input") {
    intercept[IllegalArgumentException](ODataFilter.compile("lang foo 'en'"))
    intercept[IllegalArgumentException](ODataFilter.compile("lang eq 'en' trailing"))
    intercept[IllegalArgumentException](ODataFilter.compile("lang eq 'unterminated"))
  }

  test("ismatch exact term requires whole-token match") {
    val exact = docs.filter(ODataFilter.compile("search.ismatch('spark')")).count()
    val prefix = docs.filter(ODataFilter.compile("search.ismatch('spark*')")).count()
    assert(exact <= prefix)
  }

  test("keyset page is ordered and bounded") {
    val rows = Search.searchOrderByPage(spark, sf).collect()
    assert(rows.length <= 100)
    val keys = rows.map(_.getAs[String]("key"))
    assert(keys.sameElements(keys.sorted))
    assert(keys.forall(_ > "c3JjMiV"))
  }

  test("compiled OData filters push down to the parquet scan") {
    val df = docs.filter(ODataFilter.compile("lang eq 'en' and n_chars ge 200"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(lang,en)") &&
      plan.contains("GreaterThanOrEqual(n_chars,200)"), s"plan:\n$plan")
  }

  test("keyset pagination iterates the whole index in order without overlap") {
    val df = docs.selectExpr("lpad(cast(doc_id as string), 6, '0') as key", "lang")
    val pages = Search.pagedByKey(df, "key", pageSize = 64).toSeq
    assert(pages.forall(_.size <= 64))
    assert(pages.dropRight(1).forall(_.size == 64))
    val all = pages.flatten.map(_.getAs[String]("key"))
    assert(all.length == df.count())
    assert(all.distinct.length == all.length)
    assert(all.sameElements(all.sorted))
  }

  test("keyset pagination: key-gt resume and empty-page termination at an exact boundary") {
    // 3 exactly-full pages (like PathIndexClient.cs:64-91, which runs at
    // page size 5000 while pages keep coming): the listing ends after
    // page 3 without emitting an empty page
    val df = spark.range(300).selectExpr("lpad(cast(id as string), 6, '0') as key")
    val pages = Search.pagedByKey(df, "key", pageSize = 100).toSeq
    assert(pages.length == 3 && pages.forall(_.size == 100))
    assert(pages.flatten.map(_.getAs[String]("key")).distinct.length == 300)
    // `key gt previousKey` resumability: a fresh loop seeded with a
    // mid-stream boundary sees exactly the strict tail, in order
    val boundary = pages(1).apply(49).getAs[String]("key")
    val resumed = Search.pagedByKey(df.filter(col("key") > boundary), "key", pageSize = 100).toSeq
    val keys = resumed.flatten.map(_.getAs[String]("key"))
    assert(keys.length == 150 && keys.forall(_ > boundary))
    assert(keys.sameElements(keys.sorted))
  }

  test("keyset pagination: one job per returned page, a probe only after a full last page") {
    val fetch = 100 * Search.FetchPages
    // a file scan, as a store read is: a frame of known row count (a
    // range) would let the optimizer drop the fetch's limit
    def listing(n: Int, keep: org.apache.spark.sql.Column = lit(true)): (Int, Int) = {
      val dir = tempDir("graft_keyset_jobs").toString
      spark.range(n).selectExpr("lpad(cast(id as string), 6, '0') as key")
        .write.mode("overwrite").parquet(dir)
      val df = spark.read.schema("key STRING").parquet(dir).filter(keep)
      var pages = Seq.empty[Seq[String]]
      val jobs = jobsDuring {
        pages = Search.pagedByKey(df, "key", pageSize = 100).map(_.map(_.getString(0))).toList
      }
      val fresh = df.orderBy("key").collect().map(_.getString(0)).grouped(100).map(_.toSeq).toSeq
      assert(pages == fresh, s"$n keys")
      (pages.length, jobs.length)
    }
    // a fetch holds ten pages: a short fetch ends the listing, on a
    // short last page or a full one
    assert(listing(250) == (3, 1))
    assert(listing(300) == (3, 1))
    assert(listing(300, col("key") > "999999") == (0, 1))
    // exactly one full fetch: a second fetch probes and finds nothing
    assert(listing(fetch) == (Search.FetchPages, 2))
    // one row past it: the second fetch holds the last, one-row page
    assert(listing(fetch + 1) == (Search.FetchPages + 1, 2))
  }

  test("analyzed multi-term ismatch: all terms must occur, analysis is shared") {
    import graft.functions.Analyzers
    val rows = Search.searchIsMatchTerms(spark, sf).collect()
    assert(rows.nonEmpty)
    val matched = rows.map(_.getAs[Long]("doc_id")).toSet
    // cross-check against per-term matches computed independently
    val byTerm = Seq("spark", "data", "join").map { t =>
      docs.filter(array_contains(Analyzers.standardTokens(col("text")), t))
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    }
    assert(matched == byTerm.reduce(_ intersect _))
    // AND is strictly narrower than any single term here
    assert(byTerm.forall(s => matched.subsetOf(s) && matched != s))
  }

  test("bm25 ranks rare-term-heavy docs above stopword soup and stays positive") {
    val rows = Search.searchScoreBm25(spark, sf).collect()
    assert(rows.length == 50)
    val scores = rows.map(_.getAs[Double]("bm25"))
    assert(scores.forall(_ > 0))
    assert(scores.sameElements(scores.sortBy(-(_: Double)))) // ranked desc
  }

  test("facets count every doc exactly once per field") {
    val rows = Search.searchFacets(spark, sf).collect()
    val total = docs.count()
    val byField = rows.groupBy(_.getAs[String]("facet_field")).view
      .mapValues(_.map(_.getAs[Long]("n")).sum)
    assert(byField.values.forall(_ == total))
  }

  test("hybrid RRF fuses the two legs' ranks and orders by fused score") {
    val rows = Search.searchHybridRrf(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    // rrf = sum of 1/(60+rank) over the legs the doc appears in
    rows.foreach { r =>
      val br = Option(r.getAs[java.lang.Long]("bm25_rank")).map(_.toLong)
      val vr = Option(r.getAs[java.lang.Long]("vec_rank")).map(_.toLong)
      assert(br.isDefined || vr.isDefined)
      val expect = br.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        vr.map(x => 1.0 / (60 + x)).getOrElse(0.0)
      assert(math.abs(r.getAs[Double]("rrf") - expect) < 1e-4)
    }
    // descending fused score with doc_id tiebreak
    val scores = rows.map(r => (-r.getAs[Double]("rrf"), r.getAs[Long]("doc_id")))
    assert(scores.sameElements(scores.sorted))
    // a doc ranked by BOTH legs outscores one seen by a single leg at
    // similar ranks: the top fused doc must appear in at least one leg
    // top-5 (sanity that fusion isn't inverted)
    val top = rows.head
    val tb = Option(top.getAs[java.lang.Long]("bm25_rank")).map(_.toLong).getOrElse(Long.MaxValue)
    val tv = Option(top.getAs[java.lang.Long]("vec_rank")).map(_.toLong).getOrElse(Long.MaxValue)
    assert(math.min(tb, tv) <= 5)
  }

  test("lexical probes never re-scan the corpus: no documents file scan in the plan") {
    import graft.sources.TextIndex
    // warm the per-snapshot index (the one tokenize pass per analyzer)
    TextIndex.postingsWs(spark, sf).count()
    TextIndex.vocabWs(spark, sf).count()
    TextIndex.postingsStd(spark, sf).count()
    TextIndex.vocabStd(spark, sf).count()
    TextIndex.docLensStd(spark, sf).count()
    TextIndex.statsStd(spark, sf).count()
    // these four produce their full result from the cached index frames
    // (checkpointed ExistingRDDs) — a documents.parquet FileScan in the
    // executed plan would mean the query re-tokenizes the lake per
    // invocation, the round-6 defect this index removes
    Seq(
      Search.searchScoreBm25(spark, sf),
      Search.searchScore(spark, sf),
      Search.searchSuggest(spark, sf),
      Search.searchMultiquery(spark, sf),
      Search.searchFuzzy(spark, sf)
    ).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("documents.parquet"), s"corpus re-scan in probe plan:\n$plan")
    }
    // the metadata-returning matches scan documents ONCE for projection
    // (lang/n_chars) but must not re-tokenize: the match set comes from
    // the index, so the scan's ReadSchema carries no text column
    Seq(Search.searchIsMatch(spark, sf), Search.searchIsMatchTerms(spark, sf)).foreach { df =>
      val scans = df.queryExecution.executedPlan.toString.linesIterator
        .filter(_.contains("documents.parquet")).mkString("\n")
      assert(!scans.contains("text"), s"documents scan still reads text:\n$scans")
    }
  }

  test("batched retrieval: 5 ranked hits per query, query 1 == the single-query BM25 probe") {
    val rows = Search.searchMultiquery(spark, sf).collect()
    val byQ = rows.groupBy(_.getAs[Int]("qid"))
    assert(byQ.size == 8, s"queries matched: ${byQ.keySet}")
    byQ.foreach { case (q, rs) =>
      assert(rs.length == 5, s"query $q returned ${rs.length}")
      val scores = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("bm25"))
      assert(scores.sameElements(scores.sortBy(-(_: Double))), s"query $q not rank-ordered")
    }
    // query 1 is "spark data" — identical scoring to searchScoreBm25, so
    // the batch's top-5 must equal the single-query probe's
    val single = Search.searchScoreBm25(spark, sf).collect().take(5)
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("bm25"))).toSeq
    val batched = byQ(1).sortBy(_.getAs[Long]("rank"))
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("bm25"))).toSeq
    assert(batched == single, s"batched=$batched single=$single")
  }

  test("boolean query: set algebra on postings — MUST honored, MUST_NOT excluded, no corpus scan") {
    import graft.sources.TextIndex
    TextIndex.postingsStd(spark, sf).count() // warm the snapshot index
    val df = Search.searchBoolean(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"), s"corpus re-scan in boolean plan:\n$plan")
    val rows = df.collect()
    assert(rows.nonEmpty)
    // verify the clause semantics against the postings directly
    val withTok = TextIndex.postingsStd(spark, sf).collect()
      .groupBy(_.getAs[Long]("doc_id")).view.mapValues(_.map(_.getAs[String]("tok")).toSet).toMap
    rows.foreach { r =>
      val toks = withTok(r.getAs[Long]("doc_id"))
      assert(toks.contains("filter"), "MUST clause violated")
      assert(!toks.contains("slow"), "MUST_NOT clause violated")
      assert(toks.contains("spark") || toks.contains("stream"), "SHOULD clause violated")
    }
  }

  test("posting-list batch merge equals a fresh full build (new docs and re-ingest)") {
    import graft.sources.TextIndex
    val full = TextIndex.postingsStdOf(docs)
    // disjoint split: base + new batch
    val base = TextIndex.postingsStdOf(docs.filter(col("doc_id") % 10 =!= 0))
    val merged = TextIndex.mergePostings(base, docs.filter(col("doc_id") % 10 === 0))
    assert(merged.except(full).isEmpty && full.except(merged).isEmpty)
    // re-ingest: batch doc_ids already exist with STALE text — merge
    // must replace their postings, not append beside them
    val stale = docs.withColumn("text",
      when(col("doc_id") % 10 === 0, lit("outdated stale tokens")).otherwise(col("text")))
    val mergedReingest = TextIndex.mergePostings(
      TextIndex.postingsStdOf(stale), docs.filter(col("doc_id") % 10 === 0))
    assert(mergedReingest.except(full).isEmpty && full.except(mergedReingest).isEmpty)
  }

  test("phrase query: positional-postings join equals the direct token-adjacency scan") {
    import graft.functions.Analyzers
    val viaIndex = Search.searchPhrase(spark, sf)
    val w = Analyzers.standardTokens(col("text"))
    val expected = docs.select(col("doc_id"), w.as("w"))
      .select(col("doc_id"),
        when(size(col("w")) >= 2,
          expr("size(filter(sequence(0, size(w) - 2), i -> w[i] = 'table' AND w[i + 1] = 'scan'))"))
          .otherwise(0).cast("long").as("n_hits"))
      .filter(col("n_hits") > 0)
    assert(viaIndex.count() > 0)
    assert(viaIndex.except(expected).isEmpty && expected.except(viaIndex).isEmpty)
    // after the index is warm, the probe never re-scans the corpus
    graft.sources.TextIndex.postingsPosStd(spark, sf).count()
    val plan = Search.searchPhrase(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"), s"corpus re-scan in phrase plan:\n$plan")
  }

  test("persisted postings: probe reads only the terms' prefix directories and scores match") {
    import graft.sources.TextIndex
    val p = TextIndex.postingsStdPersisted(spark, sf)
    // the layout holds many prefix directories...
    assert(p.select(col("tok_prefix")).distinct().count() > 2)
    // ...but a two-term probe physically reads only its two
    val probed = p.filter(col("tok_prefix").isin("s", "d") && col("tok").isin("spark", "data"))
    val files = probed.select(input_file_name().as("f")).distinct().collect().map(_.getString(0))
    assert(files.nonEmpty)
    assert(files.forall(f => f.contains("tok_prefix=s") || f.contains("tok_prefix=d")),
      s"probe read outside its prefixes:\n${files.mkString("\n")}")
    // pruning happens at planning time, not by filtering rows post-scan
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("tok_prefix"), s"no partition filter in probe plan:\n$plan")
    // the persisted probe computes the identical BM25 result (df from
    // the probed postings themselves == the dictionary's entry)
    val viaDisk = Search.searchBm25Persisted(spark, sf).collect().toSeq
    val viaMem = Search.searchScoreBm25(spark, sf).collect().toSeq
    assert(viaDisk == viaMem)
    // write-once per snapshot: a second probe must not rewrite the
    // layout (a per-query rewrite would be a 100 TB-scale bug)
    val root = layoutPath("graft_textindex", "postings_std")
    val before = layoutModified(root)
    Search.searchBm25Persisted(spark, sf).collect()
    assert(layoutModified(root) == before, "persisted postings were rewritten by a probe")
  }

  test("round 9: phrase/boolean/fuzzy probe the persisted layouts with partition filters") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.sources.TextIndex
    // warm the layouts so plan construction is cheap
    Search.searchPhrase(spark, sf).collect()
    Search.searchBoolean(spark, sf).collect()
    Search.searchFuzzy(spark, sf).collect()
    def textIndexScans(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.sparkPlan.collect {
        case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("graft_textindex")) => s
      }
    for ((name, df) <- Seq(
        "search_phrase" -> Search.searchPhrase(spark, sf),
        "search_boolean" -> Search.searchBoolean(spark, sf),
        "search_fuzzy" -> Search.searchFuzzy(spark, sf))) {
      val scans = textIndexScans(df)
      assert(scans.nonEmpty, s"$name does not scan a persisted text layout")
      scans.foreach { s =>
        assert(s.partitionFilters.exists(_.references.exists(_.name == "tok_prefix")),
          s"$name scans the layout WITHOUT a tok_prefix partition filter:\n$s")
      }
    }
    // the fuzzy DICTIONARY probe (runs at construction): the length
    // band must be a planning-time partition prune on tok_len
    val dictProbe = TextIndex.vocabWsPersisted(spark, sf)
      .filter(col("tok_len").isin(3, 4, 5))
      .filter(levenshtein(col("tok"), lit("sprk")) <= 1)
    val dictScans = dictProbe.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(dictScans.nonEmpty &&
      dictScans.forall(_.partitionFilters.exists(_.references.exists(_.name == "tok_len"))),
      "fuzzy dictionary probe lacks the tok_len partition filter")
    // and the band prune reads only its three length directories
    val files = dictProbe.select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(f =>
      f.contains("tok_len=3") || f.contains("tok_len=4") || f.contains("tok_len=5")),
      s"dictionary probe read outside its length band:\n${files.mkString("\n")}")
  }

  test("search_incremental: merged-index stats match the fresh-build stats") {
    import graft.sources.TextIndex
    val viaMerge = Search.searchIncremental(spark, sf)
    val fresh = TextIndex.postingsStdOf(docs)
      .filter(col("tok").startsWith("s"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("occurrences"))
    assert(viaMerge.count() > 0)
    assert(viaMerge.except(fresh).isEmpty && fresh.except(viaMerge).isEmpty)
  }

  test("moreLikeThis retrieves docs sharing the source doc's top terms, index-only") {
    val rows = Search.searchMoreLikeThis(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    assert(rows.forall(_.getAs[Long]("doc_id") != 1L))
    assert(rows.forall(r => r.getAs[Long]("n_terms") >= 1 && r.getAs[Long]("n_terms") <= 3))
    // ranked by shared-term count, then total tf
    val keys = rows.map(r => (-r.getAs[Long]("n_terms"), -r.getAs[Long]("sum_tf"), r.getAs[Long]("doc_id")))
    assert(keys.sameElements(keys.sorted))
    // every hit genuinely shares a token with the source document
    val srcToks = docs.filter(col("doc_id") === 1)
      .select(explode(split(col("text"), " ")).as("t")).collect().map(_.getString(0)).toSet
    val hitIds = rows.map(_.getAs[Long]("doc_id")).toSet
    val sharing = docs.filter(col("doc_id").isin(hitIds.toSeq: _*))
      .select(col("doc_id"), split(col("text"), " ").as("w")).collect()
      .filter(_.getSeq[String](1).exists(srcToks)).map(_.getLong(0)).toSet
    assert(hitIds == sharing)
    // warm probe: no corpus rescan
    val plan = Search.searchMoreLikeThis(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"), s"corpus re-scan in MLT plan:\n$plan")
  }

  test("multifield scoring profile: ranked weighted hits, probe never rescans the corpus") {
    import graft.functions.Analyzers
    val rows = Search.searchMultiField(spark, sf).collect()
    assert(rows.nonEmpty)
    val scores = rows.map(_.getAs[Double]("score"))
    assert(scores.forall(_ > 0) && scores.sameElements(scores.sortBy(-_)))
    // every hit contains a query term under the standard analyzer
    val ids = rows.map(_.getAs[Long]("doc_id")).toSet
    val withTerm = docs.select(col("doc_id"), Analyzers.standardTokens(col("text")).as("t"))
      .filter(array_contains(col("t"), "spark") || array_contains(col("t"), "data"))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(ids.subsetOf(withTerm))
    // field weighting is real: among docs with exactly ONE query-term
    // occurrence in total, a title hit (weight 3, 10-token field)
    // always outscores a body hit (weight 1, long field)
    val w = split(col("text"), " ")
    val fields = docs.select(col("doc_id"),
      Analyzers.standardTokens(array_join(slice(w, 1, 10), " ")).as("tt"),
      Analyzers.standardTokens(array_join(slice(w, 11, Int.MaxValue), " ")).as("bt"))
    def hits(c: org.apache.spark.sql.Column) =
      size(filter(c, t => t === "spark" || t === "data"))
    val single = fields.select(col("doc_id"),
        hits(col("tt")).as("ht"), hits(col("bt")).as("hb"))
      .filter(col("ht") + col("hb") === 1)
      .collect().map(r => r.getAs[Long]("doc_id") -> (r.getAs[Int]("ht") == 1)).toMap
    val scored = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    val titleOnly = scored.collect { case (d, s) if single.get(d).contains(true) => s }
    val bodyOnly = scored.collect { case (d, s) if single.get(d).contains(false) => s }
    if (titleOnly.nonEmpty && bodyOnly.nonEmpty)
      assert(titleOnly.min > bodyOnly.max,
        s"title weight not dominant: title min ${titleOnly.min} <= body max ${bodyOnly.max}")
    // with the per-field indexes warm, the probe plan never rescans documents
    val plan = Search.searchMultiField(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"), s"corpus re-scan in multifield plan:\n$plan")
  }

  test("slop phrase: ordered near-pair counts equal a direct text recount, prune holds") {
    val rows = Search.searchPhraseSlop(spark, sf).collect()
    assert(rows.nonEmpty)
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val hit = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    texts.foreach { case (id, text) =>
      val w = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      val p1 = w.zipWithIndex.collect { case ("key", i) => i }
      val p2 = w.zipWithIndex.collect { case ("row", i) => i }.toSet
      val n = p1.map(i => (1 to 3).count(d => p2(i + d))).sum.toLong
      assert(hit.getOrElse(id, 0L) == n, s"doc $id")
    }
    // the probe prunes to the two terms' prefix directories
    val plan = Search.searchPhraseSlop(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("tok_prefix"), "expected tok_prefix pruning in the slop probe")
    assert(!plan.contains("documents.parquet"), "slop probe must not rescan the corpus")
  }
}
