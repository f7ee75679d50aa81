package graft.operators

import graft.{QueryPack, Tables}
import graft.sources.IndexCache.Pin
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: language ID,
  * quality scoring, token counting, content fingerprinting.
  *
  * All heuristics are deterministic Column expressions (codegen'd, no
  * UDFs) so they hold their throughput at 100 TB — the whole pack is a
  * single projection + narrow aggregations over the text column.
  */
object TextAnalysis extends QueryPack {

  private val Markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "und", "die"),
    "en" -> Seq("the", "a", "of"),
    "es" -> Seq("el", "la", "que"),
    "fr" -> Seq("le", "les", "et"),
    "zh" -> Seq("shi", "de", "bu"))

  private val Stopwords = Seq("the", "a", "of", "and", "to", "in")

  /** DuckDB fragment: (doc_id, quality) with the same rounded score as
    * [[quality]] — shared with the dedup keep-decision oracle so both
    * gates price documents identically.
    */
  private[operators] val qualityScoreSql: String =
    s"""SELECT doc_id,
       | round(least(len(string_split(text,' ')) / 100.0, 1.0) * 0.4
       |  + (1.0 - (len(text) - len(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')))::DOUBLE / len(text)) * 0.3
       |  + (1.0 - len(list_filter(string_split(text,' '), x -> x IN (${Stopwords.map(s => s"'$s'").mkString(",")})))::DOUBLE
       |      / len(string_split(text,' '))) * 0.3 + 1e-9, 4) AS quality
       |FROM documents""".stripMargin

  /** n-gram/marker-profile language ID: score each language by its
    * marker-token hits; argmax with alphabetical tiebreak, 'und'
    * (undetermined) when nothing matches.
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val scores = Markers.map { case (lang, ms) =>
      lang -> size(filter(toks, t => ms.map(m => t === m).reduce(_ || _)))
    }
    val maxScore = greatest(scores.map(_._2): _*)
    val pred = scores.foldRight(lit("und")) { case ((lang, s), elseCol) =>
      when(s === maxScore && maxScore > 0, lit(lang)).otherwise(elseCol)
    }
    // foldRight keeps alphabetical priority: first match in Markers order wins
    val scored = Tables.parallelized(spark, Tables.documents(spark, dir), "doc_id")
      .select(col("doc_id"), col("lang").as("declared_lang"), pred.as("predicted_lang"),
        maxScore.cast("long").as("marker_hits"))
    scored
  }

  def quality(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val nWords = size(toks).cast("long")
    val meanWlen = aggregate(transform(toks, t => length(t).cast("long")), lit(0L), (a, x) => a + x)
      .cast("double") / nWords
    val punct = length(col("text")) - length(regexp_replace(col("text"), "[a-zA-Z0-9 ]", ""))
    val punctRatio = punct.cast("double") / length(col("text"))
    val stopHits = size(filter(toks, t => Stopwords.map(s => t === s).reduce(_ || _)))
    val stopRatio = stopHits.cast("double") / nWords
    val q = least(nWords.cast("double") / 100.0, lit(1.0)) * 0.4 +
      (lit(1.0) - punctRatio) * 0.3 + (lit(1.0) - stopRatio) * 0.3
    Tables.parallelized(spark, Tables.documents(spark, dir), "doc_id").select(
      col("doc_id"),
      nWords.as("n_words"),
      round(meanWlen + 1e-9, 4).as("mean_wlen"),
      round(punctRatio + 1e-9, 4).as("punct_ratio"),
      round(stopRatio + 1e-9, 4).as("stop_ratio"),
      round(q + 1e-9, 4).as("quality"))
  }

  /** Byte-pair merge table, priority order — trained offline with the
    * textbook BPE procedure (count symbol-pair frequencies over the
    * word vocabulary, repeatedly merge the most frequent pair,
    * lexicographic tiebreak) on the public sf0.1 documents corpus and
    * embedded as a constant so both engines tokenize identically. The
    * corpus vocabulary saturates at 89 merges (every further pair is a
    * singleton); a production table would carry ~50k rows in a
    * broadcast side table with the identical apply semantics.
    */
  private[graft] val BpeMerges: Seq[String] = Seq(
    "e r", "i n", "o r", "s t", "o w", "t a", "l u",
    "m er", "a r", "p ar", "u p", "par k", "s park", "d ow",
    "in dow", "w indow", "g e", "mer ge", "b l", "bl e", "ta ble",
    "c o", "co lu", "colu m", "colum n", "c t", "ct or", "e ctor",
    "v ector", "a m", "e am", "r eam", "st ream", "a lu", "alu e",
    "v alue", "a ta", "d ata", "a l", "al l", "m all", "s mall",
    "j o", "jo in", "f i", "fi l", "fil t", "filt er", "b i",
    "bi g", "g r", "gr o", "gro up", "a s", "as h", "h ash",
    "c u", "cu st", "cust o", "custo mer", "or t", "s ort", "d er",
    "or der", "l ow", "s low", "in e", "l ine", "par t", "a st",
    "f ast", "h e", "r ow", "t he", "a g", "ag g", "e y",
    "k ey", "er y", "q u", "qu ery", "a n", "c an", "s can",
    "a t", "at c", "atc h", "b atch", "d up")

  private val BpeD = "\u0001" // token delimiter: never appears in text

  /** Token count of one word under the embedded merge table, as a pure
    * Column expression (no UDF): start from the character sequence,
    * fold the APPLICABLE merge rules in priority order (a rule can only
    * fire if its merged string is a substring of the word — tokens are
    * always contiguous substrings — so the 89-rule scan prunes to a
    * handful per word), each rule merging its occurrences left-to-right
    * non-overlapping in one pass (the inner fold over the token list).
    * Sequential-by-priority application is the standard fast
    * approximation of the re-ranked BPE apply loop, and is exactly
    * mirrored by the DuckDB twin ([[bpeVocabSql]]).
    */
  private[graft] def bpeTokenCount(w: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(length(w) === 0, lit(0L)).otherwise(size(split(bpeTokenFold(w), BpeD)).cast("long"))

  /** The folded token sequence itself ([[BpeD]]-joined) — shared by the
    * count ([[bpeTokenCount]]) and the pair-statistics step of BPE
    * TRAINING ([[bpeTrainStep]]), which needs the tokens, not just how
    * many there are.
    */
  private[graft] def bpeTokenFold(w: org.apache.spark.sql.Column,
      merges: Seq[String] = BpeMerges): org.apache.spark.sql.Column = {
    val rules = array(merges.map(lit): _*)
    val applicable = filter(rules, r => w.contains(translate(r, " ", "")))
    val init = array_join(filter(split(w, ""), c => c =!= ""), BpeD)
    aggregate(applicable, init, (acc, r) => {
      val a = substring_index(r, " ", 1)
      val b = substring_index(r, " ", -1)
      aggregate(split(acc, BpeD), lit(""), (a2, t) =>
        when(((a2 === a) || a2.endsWith(concat(lit(BpeD), a))) && (t === b),
          concat(a2.substr(lit(1), length(a2) - length(a)), a, b))
          .when(a2 === "", t)
          .otherwise(concat(a2, lit(BpeD), t)))
    })
  }

  /** DuckDB twin of the BPE tokenization: CTEs `dw` (doc_id, w, k),
    * `bvocab` (w, wtoks — the nested list_reduce fold, byte-identical
    * semantics to [[bpeTokenCount]]) and `bperdoc` (doc_id,
    * bpe_tokens). MATERIALIZED: the vocabulary fold must run once per
    * distinct word, like the Spark side.
    */
  /** The DuckDB twin of [[bpeTokenFold]] as an expression over a word
    * column `w` — the chr(1)-joined folded token string.
    */
  private[graft] def bpeFoldSql: String = bpeFoldSqlOf(BpeMerges)

  private[graft] def bpeFoldSqlOf(merges: Seq[String]): String = {
    val rulesSql = merges.map(r => s"'$r'").mkString(", ")
    s"""list_reduce(list_prepend(
       |     array_to_string(string_split(w, ''), chr(1)),
       |     list_filter([$rulesSql], r -> contains(w, replace(r, ' ', '')))),
       |    (acc, r) -> list_reduce(list_prepend('', string_split(acc, chr(1))),
       |      (a2, t) -> CASE
       |       WHEN (a2 = string_split(r, ' ')[1] OR suffix(a2, chr(1) || string_split(r, ' ')[1]))
       |            AND t = string_split(r, ' ')[2]
       |       THEN left(a2, length(a2) - length(string_split(r, ' ')[1])) || string_split(r, ' ')[1] || t
       |       WHEN a2 = '' THEN t
       |       ELSE a2 || chr(1) || t END))""".stripMargin
  }

  private[graft] def bpeVocabSql: String =
    s"""dw AS (
       | SELECT doc_id, w, count(*) AS k
       | FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       | GROUP BY 1, 2),
       |bvocab AS MATERIALIZED (
       | SELECT w,
       |  CASE WHEN length(w) = 0 THEN 0 ELSE len(string_split(
       |   $bpeFoldSql,
       |   chr(1))) END AS wtoks
       | FROM (SELECT DISTINCT w FROM dw)),
       |bperdoc AS (
       | SELECT doc_id, CAST(sum(k * wtoks) AS BIGINT) AS bpe_tokens
       | FROM dw JOIN bvocab USING (w) GROUP BY 1)""".stripMargin

  /** Per-document token counts: whitespace tokens, REAL byte-pair
    * tokens under the embedded merge table, and character length. The
    * scale shape is tokenize-the-vocabulary, not the corpus: the BPE
    * fold runs once per DISTINCT word (a Zipf-bounded frame), and doc
    * counts are a sum of per-word counts weighted by occurrence — the
    * corpus-sized pass is one splitting scan plus a composite-key
    * aggregate, never a per-occurrence tokenization.
    */
  /** The per-snapshot tokenized VOCABULARY (w, wtoks): the BPE fold
    * runs once per distinct word per corpus snapshot and is cached
    * through [[graft.sources.IndexCache]] like every other derived
    * index — the tokenizer table of a production pipeline is built
    * once and probed by everything downstream (token counts, budget
    * sampling), never re-folded per query. Pinned so cached probes
    * replay materialized blocks.
    */
  private[graft] def bpeVocab(spark: SparkSession, dir: String): DataFrame =
    graft.sources.IndexCache.getOrBuild(spark, "bpe_vocab", dir) {
      Tables.documents(spark, dir)
        .select(explode(split(col("text"), " ")).as("w")).distinct()
        .withColumn("wtoks", bpeTokenCount(col("w")))
        .pin()
    }

  def tokenCounts(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallelized(spark,
      Tables.documents(spark, dir).select(col("doc_id"), col("text")), "doc_id")
    val dw = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("k"))
    val perDoc = dw.join(bpeVocab(spark, dir), Seq("w"))
      .groupBy(col("doc_id")).agg(sum(col("k") * col("wtoks")).as("bpe_tokens"))
    docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("ws_tokens"),
      length(col("text")).cast("long").as("n_chars_text"))
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("bpe_tokens"))
      .select(col("doc_id"), col("ws_tokens"), col("bpe_tokens"), col("n_chars_text"))
  }

  /** Winnowing-style fingerprint: char-5-grams sampled at stride 3; the
    * fingerprint is the minimum gram hash (rolling-hash analog with an
    * exchangeable min, so it shards cleanly: partial min per partition,
    * final min in the combine).
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.parallelized(spark,
      Tables.documents(spark, dir).select(col("doc_id"), col("text")), "doc_id")
      .filter(length(col("text")) >= 5)
      // grams in one pass: the position sequence maps straight to
      // substrings inside the same row — no self-join to re-attach text
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), length(col("text")) - 4, lit(3)),
        p => col("text").substr(p, lit(5)))).as("gram"))
      .groupBy(col("doc_id"))
      .agg(
        min(md5(col("gram").cast("binary"))).as("fingerprint"),
        count_distinct(col("gram")).as("n_distinct_grams"))

  /** Sliding-window token chunking with overlap (chunk=32 tokens,
    * stride=24 ⇒ 8-token overlap) — how training pipelines split long
    * docs for fixed-context models. A generator op: runs AFTER filters,
    * multiplies rows by ~n_tokens/stride.
    */
  def chunk(spark: SparkSession, dir: String): DataFrame = {
    val chunkSize = 32
    val stride = 24
    val toks = split(col("text"), " ")
    Tables.parallelized(spark, Tables.documents(spark, dir), "doc_id")
      .select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), greatest(ceil((size(col("t")) - chunkSize).cast("double") / stride).cast("long"), lit(0L)))).as("ci"))
      .select(
        col("doc_id"), col("ci").as("chunk_id"),
        array_join(slice(col("t"), col("ci") * stride + 1, lit(chunkSize)), " ").as("chunk_text"),
        least(size(col("t")) - col("ci") * stride, lit(chunkSize)).cast("long").as("chunk_tokens"))
  }

  /** Text normalization: lowercase, strip non-alphanumerics, collapse
    * whitespace — the canonical pre-dedup cleanup pass.
    */
  def normalize(spark: SparkSession, dir: String): DataFrame =
    Tables.parallelized(spark, Tables.documents(spark, dir), "doc_id")
      .select(col("doc_id"),
        trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
          .as("norm_text"))
      .withColumn("norm_hash", md5(col("norm_text").cast("binary")))

  /** Deterministic ~10% Bernoulli sample: keep docs whose md5-derived
    * bucket (0..99) is < 10. Hash-based sampling is reproducible across
    * runs/engines and composes with incremental processing (a doc's
    * fate never changes as the corpus grows) — unlike rand()-based
    * sampling.
    */
  def sampleDeterministic(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("bucket",
        conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 4), 16, 10).cast("long") % 100)
      .filter(col("bucket") < 10)
      .select(col("doc_id"), col("lang"), col("bucket"))
      .orderBy(col("doc_id"))

  /** Stratified sample: exactly min(n, 20) docs per language, chosen by
    * md5 order (deterministic, uniform within stratum).
    */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 20)
      .select(col("doc_id"), col("lang"), col("rk").cast("long").as("rk"))
      .orderBy(col("lang"), col("rk"))
  }

  /** Deterministic weighted sample (Efraimidis–Spirakis A-ES): rank by
    * ln(u)/w where u is an md5-derived uniform in (0,1] and w = n_chars
    * — heavier docs are proportionally likelier, the draw is without
    * replacement, reproducible across runs/engines (no RNG), and
    * distributed: the key is a per-row projection, the top-k is one
    * TakeOrdered (partial top-k per partition, k rows to the driver).
    * The quality-weighted corpus draw every data-mixing pipeline runs.
    */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame = {
    val u = (conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("double") + 1.0) / 4294967296.0
    val key = log(u) / col("n_chars")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"), key.as("k"))
      .orderBy(col("k").desc, col("doc_id"))
      .limit(100)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  private val MixtureShares: Seq[(String, Int)] =
    Seq("en" -> 40, "de" -> 15, "es" -> 15, "fr" -> 15, "zh" -> 15)

  /** Corpus mixing to fixed per-language quotas (en 40 / others 15 —
    * the "data mixture" step of corpus assembly): deterministic md5
    * order within each language, quota cutoff per stratum. One shuffle
    * on lang; each stratum's window is independent.
    */
  def sampleMixture(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
    val quota = MixtureShares.foldRight(lit(0)) { case ((l, q), e) =>
      when(col("lang") === l, lit(q)).otherwise(e)
    }
    Tables.documents(spark, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= quota)
      .select(col("doc_id"), col("lang"), col("rk").cast("long").as("rk"))
      .orderBy(col("lang"), col("rk"))
  }

  /** Temperature-scaled mixture sampling — the multilingual
    * rebalancing rule of large LM data pipelines: stratum `l` gets a
    * quota ∝ n_l^α (α = 0.5, budget 100 docs), so low-resource
    * languages are upsampled relative to proportional (α = 1) sampling
    * and high-resource ones damped, without the fixed hand-set quotas
    * of [[sampleMixture]]. The quota table is a ≤|langs|-row aggregate
    * (map-side partial counts, broadcast back); selection is the same
    * deterministic md5-ranked top-k per stratum. floor(+1e-9) keeps
    * the double→int quota engine-exact (the Σ n^α normalizer's
    * partial-agg order differs between engines by ulps).
    */
  def sampleTemperature(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val counts = d.groupBy(col("lang")).agg(count(lit(1)).cast("double").as("n"))
    val z = counts.agg(sum(pow(col("n"), 0.5)).as("z"))
    val quotas = counts.crossJoin(broadcast(z))
      .select(col("lang"),
        floor(lit(100.0) * pow(col("n"), 0.5) / col("z") + lit(1e-9)).cast("int").as("quota"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
    d.withColumn("rk", row_number().over(w))
      .join(broadcast(quotas), Seq("lang"))
      .filter(col("rk") <= col("quota"))
      .select(col("doc_id"), col("lang"), col("rk").cast("long").as("rk"))
      .orderBy(col("lang"), col("rk"))
  }

  /** PII scrubbing: regex redaction of email-like and long-digit
    * (phone/ID) spans, with counts of what was redacted. The patterns
    * are deliberately simple/portable; a production pass would chain
    * more recognizers through the same shape.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val emailRe = "[a-zA-Z0-9._]+@[a-zA-Z0-9.]+\\.[a-zA-Z]+"
    val digitsRe = "[0-9]{7,}"
    // redistribute only the two columns the kernel reads — the scrub
    // never touches lang/source/n_chars, so they must not ride the
    // (local-only) split-fix shuffle
    val d = Tables.parallelized(spark,
      Tables.documents(spark, dir).select(col("doc_id"), col("text")), "doc_id")
    d.select(
      col("doc_id"),
      regexp_count(col("text"), lit(emailRe)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(digitsRe)).cast("long").as("n_longdigits"),
      regexp_replace(regexp_replace(col("text"), emailRe, "<EMAIL>"), digitsRe, "<NUM>").as("scrubbed"))
      .withColumn("was_redacted", (col("n_emails") + col("n_longdigits")) > 0)
  }

  /** Benchmark decontamination: flag docs sharing any word-5-gram with
    * a held-out benchmark set (here: doc_id < 10). The join is on the
    * 5-gram hash — at scale the benchmark side is a broadcast set of
    * fingerprints, so the corpus scan stays shuffle-free.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    def grams(df: DataFrame) = df
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= 5)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("t")) - 5),
        i => md5(concat_ws(" ",
          element_at(col("t"), i + 1), element_at(col("t"), i + 2), element_at(col("t"), i + 3),
          element_at(col("t"), i + 4), element_at(col("t"), i + 5)).cast("binary"))))
        .as("g"))
    val d = Tables.parallelized(spark, Tables.documents(spark, dir), "doc_id")
    val bench = grams(d.filter(col("doc_id") < 10)).select(col("g")).distinct()
    val hits = grams(d.filter(col("doc_id") >= 10))
      .join(broadcast(bench), Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated_grams"))
    d.filter(col("doc_id") >= 10).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left").na.fill(0L, Seq("n_contaminated_grams"))
      .withColumn("contaminated", col("n_contaminated_grams") > 0)
  }

  /** FUZZY decontamination — the near-duplicate complement of
    * [[decontaminate]]'s exact 5-gram containment: a training doc is
    * contaminated if its word-3-gram shingle set has Jaccard ≥ 0.5
    * with ANY benchmark doc (doc_id < 10), catching the
    * lightly-reworded eval leaks exact n-gram matching misses. Rides
    * the per-doc shingle-set index ([[Dedup.shingleSetIndex]], built
    * once per snapshot, shared with the dedup family); the benchmark
    * side BROADCASTS — eval benches are kilobytes-to-megabytes while
    * the corpus is the 100 TB side, so the scan is one map-side pass
    * computing |bench| set intersections per doc (array_intersect on
    * the compact hash sets — nothing explodes, nothing shuffles except
    * the top-1 window on the per-doc candidate rows). Emits every
    * training doc with its best-matching benchmark doc and the exact
    * Jaccard, flagged at τ = 0.5.
    */
  def decontaminateFuzzy(spark: SparkSession, dir: String): DataFrame = {
    val shs = Dedup.shingleSetIndex(spark, dir)
    val bench = shs.filter(col("doc_id") < 10)
      .select(col("doc_id").as("bench_doc"), col("shs").as("sb"))
    val scored = shs.filter(col("doc_id") >= 10)
      .crossJoin(broadcast(bench))
      .withColumn("inter", size(array_intersect(col("shs"), col("sb"))).cast("double"))
      // zero-overlap candidates are not matches: they fall to the
      // left-join null path below (best_bench NULL, jac 0)
      .filter(col("inter") > 0)
      .withColumn("jac",
        col("inter") / (size(col("shs")) + size(col("sb")) - col("inter")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("jac").desc, col("bench_doc"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("bench_doc"), col("jac"))
    Tables.documents(spark, dir).filter(col("doc_id") >= 10).select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("bench_doc"),
        round(lit(1e-9) + coalesce(col("jac"), lit(0.0)), 4).as("jac"),
        (coalesce(col("jac"), lit(0.0)) >= 0.5).as("contaminated"))
  }

  /** Unigram log-probability quality score — the cheap stand-in for a
    * KenLM-style perplexity filter every large corpus pipeline runs:
    * token frequencies over the whole corpus (one shuffle on token),
    * then each doc scored by the mean negative log-probability of its
    * tokens. High scores = rare-token-heavy docs (gibberish, boilerplate
    * explosions); low = stopword soup. At 100 TB the frequency table is
    * the interesting part: it shuffles (token, count) partials, never
    * the text, and the scoring join is on the exploded token stream.
    */
  def unigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    // Skew-safe scoring shape. The naive formulation (exploded token
    // stream hash-joined on `tok`) sends every occurrence of each
    // stopword to one task — classic Zipf skew, a straggler factory at
    // 100×. Two structural fixes:
    //  1. pre-aggregate (doc_id, tok) → k first: that groupBy shuffles
    //     on a SKEW-FREE composite key, and afterwards a token appears
    //     at most once per document — per-key multiplicity drops from
    //     total occurrences to document frequency;
    //  2. split the frequency table at rank HeadK: the head (the only
    //     tokens that can be skewed) joins as a broadcast, so the
    //     shuffle join only ever sees tail tokens, whose corpus
    //     frequency is provably ≤ total/HeadK (HeadK tokens each have
    //     count ≥ the rank-HeadK count) — a hard worst-key bound
    //     instead of a Zipf head.
    // dt is pinned: several consumers (the frequency build and both
    // scoring joins replay one shuffle).
    val HeadK = 1024
    val toks = Tables.parallelized(spark,
      Tables.documents(spark, dir).select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val dt = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("k"))
      .pin()
    val freq = dt.groupBy(col("tok")).agg(sum(col("k")).as("c"))
    val total = freq.agg(sum(col("c")).as("n"))
    val head = freq.orderBy(col("c").desc, col("tok")).limit(HeadK).pin() // several consumers
    val tail = freq.join(broadcast(head.select(col("tok"))), Seq("tok"), "left_anti")
    val headScored = dt.join(broadcast(head), Seq("tok"))
    val tailScored = dt.join(broadcast(head.select(col("tok"))), Seq("tok"), "left_anti")
      .join(tail, Seq("tok"))
    headScored.unionByName(tailScored)
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(
        round(lit(1e-9) + sum(col("k") * -log(col("c") / col("n"))) / sum(col("k")), 4)
          .as("mean_neg_logprob"),
        sum(col("k")).as("n_tokens"))
  }

  /** Bigram-LM quality score — the next step up from
    * [[unigramLogprob]]'s KenLM stand-in: per doc the mean
    * −ln P(wᵢ | wᵢ₋₁) with P(b|a) = c(a,b) / c(a,·), both counts from
    * the corpus itself. The shapes that keep it 100 TB-safe:
    * occurrence streams only ever shuffle on the COMPOSITE bigram key
    * (doc-level pre-aggregate first, so per-key multiplicity is
    * document frequency, not occurrence count); the prefix totals
    * c(a,·) are derived from the bigram vocabulary table by a
    * map-side-combinable groupBy (never from the occurrence stream),
    * and the vocab-level prefix join splits at rank 1024 so Zipf-head
    * prefixes ("the …") ride a broadcast.
    */
  def bigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val HeadK = 1024
    val toks = Tables.parallelized(spark,
      Tables.documents(spark, dir).select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    // adjacent pairs: zip t with its tail (no self-join on position)
    val bigrams = toks.select(col("doc_id"),
      explode(zip_with(slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => struct(a.as("a"), b.as("b")))).as("g"))
      .select(col("doc_id"), col("g.a").as("a"), col("g.b").as("b"))
    // dtb is NOT pinned: its only corpus-sized consumer is the final
    // join, where the bigram-stat side (c_ab, c_a per distinct bigram)
    // is far smaller than the occurrence stream and is the broadcast
    // build; dtb's two consumers (bfreq, final join) share the one
    // (doc,a,b) shuffle via AQE stage reuse. bfreq and head are pinned:
    // small, with several consumers each.
    // The broadcast hint stays: unhinted, the static planner picks a
    // sort-merge join (the pinned stat side has no size estimate), and
    // even with AQE's runtime conversion the dtb occurrence stream pays
    // an extra corpus exchange + sort — sf10 solo 7.7 s hinted vs 33.0 s
    // unhinted. The hint assumes the distinct-bigram frame fits the
    // broadcast limits: ~1k rows at every tested SF, but a web-scale
    // corpus can reach billions of bigrams and the 8 GB broadcast cap —
    // on such a corpus remove the hint and accept the shuffle join.
    val dtb = bigrams.groupBy(col("doc_id"), col("a"), col("b"))
      .agg(count(lit(1)).as("k"))
    val bfreq = dtb.groupBy(col("a"), col("b")).agg(sum(col("k")).as("c_ab"))
      .pin()
    val pref = bfreq.groupBy(col("a")).agg(sum(col("c_ab")).as("c_a"))
    val head = pref.orderBy(col("c_a").desc, col("a")).limit(HeadK).pin()
    val tail = pref.join(broadcast(head.select(col("a"))), Seq("a"), "left_anti")
    val enriched = bfreq.join(broadcast(head), Seq("a"))
      .unionByName(
        bfreq.join(broadcast(head.select(col("a"))), Seq("a"), "left_anti")
          .join(tail, Seq("a")))
    dtb.join(broadcast(enriched), Seq("a", "b"))
      .groupBy(col("doc_id"))
      .agg(
        round(lit(1e-9) + sum(col("k") * -log(col("c_ab") / col("c_a"))) / sum(col("k")), 4)
          .as("mean_neg_logprob"),
        sum(col("k")).as("n_bigrams"))
  }

  /** Feature-hashed document embedding (the hashing trick:
    * Weinberger et al. 2009) — the deterministic "vectorize" stage
    * that bridges the text corpus to the similarity/ANN family
    * without a model: token → md5-hashed dimension in [0,64) with a
    * ±1 md5 sign bit, weights = signed term counts, L2-normalized.
    * Emitted SPARSE ((doc_id, dim, weight), absent dims are zero) —
    * the shape the downstream index builders consume, and scalar
    * columns keep the oracle hash-compare exact. The squared norm is
    * a sum of squared INTEGER counts, so normalization divides by the
    * same exact value in both engines — no fp-summation drift. One
    * shuffle on the (doc, tok) pre-aggregate, one on (doc, dim);
    * both keys are doc-scoped, skew-free.
    */
  def hashEmbed(spark: SparkSession, dir: String): DataFrame = {
    val dt = Tables.parallelized(spark,
      Tables.documents(spark, dir).select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("k"))
    val hashed = dt.select(
      col("doc_id"),
      (expr("conv(substring(md5(tok), 1, 8), 16, 10)").cast("long") % 64).as("dim"),
      (expr("conv(substring(md5(tok), 9, 1), 16, 10)").cast("long") % 2 * 2 - 1).as("sign"),
      col("k"))
    val dims = hashed.groupBy(col("doc_id"), col("dim"))
      .agg(sum(col("sign") * col("k")).as("s"))
      .filter(col("s") =!= 0)
    val norms = dims.groupBy(col("doc_id"))
      .agg(sum(col("s") * col("s")).as("sq")) // exact integer
    dims.join(norms, Seq("doc_id"))
      .select(col("doc_id"), col("dim"),
        round(col("s") / sqrt(col("sq").cast("double")) + 1e-9, 4).as("weight"))
  }

  /** Corpus topic exploration — the full unsupervised pipeline
    * composed end-to-end from this library's own stages: documents →
    * [[hashEmbed]] (densified to 64-dim unit vectors) →
    * [[Similarity.kmeansOn]] (deterministic first-k seeds, one Lloyd
    * round, k=8) → cluster labeling by cluster-level tf-idf (term
    * count within the cluster × ln(k / #clusters containing the
    * term)), top 3 terms per cluster. Every stage is the scale shape
    * the library already proves elsewhere: doc-scoped shuffles into
    * the embed, a k×d broadcast per Lloyd round, and the labeling
    * window partitions over k=8 clusters of vocab-bounded term lists.
    */
  def clusterTopics(spark: SparkSession, dir: String): DataFrame = {
    val K = 8
    // the doc-embedding quantizer is a derived index like the LSH bands
    // and the vector cells: build once per corpus snapshot, reuse
    val (cells, _) = graft.sources.IndexCache.getOrBuild(spark, "doc_topics_kmeans", dir) {
      val sparse = hashEmbed(spark, dir) // (doc_id, dim, weight) unit-norm
      val dense = sparse.groupBy(col("doc_id"))
        .agg(map_from_entries(collect_list(struct(col("dim"), col("weight")))).as("m"))
        .select(col("doc_id").as("vec_id"),
          transform(sequence(lit(0L), lit(63L)),
            d => coalesce(element_at(col("m"), d), lit(0.0))).as("embedding"))
      Similarity.kmeansOn(dense, k = K, iters = 1)
    }
    val dt = Tables.parallelized(spark,
      Tables.documents(spark, dir).select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("k"))
    val joined = dt.join(cells.select(col("vec_id").as("doc_id"), col("cell")), Seq("doc_id"))
    val ctf = joined.groupBy(col("cell"), col("tok")).agg(sum(col("k")).as("tf"))
    val df = ctf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val sizes = cells.groupBy(col("cell")).agg(count(lit(1)).as("n_docs"))
    val scored = ctf.join(df, Seq("tok"))
      .withColumn("score", col("tf") * log(lit(K.toDouble) / col("df")))
    val w = Window.partitionBy(col("cell")).orderBy(col("score").desc, col("tok"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .join(broadcast(sizes), Seq("cell"))
      .select(col("cell").as("cluster"), col("n_docs"), col("tok"), col("tf"),
        round(col("score") + 1e-9, 4).as("score"), col("rk"))
      .orderBy(col("cluster"), col("rk"))
  }

  /** Token-budget corpus selection: per language, keep the
    * highest-quality documents whose whole-bucket token mass fits a
    * 2000-token budget. The scale discipline is aggregate-then-window:
    * docs reduce map-side to (lang, quality-bucket) token totals (the
    * 4-decimal quality score is its own bucket key, ≤10⁴ buckets), the
    * per-language cumulative runs over that BOUNDED frame (never over
    * documents), and the resulting per-language quality threshold
    * broadcasts back onto the doc stream as a scan-level filter.
    * Whole buckets are kept while the running total fits — greedy,
    * deterministic, partial buckets excluded.
    */
  def sampleTokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val Budget = 2000L
    // budget REAL tokens: the per-doc BPE counts from [[tokenCounts]]
    // (embedded merge table), not whitespace words
    // pinned: several consumers — BOTH the bucket aggregate and the
    // final filter read this frame; unpinned, the quality + tokenization
    // DAG executes twice (measured 8.8s → ~half at sf1)
    val docs = quality(spark, dir).select(col("doc_id"), col("quality"))
      .join(tokenCounts(spark, dir).select(col("doc_id"), col("bpe_tokens").as("n_tokens")), Seq("doc_id"))
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("lang")), Seq("doc_id"))
      .pin()
    val buckets = docs.groupBy(col("lang"), col("quality"))
      .agg(sum(col("n_tokens")).as("btoks"))
    val w = Window.partitionBy(col("lang")).orderBy(col("quality").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val kept = buckets.withColumn("cum", sum(col("btoks")).over(w))
      .filter(col("cum") <= Budget)
    val thresholds = kept.groupBy(col("lang")).agg(min(col("quality")).as("qmin"))
    docs.join(broadcast(thresholds), Seq("lang"))
      .filter(col("quality") >= col("qmin"))
      .select(col("doc_id"), col("lang"), col("quality"), col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Top-3 tf-idf terms per document. Same skew-safe shape as
    * [[unigramLogprob]]: the (doc, tok) pre-aggregate shuffles on a
    * composite key, and the document-frequency join splits at rank 1024
    * so the Zipf head rides a broadcast while the shuffled tail has a
    * hard per-key bound. The final top-3 window partitions by doc_id —
    * per-doc vocabulary is bounded, so no straggler partitions. Ties
    * (equal tf and df ⇒ bit-identical tfidf in both engines) break on
    * the token string.
    */
  def tfidfTop(spark: SparkSession, dir: String): DataFrame = {
    val HeadK = 1024
    // tf-idf IS a probe of the materialized lexical index: (doc, tok,
    // tf) is the whitespace posting list and df is the dictionary —
    // both built once per snapshot (graft.sources.TextIndex) and shared
    // with the search family; only the head/tail skew split, the score
    // and the per-doc top-3 remain per-query work
    import graft.sources.TextIndex
    val dt = TextIndex.postingsWs(spark, dir)
    val dfreq = TextIndex.vocabWs(spark, dir).select(col("tok"), col("df"))
    val nDocs = TextIndex.docLensStd(spark, dir).agg(count(lit(1)).as("n_docs"))
    val head = dfreq.orderBy(col("df").desc, col("tok")).limit(HeadK).pin() // several consumers
    val tail = dfreq.join(broadcast(head.select(col("tok"))), Seq("tok"), "left_anti")
    val scored = dt.join(broadcast(head), Seq("tok"))
      .unionByName(
        dt.join(broadcast(head.select(col("tok"))), Seq("tok"), "left_anti")
          .join(tail, Seq("tok")))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", col("tf") * log(col("n_docs") / col("df")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("tok"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("tok"), col("tf"), col("df"),
        round(lit(1e-9) + col("tfidf"), 4).as("tfidf"), col("rk"))
  }

  private val ProfiledCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Column profiling — the data-quality pass a curation pipeline runs
    * before training: per-column count/nulls/min/max/mean/stddev/median
    * for the numeric fact columns. The moment stats all come from ONE
    * aggregation pass (one scan, one partial-aggregated reduce to a
    * single row), then `stack`ed to one row per column. A naive
    * per-column loop would scan the 100 TB fact table once per column.
    *
    * The median goes through the mergeable 1024-bin quantile sketch
    * ([[Sketches.binnedQuantiles]] over the stacked (col_name, value)
    * frame) — this IS the scale form: an exact `percentile` here would
    * buffer every value of every profiled column in one final-reduce
    * task, while the sketch reduces each column to ≤ 1024 mergeable
    * bin counts map-side. The oracle applies byte-identical binning,
    * so the p50 still hash-matches. Every stat in this query is a
    * constant-space mergeable partial.
    */
  def profileColumns(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    // r16: the one-row stats pass also emits UNROUNDED min/max so the
    // quantile sketch's bin range comes from here instead of a third
    // full lineitem pass (binnedQuantiles' own stats aggregate) — the
    // sketch sees byte-identical mn/mx/n (min/max are exact value
    // selections; n is the same non-null count), so the binning and
    // the oracle hash are unchanged. 3 scans → 2.
    val aggs = ProfiledCols.flatMap(c => Seq(
      count(col(c)).as(s"${c}_n"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
      min(col(c)).as(s"${c}_mn_raw"),
      max(col(c)).as(s"${c}_mx_raw"),
      round(lit(1e-9) + min(col(c)), 4).as(s"${c}_min"),
      round(lit(1e-9) + max(col(c)), 4).as(s"${c}_max"),
      round(lit(1e-9) + avg(col(c)), 4).as(s"${c}_mean"),
      round(lit(1e-9) + stddev_samp(col(c)), 4).as(s"${c}_std")))
    val one = l.agg(aggs.head, aggs.tail: _*) // both consumers reuse its exchange
    val stackArgs = ProfiledCols.map(c =>
      s"'$c', ${c}_n, ${c}_nulls, ${c}_min, ${c}_max, ${c}_mean, ${c}_std")
      .mkString(", ")
    val stats = one.selectExpr(
      s"stack(${ProfiledCols.length}, $stackArgs) AS (col_name, n, n_null, min, max, mean, std)")
    val sketchStats = one.selectExpr(
      s"stack(${ProfiledCols.length}, ${ProfiledCols.map(c =>
        s"'$c', ${c}_mn_raw, ${c}_mx_raw, ${c}_n").mkString(", ")}) AS (col_name, mn, mx, n)")
    // unpivot to (col_name, value) and sketch all columns in one build;
    // the p50 frame is ProfiledCols.length rows — broadcast the join back
    val unpivot = l.selectExpr(
      s"stack(${ProfiledCols.length}, ${ProfiledCols.map(c => s"'$c', $c").mkString(", ")}) AS (col_name, value)")
      .filter(col("value").isNotNull)
    val p50 = Sketches.binnedQuantiles(unpivot, key = "col_name", value = "value",
        pcts = Seq(50), stats = sketchStats)
      .select(col("col_name"), col("p50_est").as("p50"))
    stats.join(broadcast(p50), Seq("col_name"))
      .select(col("col_name"), col("n"), col("n_null"), col("min"), col("max"),
        col("mean"), col("std"), col("p50"))
      .orderBy(col("col_name"))
  }

  /** Gopher-style repetition filters (Rae et al. 2021 §A1.1 / C4's
    * heuristics): fraction of duplicate words, fraction of duplicate
    * word-2-grams, and the share of the single most frequent 2-gram —
    * boilerplate and template spam score high on all three. The `keep`
    * flag applies the thresholds every large-scale curation pipeline
    * tunes. One explode + two doc-scoped aggregations (keys carry
    * doc_id, so the shuffle is skew-free by construction and the
    * per-doc state is bounded by document length, never corpus size).
    */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallelized(spark,
      Tables.documents(spark, dir).select(col("doc_id"), col("text")), "doc_id")
    val base = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_words"),
        size(array_distinct(col("w"))).cast("long").as("ndw"),
        col("w"))
    val grams = base.select(col("doc_id"), col("n_words"), col("ndw"),
      explode(transform(sequence(lit(1), size(col("w")) - 1),
        i => concat(element_at(col("w"), i), lit(" "), element_at(col("w"), i + 1)))).as("g"))
    val counts = grams
      .groupBy(col("doc_id"), col("n_words"), col("ndw"), col("g"))
      .agg(count(lit(1)).as("k"))
    val s = counts
      .groupBy(col("doc_id"), col("n_words"), col("ndw"))
      .agg(sum(col("k")).as("total"), max(col("k")).as("topk"), count(lit(1)).as("nd"))
    val dupWord = lit(1.0) - col("ndw").cast("double") / col("n_words")
    val dup2g = lit(1.0) - col("nd").cast("double") / col("total")
    val top2g = col("topk").cast("double") / col("total")
    s.select(
      col("doc_id"), col("n_words"),
      round(dupWord + 1e-9, 4).as("dup_word_frac"),
      round(dup2g + 1e-9, 4).as("dup_2gram_frac"),
      round(top2g + 1e-9, 4).as("top_2gram_frac"),
      (dup2g <= 0.08 && top2g <= 0.10 && dupWord <= 0.55).as("keep"))
  }

  /** The curation FUNNEL — the five gates of a training-data pipeline
    * composed end-to-end over the library's own stages, reported as a
    * per-stage survivor count (the readout every corpus-curation run
    * publishes): raw → exact-dedup keeper (min doc_id per content
    * hash) → language identified (any marker hit) → quality ≥ 0.5 →
    * Gopher repetition rules → deterministic 10% hash sample. Gates
    * apply cumulatively; everything reduces to ONE pass over the
    * per-doc flag frame (six conditional sums in a single aggregate,
    * unpivoted with stack) — at 100 TB the cost is the component
    * flag computations, each individually scale-audited under its own
    * §2 key; the funnel adds one conjunction projection and a 6-row
    * aggregate.
    */
  def curateEnd2End(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val byHash = Window.partitionBy(md5(col("text").cast("binary")))
    val flags = docs
      .withColumn("keeper", min(col("doc_id")).over(byHash))
      .select(col("doc_id"), (col("doc_id") === col("keeper")).as("k_dedup"))
      .join(langId(spark, dir).select(col("doc_id"), (col("marker_hits") > 0).as("k_lang")), Seq("doc_id"))
      .join(quality(spark, dir).select(col("doc_id"), (col("quality") >= 0.5).as("k_q")), Seq("doc_id"))
      .join(gopherRules(spark, dir).select(col("doc_id"), col("keep").as("k_g")), Seq("doc_id"), "left")
      .na.fill(false, Seq("k_g"))
      .withColumn("k_s",
        conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 4), 16, 10)
          .cast("long") % 100 < 10)
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    flags.agg(
        count(lit(1)).as("c0"),
        cnt(col("k_dedup")).as("c1"),
        cnt(col("k_dedup") && col("k_lang")).as("c2"),
        cnt(col("k_dedup") && col("k_lang") && col("k_q")).as("c3"),
        cnt(col("k_dedup") && col("k_lang") && col("k_q") && col("k_g")).as("c4"),
        cnt(col("k_dedup") && col("k_lang") && col("k_q") && col("k_g") && col("k_s")).as("c5"))
      .selectExpr("""stack(6,
        0, 'raw', c0,
        1, 'exact_dedup', c1,
        2, 'langid', c2,
        3, 'quality', c3,
        4, 'gopher', c4,
        5, 'sample10', c5) AS (stage_idx, stage, docs)""")
      .select(col("stage_idx").cast("int"), col("stage"), col("docs").cast("long").as("docs"))
      .orderBy(col("stage_idx"))
  }

  /** The corpus MIX report — the per-language table every LM data
    * pipeline publishes before setting mixture weights (docs, token
    * volume, token share, mean doc length per language): one
    * partial-aggregated pass over (lang, token-count) projections, a
    * |langs|-row result, and the global token total re-enters as a
    * 1-row broadcast for the share column. All integer arithmetic
    * until the final exact double divisions — engine-portable.
    */
  def corpusReport(spark: SparkSession, dir: String): DataFrame = {
    val perLang = Tables.documents(spark, dir)
      .select(col("lang"), size(split(col("text"), " ")).cast("long").as("toks"),
        col("n_chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
    val total = perLang.agg(sum(col("n_tokens")).as("tot_tokens"))
    perLang.crossJoin(broadcast(total))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_chars"),
        round(lit(1e-9) + col("n_tokens") * 100.0 / col("tot_tokens"), 4).as("token_pct"),
        round(lit(1e-9) + col("n_tokens").cast("double") / col("n_docs"), 2).as("mean_doc_tokens"))
      .orderBy(col("lang"))
  }

  private val DsirB = 256 // hashed-feature buckets

  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw
    * document by how much it looks like a TARGET domain (here the `en`
    * slice) under hashed unigram language models. Both distributions
    * live in [[DsirB]] md5-hash buckets, so the model is two 256-row
    * aggregates built in the SAME single pass over (doc, bucket) counts
    * — at 100 TB the corpus is read once, the bucket log-ratio table
    * (add-0.5 smoothed) broadcasts at kilobyte size, and each doc's
    * importance = mean over its tokens of the bucket log-ratios is one
    * more partial-aggregated pass over that same frame. Top-100 by
    * importance — the resampling pool.
    */
  def sampleImportance(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("lang"), col("text"))
    val db = Tables.parallelized(spark, docs, "doc_id")
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(col("w").cast("binary")), 1, 8), 16, 10).cast("long") % DsirB).as("b"))
      .groupBy(col("doc_id"), col("lang"), col("b")).agg(count(lit(1)).as("k"))
    val raw = db.groupBy(col("b")).agg(sum(col("k")).as("r"))
    val tgt = db.filter(col("lang") === "en").groupBy(col("b")).agg(sum(col("k")).as("t"))
    val totals = db.agg(sum(col("k")).as("rt"),
      sum(when(col("lang") === "en", col("k")).otherwise(lit(0L))).as("tt"))
    val lr = raw.join(tgt, Seq("b"), "left").na.fill(0L, Seq("t"))
      .crossJoin(broadcast(totals))
      .select(col("b"),
        (log((col("t") + 0.5) / (col("tt") + 0.5 * DsirB)) -
         log((col("r") + 0.5) / (col("rt") + 0.5 * DsirB))).as("lr"))
    db.join(broadcast(lr), Seq("b"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(round(sum(col("k") * col("lr")) / sum(col("k")) + 1e-9, 4).as("importance"))
      .orderBy(col("importance").desc, col("doc_id"))
      .limit(100)
  }

  private val PackSeqLen = 512
  private val PackShards = 64

  /** Training-sequence packing (the sample-packing stage every LM
    * pre-training pipeline runs before batching): documents
    * concatenate into fixed-length token streams of [[PackSeqLen]],
    * each doc assigned to the sequence where its FIRST token falls in
    * the concatenated stream. Docs shard deterministically into
    * [[PackShards]] md5 shards — at cluster scale each shard is one
    * independent packing stream, so the only coordination is the
    * shuffle on the shard key; within a shard the layout is a window
    * cumsum in doc_id order (shard cardinality ≫ cores ⇒ parallel,
    * skew-free). Output: per-(shard, seq) packed stats — the frame a
    * writer would iterate to emit training shards.
    */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("toks"))
      .withColumn("shard",
        conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 4), 16, 10)
          .cast("long") % PackShards)
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
    d.withColumn("start", sum(col("toks")).over(w) - col("toks"))
      .withColumn("seq_id", (col("start") / PackSeqLen).cast("long"))
      .groupBy(col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("tokens"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("shard"), col("seq_id"))
  }

  /** One step of distributed BPE TRAINING — the pair-counting argmax
    * the textbook procedure repeats to grow the merge table (the
    * embedded [[BpeMerges]] table was produced by exactly this loop
    * offline): under the current merges, count every adjacent token
    * pair over the corpus weighted by word frequency and emit the
    * top-10 candidates — the next merges to adopt. The scale shape is
    * the tokenize-the-vocab discipline: word counts are one
    * corpus-sized composite-key aggregate, the fold + pair explode run
    * once per DISTINCT word (Heaps'-law bounded, corpus-size-
    * independent), and pair counts partial-aggregate map-side. An
    * iteration of training = this step + appending the winner; at
    * 100 TB the corpus is scanned once for the word counts and never
    * again across iterations. The step runs at iteration
    * [[BpeTrainAt]] (the full embedded table is SATURATED on this
    * corpus — under all 89 merges every vocab word is a single token
    * and there is nothing left to count — so the mid-training prefix
    * is the honest in-progress state).
    */
  private[graft] val BpeTrainAt = 40

  /** Embedded linear quality model — the fasttext-style learned filter
    * every production pipeline runs next to the heuristics: a logistic
    * regression over the SAME 64-dim hashed bag-of-words the
    * [[hashEmbed]] stage emits, DISTILLED offline from the heuristic
    * [[quality]] gate (teacher = quality ≥ 0.5; 2000 full-batch steps,
    * L2 1e-4, 83% train agreement at sf0.01) — weights embedded like
    * [[BpeMerges]]. At run time the model is a 64-row broadcast join +
    * one map-side partial-aggregated dot product per doc: one corpus
    * pass, no driver loop, the inference shape of any linear scorer at
    * 100 TB.
    */
  private[graft] val QualityLrBias = -8.8447
  private[graft] val QualityLrW: Seq[Double] = Seq(
    -2.1224, -2.4448, 0.0, 0.0, 0.0, 2.13, 0.0, 0.0, 0.0, 0.0, 2.4608, 0.0,
    1.9961, 0.1187, 0.7751, 0.0, 0.0, 0.0, 0.0, -1.6216, 0.0, 0.0, 2.4392,
    1.3495, 0.0, -1.7143, 0.0, -2.4423, 0.0, 0.0, 2.9435, 1.3314, -2.374,
    0.0, 0.0, 0.0, -2.8503, 0.0, 0.0, -1.5627, 0.0, -2.1873, 0.0, 0.0, 0.0,
    -0.8747, 0.0, 0.0, -1.5447, 3.6895, 0.0, 0.0, 0.0, 0.0, 0.0, -1.3854,
    1.193, -2.349, 4.6718, 0.0, 0.0, -2.564, 0.0, 0.0)

  def qualityModel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dt = Tables.parallelized(spark,
      Tables.documents(spark, dir).select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("k"))
    val hashed = dt.select(
      col("doc_id"),
      (expr("conv(substring(md5(tok), 1, 8), 16, 10)").cast("long") % 64).as("dim"),
      (expr("conv(substring(md5(tok), 9, 1), 16, 10)").cast("long") % 2 * 2 - 1).as("sign"),
      col("k"))
    val dims = hashed.groupBy(col("doc_id"), col("dim"))
      .agg(sum(col("sign") * col("k")).as("s"))
      .filter(col("s") =!= 0)
    val norms = dims.groupBy(col("doc_id"))
      .agg(sum(col("s") * col("s")).as("sq")) // exact integer
    val wtab = QualityLrW.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("dim", "w")
    val z = dims.join(norms, Seq("doc_id"))
      .join(broadcast(wtab), Seq("dim"))
      .groupBy(col("doc_id"))
      .agg(sum(col("s") / sqrt(col("sq").cast("double")) * col("w")).as("z"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(z, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (coalesce(col("z"), lit(0.0)) + lit(QualityLrBias)).as("zb"))
      .select(col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-col("zb"))) + lit(1e-9), 4).as("p_keep"),
        (col("zb") > 0).as("keep"))
  }

  def bpeTrainStep(spark: SparkSession, dir: String): DataFrame = {
    // The word-count frame is pinned as an optimizer barrier. The
    // `size(toks) >= 2` filter below is a function of the grouping key
    // alone, so without the pin predicate pushdown moves it (fold
    // inlined) below this aggregate, onto the exploded token stream:
    // the 40-rule fold then runs once per token occurrence instead of
    // once per distinct word (sf10 solo 25 s, against ~2 s for the
    // word-count pass alone).
    val dw = Tables.parallelized(spark,
      Tables.documents(spark, dir).select(col("doc_id"), col("text")), "doc_id")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("k"))
      .filter(length(col("w")) > 0)
      .pin()
    val vocab = dw.withColumn("toks",
      split(bpeTokenFold(col("w"), BpeMerges.take(BpeTrainAt)), BpeD))
      .filter(size(col("toks")) >= 2)
    val pairs = vocab.select(col("k"),
      explode(transform(sequence(lit(1), size(col("toks")) - 1), i =>
        concat(element_at(col("toks"), i), lit(" "), element_at(col("toks"), i + 1)))).as("pair"))
    pairs.groupBy(col("pair")).agg(sum(col("k")).as("freq"))
      .orderBy(col("freq").desc, col("pair"))
      .limit(10)
  }

  /** CCNet-style perplexity bucketing (Wenzek et al., LREC 2020): per
    * language, documents split into head / middle / tail at the p33 and
    * p67 of that language's LM-score distribution — the standard
    * quality triage of web-corpus pipelines (head = fluent text kept
    * outright, middle = kept or re-filtered, tail = usually dropped).
    * Score = [[unigramLogprob]]'s mean −ln p (the KenLM stand-in);
    * cutoffs come from the mergeable 1024-bin quantile sketch
    * ([[Sketches.binnedQuantiles]]), so at 100 TB the per-language
    * thresholds are one constant-space combinable pass — never a
    * per-language sort of a growing stratum — and bucketing is a
    * broadcast of the ≤|langs|-row threshold table back onto the
    * scored frame.
    */
  def textCcnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    val scored = unigramLogprob(spark, dir)
      .select(col("doc_id"), col("mean_neg_logprob").as("ppl_score"))
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("lang")), Seq("doc_id"))
    val cuts = Sketches.binnedQuantiles(
      scored.select(col("lang"), col("ppl_score").as("value")), "lang", "value", Seq(33, 67))
    scored
      .join(broadcast(cuts.select(col("lang"), col("p33_est"), col("p67_est"))), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("ppl_score"),
        when(col("ppl_score") <= col("p33_est"), lit("head"))
          .when(col("ppl_score") <= col("p67_est"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** Scale bands: `text_ccnet_buckets` terciles on the k-row per-lang
    * quantile frame and `text_unigram_logprob` scores against the
    * rank-1024 head vocabulary (Heaps-law-bounded) — sublinear. The
    * token-family corpus scans (text_tokens / sample_token_budget /
    * bpe_train_step / text_bigram_logprob) measured ~10x/decade in
    * rounds 8-9 and grade linear, the default.
    */
  override def bands: Map[String, String] = Seq(
    "text_ccnet_buckets", "text_unigram_logprob")
    .map(_ -> graft.Band.Sublin).toMap

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_ccnet_buckets" -> (textCcnetBuckets _),
    "bpe_train_step" -> (bpeTrainStep _),
    "text_quality_model" -> (qualityModel _),
    "pack_sequences" -> (packSequences _),
    "sample_importance" -> (sampleImportance _),
    "corpus_report" -> (corpusReport _),
    "curate_end2end" -> (curateEnd2End _),
    "text_gopher_rules" -> (gopherRules _),
    "profile_columns" -> (profileColumns _),
    "text_unigram_logprob" -> (unigramLogprob _),
    "text_bigram_logprob" -> (bigramLogprob _),
    "text_hash_embed" -> (hashEmbed _),
    "sample_token_budget" -> (sampleTokenBudget _),
    "text_cluster_topics" -> (clusterTopics _),
    "text_tfidf" -> (tfidfTop _),
    "pii_scrub" -> (piiScrub _),
    "decontaminate" -> (decontaminate _),
    "decontaminate_fuzzy" -> (decontaminateFuzzy _),
    "sample_deterministic" -> (sampleDeterministic _),
    "sample_stratified" -> (sampleStratified _),
    "sample_weighted" -> (sampleWeighted _),
    "sample_mixture" -> (sampleMixture _),
    "sample_temperature" -> (sampleTemperature _),
    "text_chunk" -> (chunk _),
    "text_normalize" -> (normalize _),
    "text_langid" -> (langId _),
    "text_quality" -> (quality _),
    "text_tokens" -> (tokenCounts _),
    "text_fingerprint" -> (fingerprint _))

  private def markerCountSql(ms: Seq[String]) =
    s"len(list_filter(string_split(text,' '), t -> t IN (${ms.map(m => s"'$m'").mkString(",")})))"

  private def qualityLrWSql: String =
    QualityLrW.zipWithIndex.map { case (w, i) => s"($i, $w)" }.mkString(", ")

  val oracles: Map[String, String] = Map(
    "text_quality_model" ->
      s"""WITH toks AS (
         | SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |dt AS (SELECT doc_id, tok, count(*) AS k FROM toks GROUP BY doc_id, tok),
         |hashed AS (
         | SELECT doc_id,
         |  ('0x' || substring(md5(tok), 1, 8))::BIGINT % 64 AS dim,
         |  ('0x' || substring(md5(tok), 9, 1))::BIGINT % 2 * 2 - 1 AS sign, k
         | FROM dt),
         |dims AS (
         | SELECT doc_id, dim, CAST(sum(sign * k) AS BIGINT) AS s
         | FROM hashed GROUP BY 1, 2 HAVING sum(sign * k) <> 0),
         |norms AS (SELECT doc_id, CAST(sum(s * s) AS BIGINT) AS sq FROM dims GROUP BY 1),
         |wt(dim, w) AS (VALUES $qualityLrWSql),
         |z AS (
         | SELECT doc_id, sum(s / sqrt(sq::DOUBLE) * w) AS z
         | FROM dims JOIN norms USING (doc_id) JOIN wt USING (dim) GROUP BY 1),
         |zb AS (
         | SELECT d.doc_id, coalesce(z.z, 0.0) + ${QualityLrBias} AS zb
         | FROM documents d LEFT JOIN z ON d.doc_id = z.doc_id)
         |SELECT doc_id, round(1.0 / (1.0 + exp(-zb)) + 1e-9, 4) AS p_keep, zb > 0 AS keep
         |FROM zb ORDER BY doc_id""".stripMargin,
    "bpe_train_step" ->
      s"""WITH dw AS (
         | SELECT w, count(*) AS k
         | FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         | WHERE length(w) > 0 GROUP BY 1),
         |v AS MATERIALIZED (
         | SELECT k, string_split(
         |  ${bpeFoldSqlOf(BpeMerges.take(BpeTrainAt))},
         |  chr(1)) AS toks
         | FROM dw),
         |p AS (
         | SELECT k, toks[i.i] || ' ' || toks[i.i + 1] AS pair
         | FROM v, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) i
         | WHERE len(toks) >= 2)
         |SELECT pair, CAST(sum(k) AS BIGINT) AS freq
         |FROM p GROUP BY 1 ORDER BY freq DESC, pair LIMIT 10""".stripMargin,
    "pack_sequences" ->
      s"""WITH d AS (
         | SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
         |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % $PackShards AS shard
         | FROM documents),
         |p AS (
         | SELECT shard, doc_id, toks,
         |  sum(toks) OVER (PARTITION BY shard ORDER BY doc_id) - toks AS strt
         | FROM d)
         |SELECT shard, CAST(strt // $PackSeqLen AS BIGINT) AS seq_id, count(*) AS n_docs,
         | CAST(sum(toks) AS BIGINT) AS tokens, min(doc_id) AS first_doc
         |FROM p GROUP BY 1, 2 ORDER BY shard, seq_id""".stripMargin,
    "sample_importance" ->
      s"""WITH db AS (
         | SELECT doc_id, lang,
         |  ('0x' || substring(md5(w), 1, 8))::BIGINT % $DsirB AS b, count(*) AS k
         | FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents)
         | GROUP BY 1, 2, 3),
         |raw AS (SELECT b, sum(k) AS r FROM db GROUP BY 1),
         |tgt AS (SELECT b, sum(k) AS t FROM db WHERE lang = 'en' GROUP BY 1),
         |tot AS (SELECT sum(k) AS rt, sum(CASE WHEN lang = 'en' THEN k ELSE 0 END) AS tt FROM db),
         |lr AS (
         | SELECT raw.b,
         |  ln((coalesce(t, 0) + 0.5) / (tt + ${0.5 * DsirB})) -
         |  ln((r + 0.5) / (rt + ${0.5 * DsirB})) AS lr
         | FROM raw LEFT JOIN tgt ON raw.b = tgt.b, tot)
         |SELECT doc_id, lang, round(sum(k * lr) / sum(k) + 1e-9, 4) AS importance
         |FROM db JOIN lr USING (b)
         |GROUP BY 1, 2
         |ORDER BY importance DESC, doc_id LIMIT 100""".stripMargin,
    "corpus_report" ->
      """WITH pl AS (
        | SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars
        | FROM documents GROUP BY 1),
        |tot AS (SELECT sum(n_tokens) AS tot_tokens FROM pl)
        |SELECT lang, n_docs, n_tokens, n_chars,
        | round(1e-9 + n_tokens * 100.0 / tot_tokens, 4) AS token_pct,
        | round(1e-9 + n_tokens::DOUBLE / n_docs, 2) AS mean_doc_tokens
        |FROM pl, tot ORDER BY lang""".stripMargin,
    // the funnel twin: identical per-gate definitions (quality shares
    // qualityScoreSql with text_quality / dedup_keep_best; the gopher
    // chain mirrors text_gopher_rules with docs absent from its >= 2
    // word base counted NOT kept; sample = sample_deterministic's
    // md5-bucket rule), cumulative conjunctions, UNION ALL unpivot
    "curate_end2end" -> {
      val markerMax = "greatest(" + Markers.map { case (_, ms) => markerCountSql(ms) }.mkString(", ") + ")"
      s"""WITH q AS ($qualityScoreSql),
         |lid AS (SELECT doc_id, $markerMax AS mh FROM documents),
         |gt AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |gb AS (SELECT doc_id, len(w) AS n_words, len(list_distinct(w)) AS ndw, w
         |       FROM gt WHERE len(w) >= 2),
         |gbg AS (SELECT doc_id, n_words, ndw, w[i.i] || ' ' || w[i.i + 1] AS g
         |        FROM gb, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) i),
         |gc AS (SELECT doc_id, n_words, ndw, g, count(*) AS k FROM gbg GROUP BY 1, 2, 3, 4),
         |gs AS (SELECT doc_id, n_words, ndw, sum(k) AS total, max(k) AS topk, count(*) AS nd
         |       FROM gc GROUP BY 1, 2, 3),
         |gk AS (SELECT doc_id,
         |        ((1 - nd::DOUBLE / total) <= 0.08 AND topk::DOUBLE / total <= 0.10
         |          AND (1 - ndw::DOUBLE / n_words) <= 0.55) AS keep
         |       FROM gs),
         |dk AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keeper FROM documents),
         |f AS (
         | SELECT d.doc_id,
         |  d.doc_id = d.keeper AS k_dedup,
         |  l.mh > 0 AS k_lang,
         |  q.quality >= 0.5 AS k_q,
         |  coalesce(g.keep, FALSE) AS k_g,
         |  ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 < 10 AS k_s
         | FROM dk d JOIN q USING (doc_id) JOIN lid l USING (doc_id) LEFT JOIN gk g USING (doc_id)),
         |cnt AS (
         | SELECT count(*) AS c0,
         |  sum(CASE WHEN k_dedup THEN 1 ELSE 0 END) AS c1,
         |  sum(CASE WHEN k_dedup AND k_lang THEN 1 ELSE 0 END) AS c2,
         |  sum(CASE WHEN k_dedup AND k_lang AND k_q THEN 1 ELSE 0 END) AS c3,
         |  sum(CASE WHEN k_dedup AND k_lang AND k_q AND k_g THEN 1 ELSE 0 END) AS c4,
         |  sum(CASE WHEN k_dedup AND k_lang AND k_q AND k_g AND k_s THEN 1 ELSE 0 END) AS c5
         | FROM f)
         |SELECT CAST(stage_idx AS INT) AS stage_idx, stage, CAST(docs AS BIGINT) AS docs FROM (
         | SELECT 0 AS stage_idx, 'raw' AS stage, c0 AS docs FROM cnt
         | UNION ALL SELECT 1, 'exact_dedup', c1 FROM cnt
         | UNION ALL SELECT 2, 'langid', c2 FROM cnt
         | UNION ALL SELECT 3, 'quality', c3 FROM cnt
         | UNION ALL SELECT 4, 'gopher', c4 FROM cnt
         | UNION ALL SELECT 5, 'sample10', c5 FROM cnt)
         |ORDER BY stage_idx""".stripMargin
    },
    "text_gopher_rules" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |b AS (SELECT doc_id, len(w) AS n_words, len(list_distinct(w)) AS ndw, w
        |      FROM t WHERE len(w) >= 2),
        |bg AS (SELECT doc_id, n_words, ndw, w[i.i] || ' ' || w[i.i + 1] AS g
        |       FROM b, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) i),
        |c AS (SELECT doc_id, n_words, ndw, g, count(*) AS k FROM bg GROUP BY 1, 2, 3, 4),
        |s AS (SELECT doc_id, n_words, ndw, sum(k) AS total, max(k) AS topk, count(*) AS nd
        |      FROM c GROUP BY 1, 2, 3)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        | round(1 - ndw::DOUBLE / n_words + 1e-9, 4) AS dup_word_frac,
        | round(1 - nd::DOUBLE / total + 1e-9, 4) AS dup_2gram_frac,
        | round(topk::DOUBLE / total + 1e-9, 4) AS top_2gram_frac,
        | ((1 - nd::DOUBLE / total) <= 0.08 AND topk::DOUBLE / total <= 0.10
        |   AND (1 - ndw::DOUBLE / n_words) <= 0.55) AS keep
        |FROM s ORDER BY doc_id""".stripMargin,
    "profile_columns" -> {
      val base = ProfiledCols.map(c =>
        s"""SELECT '$c' AS col_name, count($c) AS n,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |  round(1e-9 + min($c), 4) AS min, round(1e-9 + max($c), 4) AS max,
           |  round(1e-9 + avg($c), 4) AS mean, round(1e-9 + stddev_samp($c), 4) AS std
           | FROM lineitem""".stripMargin)
        .mkString(" UNION ALL\n")
      val unpivot = ProfiledCols.map(c =>
        s"SELECT '$c' AS col_name, $c AS value FROM lineitem WHERE $c IS NOT NULL")
        .mkString(" UNION ALL\n ")
      s"""WITH u AS (
         | $unpivot),
         |${graft.operators.Sketches.binnedQuantilesSql("col_name", Seq(50))},
         |base AS (
         |$base)
         |SELECT base.col_name, base.n, base.n_null, base.min, base.max, base.mean, base.std,
         | bq.p50_est AS p50
         |FROM base JOIN bq USING (col_name)
         |ORDER BY col_name""".stripMargin
    },
    // unigramLogprob's score CTEs + the shared 1024-bin sketch fragment
    // (binnedQuantilesSql over u(lang, value)) + the bucket CASE
    "text_ccnet_buckets" ->
      s"""WITH toks AS (
         | SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |dt AS (SELECT doc_id, tok, count(*) AS k FROM toks GROUP BY doc_id, tok),
         |freq AS (SELECT tok, CAST(sum(k) AS BIGINT) AS c FROM dt GROUP BY tok),
         |total AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM freq),
         |score AS (
         | SELECT doc_id, round(1e-9 + sum(k * -ln(c / n)) / sum(k), 4) AS ppl_score
         | FROM dt JOIN freq USING (tok), total GROUP BY doc_id),
         |u AS (
         | SELECT d.lang AS lang, s.ppl_score AS value
         | FROM score s JOIN documents d USING (doc_id)),
         |${Sketches.binnedQuantilesSql("lang", Seq(33, 67))}
         |SELECT s.doc_id, d.lang, s.ppl_score,
         | CASE WHEN s.ppl_score <= q.p33_est THEN 'head'
         |      WHEN s.ppl_score <= q.p67_est THEN 'middle'
         |      ELSE 'tail' END AS bucket
         |FROM score s JOIN documents d USING (doc_id) JOIN bq q ON q.lang = d.lang
         |ORDER BY s.doc_id""".stripMargin,
    "text_unigram_logprob" ->
      """WITH toks AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |dt AS (SELECT doc_id, tok, count(*) AS k FROM toks GROUP BY doc_id, tok),
        |freq AS (SELECT tok, CAST(sum(k) AS BIGINT) AS c FROM dt GROUP BY tok),
        |total AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM freq)
        |SELECT doc_id,
        | round(1e-9 + sum(k * -ln(c / n)) / sum(k), 4) AS mean_neg_logprob,
        | CAST(sum(k) AS BIGINT) AS n_tokens
        |FROM dt JOIN freq USING (tok), total
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_cluster_topics" ->
      """WITH toks AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |dt AS (SELECT doc_id, tok, count(*) AS k FROM toks GROUP BY doc_id, tok),
        |hashed AS (
        | SELECT doc_id,
        |  ('0x' || substring(md5(tok), 1, 8))::BIGINT % 64 AS dim,
        |  ('0x' || substring(md5(tok), 9, 1))::BIGINT % 2 * 2 - 1 AS sign,
        |  k
        | FROM dt),
        |sdims AS (
        | SELECT doc_id, dim, CAST(sum(sign * k) AS BIGINT) AS s
        | FROM hashed GROUP BY 1, 2 HAVING sum(sign * k) <> 0),
        |norms AS (SELECT doc_id, CAST(sum(s * s) AS BIGINT) AS sq FROM sdims GROUP BY 1),
        |wts AS (
        | SELECT doc_id, dim, round(s / sqrt(sq::DOUBLE) + 1e-9, 4) AS weight
        | FROM sdims JOIN norms USING (doc_id)),
        |dense AS (
        | SELECT n.doc_id AS vec_id,
        |  list(coalesce(w.weight, 0) ORDER BY g.d) AS emb
        | FROM norms n
        |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS d) g
        |  LEFT JOIN wts w ON w.doc_id = n.doc_id AND w.dim = g.d
        | GROUP BY 1),
        |seeds AS (
        | SELECT CAST(vec_id AS INT) AS cell, emb FROM dense ORDER BY vec_id LIMIT 8),
        |a0 AS (
        | SELECT e.vec_id, s.cell, e.emb,
        |  row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_distance(e.emb, s.emb), s.cell) AS rk
        | FROM dense e, seeds s),
        |asg0 AS (SELECT vec_id, cell, emb FROM a0 WHERE rk = 1),
        |cdims AS (
        | SELECT cell, i.i AS dim, avg(emb[i.i + 1]) AS m
        | FROM asg0, (SELECT unnest(generate_series(0, 63)) AS i) i
        | GROUP BY 1, 2),
        |cents AS (SELECT cell, list(m ORDER BY dim) AS centroid FROM cdims GROUP BY 1),
        |a1 AS (
        | SELECT e.vec_id, c.cell,
        |  row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_distance(e.emb, c.centroid), c.cell) AS rk
        | FROM dense e, cents c),
        |cells AS (SELECT vec_id, cell FROM a1 WHERE rk = 1),
        |ctf AS (
        | SELECT c.cell, d.tok, CAST(sum(d.k) AS BIGINT) AS tf
        | FROM dt d JOIN cells c ON c.vec_id = d.doc_id GROUP BY 1, 2),
        |cdf AS (SELECT tok, count(*) AS df FROM ctf GROUP BY 1),
        |sizes AS (SELECT cell, count(*) AS n_docs FROM cells GROUP BY 1),
        |scored AS (
        | SELECT ctf.cell, ctf.tok, ctf.tf, ctf.tf * ln(8.0 / cdf.df) AS score
        | FROM ctf JOIN cdf USING (tok)),
        |ranked AS (
        | SELECT *, CAST(row_number() OVER (PARTITION BY cell
        |    ORDER BY score DESC, tok) AS INT) AS rk
        | FROM scored)
        |SELECT r.cell AS cluster, s.n_docs, r.tok, r.tf,
        | round(r.score + 1e-9, 4) AS score, r.rk
        |FROM ranked r JOIN sizes s ON s.cell = r.cell
        |WHERE r.rk <= 3 ORDER BY cluster, rk""".stripMargin,
    "sample_token_budget" ->
      s"""WITH q AS ($qualityScoreSql),
         |$bpeVocabSql,
         |docs AS (
         | SELECT d.doc_id, d.lang, q.quality,
         |  coalesce(p.bpe_tokens, 0) AS n_tokens
         | FROM documents d JOIN q USING (doc_id)
         |  LEFT JOIN bperdoc p USING (doc_id)),
         |buckets AS (
         | SELECT lang, quality, sum(n_tokens) AS btoks FROM docs GROUP BY 1, 2),
         |c AS (
         | SELECT lang, quality,
         |  sum(btoks) OVER (PARTITION BY lang ORDER BY quality DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         | FROM buckets),
         |thresholds AS (
         | SELECT lang, min(quality) AS qmin FROM c WHERE cum <= 2000 GROUP BY lang)
         |SELECT d.doc_id, d.lang, d.quality, d.n_tokens
         |FROM docs d JOIN thresholds t ON t.lang = d.lang AND d.quality >= t.qmin
         |ORDER BY d.doc_id""".stripMargin,
    "text_bigram_logprob" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (
        | SELECT doc_id, w[i.i] AS a, w[i.i + 1] AS b
        | FROM t, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) i),
        |dtb AS (SELECT doc_id, a, b, count(*) AS k FROM bg GROUP BY 1, 2, 3),
        |bfreq AS (SELECT a, b, CAST(sum(k) AS BIGINT) AS c_ab FROM dtb GROUP BY 1, 2),
        |pref AS (SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a FROM bfreq GROUP BY 1)
        |SELECT doc_id,
        | round(1e-9 + sum(k * -ln(c_ab::DOUBLE / c_a)) / sum(k), 4) AS mean_neg_logprob,
        | CAST(sum(k) AS BIGINT) AS n_bigrams
        |FROM dtb JOIN bfreq USING (a, b) JOIN pref USING (a)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_hash_embed" ->
      """WITH toks AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |dt AS (SELECT doc_id, tok, count(*) AS k FROM toks GROUP BY doc_id, tok),
        |hashed AS (
        | SELECT doc_id,
        |  ('0x' || substring(md5(tok), 1, 8))::BIGINT % 64 AS dim,
        |  ('0x' || substring(md5(tok), 9, 1))::BIGINT % 2 * 2 - 1 AS sign,
        |  k
        | FROM dt),
        |dims AS (
        | SELECT doc_id, dim, CAST(sum(sign * k) AS BIGINT) AS s
        | FROM hashed GROUP BY 1, 2 HAVING sum(sign * k) <> 0),
        |norms AS (SELECT doc_id, CAST(sum(s * s) AS BIGINT) AS sq FROM dims GROUP BY 1)
        |SELECT doc_id, dim, round(s / sqrt(sq::DOUBLE) + 1e-9, 4) AS weight
        |FROM dims JOIN norms USING (doc_id)
        |ORDER BY doc_id, dim""".stripMargin,
    "text_tfidf" ->
      """WITH toks AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |dt AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
        |dfreq AS (SELECT tok, count(*) AS df FROM dt GROUP BY tok),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (
        | SELECT doc_id, tok, tf, df, tf * ln(n_docs / df) AS tfidf
        | FROM dt JOIN dfreq USING (tok), n),
        |r AS (
        | SELECT doc_id, tok, tf, df, tfidf,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS INT) AS rk
        | FROM s)
        |SELECT doc_id, tok, tf, df, round(1e-9 + tfidf, 4) AS tfidf, rk
        |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "pii_scrub" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._]+@[a-zA-Z0-9.]+\.[a-zA-Z]+')) AS BIGINT) AS n_emails,
        | CAST(len(regexp_extract_all(text, '[0-9]{7,}')) AS BIGINT) AS n_longdigits,
        | regexp_replace(regexp_replace(text, '[a-zA-Z0-9._]+@[a-zA-Z0-9.]+\.[a-zA-Z]+', '<EMAIL>', 'g'), '[0-9]{7,}', '<NUM>', 'g') AS scrubbed,
        | (len(regexp_extract_all(text, '[a-zA-Z0-9._]+@[a-zA-Z0-9.]+\.[a-zA-Z]+'))
        |  + len(regexp_extract_all(text, '[0-9]{7,}'))) > 0 AS was_redacted
        |FROM documents ORDER BY doc_id""".stripMargin,
    "decontaminate" ->
      """WITH grams AS (
        | SELECT doc_id, unnest(list_transform(generate_series(0, len(t)-5),
        |   i -> md5(t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] || ' ' || t[i+5]))) AS g
        | FROM (SELECT doc_id, string_split(text,' ') AS t FROM documents)
        | WHERE len(t) >= 5),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 10),
        |hits AS (
        | SELECT doc_id, count(*) AS n_contaminated_grams
        | FROM grams JOIN bench USING (g) WHERE doc_id >= 10 GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(h.n_contaminated_grams, 0) AS n_contaminated_grams,
        | coalesce(h.n_contaminated_grams, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        |WHERE d.doc_id >= 10 ORDER BY d.doc_id""".stripMargin,
    "decontaminate_fuzzy" ->
      """WITH shd AS (
        | SELECT DISTINCT doc_id, sh FROM (
        |  SELECT doc_id, unnest(list_transform(generate_series(0, len(t)-3),
        |    i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS sh
        |  FROM (SELECT doc_id, string_split(text,' ') AS t FROM documents)
        |  WHERE len(t) >= 3)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1),
        |inter AS (
        | SELECT t.doc_id AS doc_id, b.doc_id AS bench_doc, count(*) AS i
        | FROM shd t JOIN shd b USING (sh)
        | WHERE t.doc_id >= 10 AND b.doc_id < 10
        | GROUP BY 1, 2),
        |scored AS (
        | SELECT i.doc_id, i.bench_doc,
        |  i.i * 1.0 / (st.n + sb.n - i.i) AS jac,
        |  row_number() OVER (PARTITION BY i.doc_id
        |    ORDER BY i.i * 1.0 / (st.n + sb.n - i.i) DESC, i.bench_doc) AS rk
        | FROM inter i
        | JOIN sizes st ON st.doc_id = i.doc_id
        | JOIN sizes sb ON sb.doc_id = i.bench_doc)
        |SELECT d.doc_id, s.bench_doc,
        | round(1e-9 + coalesce(s.jac, 0.0), 4) AS jac,
        | coalesce(s.jac, 0.0) >= 0.5 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id >= 10) d
        |LEFT JOIN (SELECT * FROM scored WHERE rk = 1) s USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "sample_deterministic" ->
      """SELECT doc_id, lang,
        | ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 AS bucket
        |FROM documents
        |WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 < 10
        |ORDER BY doc_id""".stripMargin,
    "sample_stratified" ->
      """SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk FROM (
        | SELECT doc_id, lang,
        |  row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        | FROM documents)
        |WHERE rk <= 20 ORDER BY lang, rk""".stripMargin,
    "sample_weighted" ->
      """SELECT doc_id, lang, n_chars FROM (
        | SELECT doc_id, lang, n_chars,
        |  ln((('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1.0) / 4294967296.0)
        |   / n_chars AS k
        | FROM documents
        | ORDER BY k DESC, doc_id LIMIT 100)
        |ORDER BY doc_id""".stripMargin,
    "sample_mixture" -> {
      val quota = MixtureShares.map { case (l, q) => s"WHEN lang = '$l' THEN $q" }
        .mkString("CASE ", " ", " ELSE 0 END")
      s"""SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk FROM (
         | SELECT doc_id, lang,
         |  row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
         | FROM documents)
         |WHERE rk <= $quota ORDER BY lang, rk""".stripMargin
    },
    "sample_temperature" ->
      """WITH c AS (SELECT lang, count(*)::DOUBLE AS n FROM documents GROUP BY 1),
        |z AS (SELECT sum(pow(n, 0.5)) AS z FROM c),
        |q AS (SELECT lang, CAST(floor(100.0 * pow(n, 0.5) / z + 1e-9) AS INT) AS quota FROM c, z),
        |r AS (
        | SELECT doc_id, lang,
        |  row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        | FROM documents)
        |SELECT r.doc_id, r.lang, CAST(r.rk AS BIGINT) AS rk
        |FROM r JOIN q USING (lang) WHERE r.rk <= q.quota
        |ORDER BY lang, rk""".stripMargin,
    "text_chunk" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |chunks AS (
        | SELECT doc_id, t, unnest(generate_series(0,
        |   greatest(CAST(ceil((len(t) - 32) / 24.0) AS BIGINT), 0))) AS ci
        | FROM toks)
        |SELECT doc_id, ci AS chunk_id,
        | array_to_string(t[ci*24 + 1 : ci*24 + 32], ' ') AS chunk_text,
        | CAST(least(len(t) - ci*24, 32) AS BIGINT) AS chunk_tokens
        |FROM chunks ORDER BY doc_id, chunk_id""".stripMargin,
    "text_normalize" ->
      """SELECT doc_id,
        | trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text,
        | md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_hash
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_langid" -> {
      val scoreCols = Markers.map { case (lang, ms) => s"${markerCountSql(ms)} AS s_$lang" }.mkString(", ")
      val maxExpr = "greatest(" + Markers.map { case (l, _) => s"s_$l" }.mkString(", ") + ")"
      val caseExpr = Markers.map { case (l, _) => s"WHEN s_$l = mx AND mx > 0 THEN '$l'" }
        .mkString("CASE ", " ", " ELSE 'und' END")
      s"""WITH scored AS (
         | SELECT doc_id, lang AS declared_lang, $scoreCols FROM documents),
         |m AS (SELECT *, $maxExpr AS mx FROM scored)
         |SELECT doc_id, declared_lang, $caseExpr AS predicted_lang, CAST(mx AS BIGINT) AS marker_hits
         |FROM m ORDER BY doc_id""".stripMargin
    },
    "text_quality" ->
      s"""WITH base AS (
         | SELECT doc_id, text, string_split(text,' ') AS t,
         |  len(string_split(text,' ')) AS n_words,
         |  len(text) - len(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS punct
         | FROM documents),
         |r AS (
         | SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
         |  list_sum(list_transform(t, x -> len(x)))::DOUBLE / n_words AS mean_wlen,
         |  punct::DOUBLE / len(text) AS punct_ratio,
         |  len(list_filter(t, x -> x IN (${Stopwords.map(s => s"'$s'").mkString(",")})))::DOUBLE / n_words AS stop_ratio
         | FROM base)
         |SELECT doc_id, n_words, round(mean_wlen + 1e-9, 4) AS mean_wlen,
         | round(punct_ratio + 1e-9, 4) AS punct_ratio, round(stop_ratio + 1e-9, 4) AS stop_ratio,
         | round(least(n_words / 100.0, 1.0) * 0.4 + (1.0 - punct_ratio) * 0.3 + (1.0 - stop_ratio) * 0.3 + 1e-9, 4) AS quality
         |FROM r ORDER BY doc_id""".stripMargin,
    "text_tokens" ->
      s"""WITH $bpeVocabSql
        |SELECT d.doc_id,
        | CAST(len(string_split(d.text,' ')) AS BIGINT) AS ws_tokens,
        | coalesce(p.bpe_tokens, 0) AS bpe_tokens,
        | CAST(len(d.text) AS BIGINT) AS n_chars_text
        |FROM documents d LEFT JOIN bperdoc p USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "text_fingerprint" ->
      """WITH grams AS (
        | SELECT doc_id, substring(text, p.p, 5) AS gram
        | FROM documents, LATERAL (SELECT unnest(generate_series(1, len(text)-4, 3)) AS p) p
        | WHERE len(text) >= 5)
        |SELECT doc_id, min(md5(gram)) AS fingerprint, count(DISTINCT gram) AS n_distinct_grams
        |FROM grams GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
