package graft.operators

import graft.{QueryPack, Tables}
import graft.functions.ODataFilter
import graft.sources.TextIndex
import graft.sources.IndexCache.Pin
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The Azure-Search query surface the reference relies on, re-expressed
  * as Spark operators over the "data index" (the mapped documents).
  *
  * - OData filters (compiled by [[graft.functions.ODataFilter]]) stay
  *   declarative Columns ⇒ Catalyst pushes them into the scan.
  * - Keyset pagination (PathIndexClient.cs:88 `key gt '{prev}'` +
  *   order by key + page size) is the scale-safe pagination — no
  *   OFFSET scans, resumable from any key.
  * - Facets = groupBy counts; on a cluster each facet field is one
  *   partial-aggregated shuffle of (field, value) pairs.
  * - Full-text queries (ismatch / scoring / fuzzy / suggest) PROBE the
  *   per-snapshot materialized inverted index
  *   ([[graft.sources.TextIndex]]: posting lists + dictionary + corpus
  *   stats, built once, cached) — the reference's own architecture: an
  *   `IsSearchable` field is a prebuilt Lucene index
  *   (IndexModels/TextIndexModel.cs:9-13); queries never re-tokenize
  *   the lake. The DuckDB oracles keep the scan-based formulation,
  *   proving the index probe computes the identical result.
  */
object Search extends QueryPack {

  /** The searchable "data index": documents + their searchable text. */
  private def index(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)

  def searchFilter(spark: SparkSession, dir: String): DataFrame = {
    val predicate = ODataFilter.compile(
      "(lang eq 'en' and n_chars ge 200) or (source eq 'src3' and not (lang eq 'zh'))")
    index(spark, dir).filter(predicate)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  def searchOrderByPage(spark: SparkSession, dir: String): DataFrame = {
    // keyset page: key gt boundary, ordered, page-limited (page size 100)
    index(spark, dir)
      .select(col("doc_id"), PathIndexOps.docKey.as("key"))
      .filter(ODataFilter.compile("key gt 'c3JjMiV'"))
      .orderBy(col("key"))
      .limit(100)
  }

  /** The OData string-function surface (startswith/endswith/contains +
    * search.in) — the filter functions Azure Search supports on
    * filterable fields, compiled to scan-level predicates.
    */
  def searchFilterFunctions(spark: SparkSession, dir: String): DataFrame = {
    val predicate = ODataFilter.compile(
      "startswith(source, 'src1') or (contains(lang, 'e') and not endswith(source, '3')) " +
        "or search.in(lang, 'zh, fr')")
    index(spark, dir).filter(predicate)
      .select(col("doc_id"), col("lang"), col("source"))
  }

  def searchFacets(spark: SparkSession, dir: String): DataFrame = {
    val d = index(spark, dir)
    def facet(field: String): DataFrame =
      d.groupBy(col(field).cast("string").as("facet_value"))
        .agg(count(lit(1)).as("n"))
        .select(lit(field).as("facet_field"), col("facet_value"), col("n"))
    facet("lang").unionByName(facet("source"))
      .orderBy(col("facet_field"), col("facet_value"))
  }

  /** `search.ismatch('sp*')` as an index probe: the prefix selects its
    * postings from the whitespace index (a dictionary range, not a
    * corpus scan), and only the matched doc_ids' metadata rows are
    * read back from the documents table for the structured predicate +
    * projection. The ODataFilter scan-predicate form remains for
    * ad-hoc fields; searchable-field matches go through the index.
    */
  def searchIsMatch(spark: SparkSession, dir: String): DataFrame = {
    val matched = TextIndex.postingsWs(spark, dir)
      .filter(col("tok").startsWith("sp"))
      .select(col("doc_id")).distinct()
    index(spark, dir)
      .join(matched, Seq("doc_id"), "left_semi")
      .filter(col("n_chars") >= 100)
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  /** Term-frequency relevance: tf of the term, ranked desc (doc_id
    * tiebreak), top 50 — one posting-list lookup: the term's postings
    * already carry (doc_id, tf), so the query reads |postings('spark')|
    * rows and never touches the corpus text.
    */
  def searchScore(spark: SparkSession, dir: String): DataFrame =
    TextIndex.postingsWs(spark, dir)
      .filter(col("tok") === "spark")
      .select(col("doc_id"), col("tf"))
      .orderBy(col("tf").desc, col("doc_id"))
      .limit(50)

  /** Analyzed multi-term AND match (Azure Search `search.ismatch('spark
    * data join', 'text', 'simple', 'all')` semantics): query and field
    * share the standard analyzer; a doc matches when every query term
    * appears in its token set. Index form: intersect the terms' posting
    * lists (postings are distinct per (doc, tok), so a doc matches all
    * 3 terms ⟺ it has 3 posting rows among them) — cost is the matched
    * postings, not the corpus.
    */
  def searchIsMatchTerms(spark: SparkSession, dir: String): DataFrame = {
    val terms = "spark data join".toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
    val matched = TextIndex.postingsStd(spark, dir)
      .filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("nt"))
      .filter(col("nt") === terms.length)
      .select(col("doc_id"))
    index(spark, dir)
      .join(matched, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  private val Bm25K1 = 1.2
  private val Bm25B = 0.75

  /** BM25 relevance over the analyzed text field (k1=1.2, b=0.75,
    * Lucene-style idf = ln(1 + (N - df + 0.5)/(df + 0.5))) for the
    * query "spark data", top 50 — a TRUE index probe, the way Lucene
    * executes it (the reference offloads exactly this to Azure Search's
    * BM25 ranking; IndexModels/TextIndexModel.cs:9-13 `IsSearchable`):
    *
    *  - per-term tf comes from the terms' POSTING LISTS (only docs
    *    containing ≥1 query term are ever materialized — a doc with no
    *    query term scores 0 and is excluded by the > 0 filter anyway);
    *  - df per term comes from the cached dictionary, N/avgdl from the
    *    cached one-row corpus stats — a 1-row broadcast;
    *  - dl joins in from the cached doc-length table.
    *
    * Probe cost is O(Σ|postings(term)|) regardless of corpus size; the
    * corpus text is tokenized once per snapshot at index build, never
    * per query.
    */
  def searchScoreBm25(spark: SparkSession, dir: String): DataFrame = {
    val terms = Seq("spark", "data")
    val p = TextIndex.postingsStd(spark, dir).filter(col("tok").isin(terms: _*))
    val lens = TextIndex.docLensStd(spark, dir)
    // dictionary probe: df per query term
    val dfs = termSums(terms, "df", col("df"))
    val df = TextIndex.vocabStd(spark, dir).filter(col("tok").isin(terms: _*))
      .agg(dfs.head, dfs.tail: _*)
    bm25Top50(bm25(terms, p, lens, TextIndex.statsStd(spark, dir), df))
  }

  /** `<name>_<t>` per term t: `v` summed over the rows whose `tok` is
    * t, as a double, 0.0 where there are none. */
  private def termSums(terms: Seq[String], name: String, v: Column): Seq[Column] =
    terms.map(t => coalesce(sum(when(col("tok") === t, v)), lit(0L)).cast("double").as(s"${name}_$t"))

  /** The one-row df frame of probed postings `p`: postings hold one row
    * per (tok, doc), so df_t is t's row count. */
  private def postingsDf(terms: Seq[String], p: DataFrame): DataFrame = {
    val dfs = termSums(terms, "df", lit(1L))
    p.agg(dfs.head, dfs.tail: _*)
  }

  /** Unrounded BM25 of `terms` per document, (doc_id, s), over the
    * terms' postings `p` (tok, doc_id, tf; one row per (tok, doc)), the
    * doc lengths `lens` (doc_id, dl), the one-row corpus stats
    * (n_docs, avgdl) and a one-row frame of each term's df (`df_<t>`).
    * Docs without a posting among `p` are omitted: their score is 0.
    * The df row and the stats are a one-row broadcast onto the postings.
    */
  private def bm25(terms: Seq[String], p: DataFrame, lens: DataFrame, corpus: DataFrame,
      df: DataFrame): DataFrame = {
    val tfAggs = termSums(terms, "tf", col("tf"))
    val perDoc = p.groupBy(col("doc_id")).agg(tfAggs.head, tfAggs.tail: _*)
      .join(lens, Seq("doc_id"))
    val lenNorm = lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))
    val perTerm = terms.map { t =>
      val idf = log(lit(1.0) + (col("n_docs") - col(s"df_$t") + 0.5) / (col(s"df_$t") + 0.5))
      idf * col(s"tf_$t") * lit(Bm25K1 + 1.0) / (col(s"tf_$t") + lenNorm)
    }
    perDoc.crossJoin(broadcast(df.crossJoin(corpus)))
      .select(col("doc_id"), perTerm.reduce(_ + _).as("s"))
  }

  /** The top 50 positive BM25 scores, rounded to 4 places. */
  private def bm25Top50(scored: DataFrame): DataFrame =
    scored.select(col("doc_id"), round(lit(1e-9) + col("s"), 4).as("bm25"))
      .filter(col("bm25") > 0)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(50)

  /** HYBRID retrieval — the RAG-era query every search stack now runs:
    * the lexical BM25 leg ([[searchScoreBm25]], top-50) and the vector
    * leg ([[graft.operators.Similarity.annIvf]]'s cached-IVF probe,
    * top-10; vec_id ↔ doc_id is the corpus's 1:1 mapping) fused by
    * reciprocal-rank fusion, rrf = Σ 1/(60 + rank) (Cormack et al.
    * 2009's k=60). Both legs are per-snapshot index probes — the
    * lexical leg reads the query terms' posting lists from the cached
    * [[graft.sources.TextIndex]], the vector leg probes the cached IVF
    * lists — and the fusion itself joins two ≤50-row frames, so the
    * single-task rank numbering and the full-outer join are constant-size
    * driver-scale work regardless of corpus size; at 100 TB the cost
    * of hybrid search is exactly the two index probes.
    */
  def searchHybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val RrfK = 60.0
    // both rank frames are ≤50-row index-probe results (each leg ends
    // in an explicit limit), so single-task ranking is the CORRECT
    // plan — computed by [[graft.functions.Ranks.boundedRowNumber]]
    // with zero Window nodes, so PlanAuditSpec's invariant stays
    // absolute: any partitionless Window in an optimized plan is a
    // corpus-sized single-task accident
    val lex = graft.functions.Ranks.boundedRowNumber(
        searchScoreBm25(spark, dir),
        Seq(col("bm25").desc, col("doc_id")), "bm25_rank")
      .select(col("doc_id"), col("bm25_rank"))
    val vec = graft.functions.Ranks.boundedRowNumber(
        graft.operators.Similarity.annIvf(spark, dir),
        Seq(col("cos").desc, col("vec_id")), "vec_rank")
      .select(col("vec_id").as("doc_id"), col("vec_rank"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("bm25_rank"), col("vec_rank"),
        round(lit(1e-9) +
          coalesce(lit(1.0) / (lit(RrfK) + col("bm25_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("vec_rank")), lit(0.0)), 6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
  }

  /** Pages one [[pagedByKey]] fetch holds. A page's job costs about the
    * same whatever its row count at index scale: on a 50k-key store
    * (4-core host) a page's collect took 55–140 ms, nearly all of it the
    * job's fixed cost and code generation, not the scan. Ten pages to a
    * fetch bounds the driver memory one fetch holds and the rows wasted
    * when a consumer stops early to ten pages' worth.
    */
  val FetchPages = 10

  /** Client-side keyset pagination, the loop of the reference's
    * ListPathsAsync (PathIndexClient.cs:66-96): ordered pages of
    * `pageSize` rows, each after the last key of the one before. The
    * rows come in fetches of up to [[FetchPages]] pages: a fetch is one
    * top-k job, `key gt last` (none on the first) → `orderBy(key)` →
    * `limit`, and the pages are sliced from its key-ordered rows. The
    * next fetch runs only once a full fetch is used up; a short fetch
    * ends the listing with no empty probe. The pages, their order and
    * their contents are exactly those of one job per page over the same
    * frame. Keys must be unique. `key gt last` prunes no file of a
    * hash-distributed snapshot, so every fetch rescans what `df`
    * selects.
    */
  def pagedByKey(df: DataFrame, keyCol: String, pageSize: Int): Iterator[Seq[Row]] = {
    require(pageSize > 0 && pageSize <= Int.MaxValue / FetchPages, s"page size $pageSize")
    val fetchRows = pageSize * FetchPages
    def fetch(after: Option[String]): Seq[Row] =
      after.fold(df)(k => df.filter(col(keyCol) > k)).orderBy(col(keyCol)).limit(fetchRows).collect().toSeq
    // the state: Some(the next fetch's lower bound), or None once a fetch came up short
    Iterator.unfold(Option(Option.empty[String])) { next =>
      next.map(fetch).filter(_.nonEmpty).map { rows =>
        rows -> Option.when(rows.size == fetchRows)(Some(rows.last.getAs[String](keyCol)))
      }
    }.flatMap(_.grouped(pageSize))
  }

  /** The reference Program.cs's actual indexer-run listing
    * (SearchIndexerTest/Program.cs:92-96): paths modified since a
    * cutoff AND `search.ismatch('<prefix>*')` under the keyword
    * analyzer, ordered by key — here against the upserted path state.
    */
  def searchIsMatchPath(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Analyzers
    // Probe the maintained path index (PathIndexOps.pathStates, staged
    // once per snapshot): the wildcard prefix is key-stable (the key
    // embeds the encoded path) and the modified-since cutoff applies to
    // the latest version, so both filter the per-key state frame
    // directly — exactly the reference's filtered index query
    // (Program.cs:92-96 runs against the MAINTAINED Azure index, it
    // never replays event history).
    val cutoffNs = java.time.Instant.parse("2024-01-10T00:00:00Z").getEpochSecond * 1000000000L
    PathIndexOps.pathStates(spark, dir)
      .filter(Analyzers.isMatchKeyword(col("pathUrlEncoded"), "data%2fpart_1*"))
      .filter(col("cur.ts_ns") >= cutoffNs)
      .select(col("key"), col("pathUrlEncoded"),
        date_format(col("cur.ts"), PathIndexOps.TsFmt).as("fileLastModified"))
  }

  /** Azure-Search suggester / autocomplete (the Suggest + Autocomplete
    * APIs): top-5 completions of a typed prefix among the corpus's
    * analyzed tokens, ranked by document frequency with an
    * alphabetical tiebreak (deterministic across engines; total
    * occurrences is reported but not ranked on). Serves from the
    * materialized DICTIONARY ([[graft.sources.TextIndex.vocabWs]]):
    * the probe is a prefix filter + top-5 over the vocab table — no
    * document is touched, which is how a deployed suggester answers in
    * milliseconds at any corpus size.
    */
  def searchSuggest(spark: SparkSession, dir: String): DataFrame =
    TextIndex.vocabWs(spark, dir)
      .filter(col("tok").startsWith("s"))
      .select(col("tok").as("suggestion"), col("df").as("n_docs"),
        col("occurrences").as("n_occurrences"))
      .orderBy(col("n_docs").desc, col("suggestion"))
      .limit(5)

  /** Hit highlighting (the search API's highlight= parameter): for
    * docs matching the term, an `<em>`-tagged snippet of ±5 tokens
    * around the FIRST hit plus the total hit count. Pure per-row
    * array ops — no shuffle at all; the scan prunes to (doc_id, text).
    */
  def searchHighlight(spark: SparkSession, dir: String): DataFrame = {
    // per-doc snippet tokenization is a corpus scan: spread the
    // single-split local file across cores (no-op at lake scale)
    val toks = split(col("text"), " ")
    val pos = array_position(toks, "spark")
    val start = greatest(lit(1L), pos - 5).cast("int")
    val snippet = slice(toks, start, (pos + lit(5) - start + 1).cast("int"))
    val tagged = transform(snippet,
      t => when(t === "spark", lit("<em>spark</em>")).otherwise(t))
    Tables.parallelized(spark, index(spark, dir), "doc_id")
      .withColumn("pos", pos)
      .filter(col("pos") > 0)
      .select(col("doc_id"),
        size(filter(toks, t => t === "spark")).cast("long").as("n_hits"),
        array_join(tagged, " ").as("snippet"))
  }

  /** Fuzzy term match (the `~` / fuzzy query of the search API):
    * docs containing a token within Levenshtein distance 1 of the
    * (misspelled) query term. Lucene's fuzzy execution shape: the
    * edit-distance kernel (codegen'd `levenshtein`) runs against the
    * DICTIONARY — |vocab| evaluations, not one per token occurrence —
    * and the few surviving terms expand to their posting lists via a
    * broadcast join. At 100 TB the distance work is bounded by
    * vocabulary size (Heaps'-law sublinear), not corpus size.
    */
  def searchFuzzy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val q = "sprk"
    // round 9: the dictionary probe serves from the PERSISTED
    // length-partitioned vocab layout — one edit changes a term's
    // length by at most one (the Lucene fuzzy-automaton bound), so
    // `tok_len IN (L−1, L, L+1)` prunes every other length directory
    // at planning time and the levenshtein kernel runs over three
    // length bands of the dictionary, not all of it
    val lens = Seq(q.length - 1, q.length, q.length + 1)
    val matched = TextIndex.vocabWsPersisted(spark, dir)
      .filter(col("tok_len").isin(lens: _*))
      .filter(levenshtein(col("tok"), lit(q)) <= 1)
      .select(col("tok"), levenshtein(col("tok"), lit(q)).as("dist"))
      .collect().map(r => (r.getString(0), r.getInt(1)))
    // the few surviving terms are query-plan literals (the ANN family's
    // driver-side probe selection): their prefixes prune the persisted
    // posting layout and the matched-term table broadcasts
    val matchedDf = matched.toSeq.toDF("tok", "dist")
    val prefixes = matched.map(t => TextIndex.prefixOf(t._1)).distinct.toSeq
    TextIndex.postingsWsPersisted(spark, dir)
      .filter(col("tok_prefix").isin(prefixes: _*))
      .join(broadcast(matchedDf), Seq("tok"))
      .select(col("doc_id"), col("tok").as("matched_tok"), col("dist"))
  }

  /** The five fixed misspelled mentions of the spell-correction probe
    * (each a corruption of a corpus vocabulary word).
    */
  private[graft] val FuzzyJwMentions: Seq[String] =
    Seq("qery", "windw", "custmer", "strem", "vektor")

  /** Spell correction / entity normalization by Jaro–Winkler: rank the
    * dictionary against a set of misspelled mentions and keep the top-3
    * suggestions with similarity ≥ 0.9 — the record-linkage scorer
    * (Winkler 1990) run the way a linkage system runs it: against the
    * REFERENCE DICTIONARY, never the corpus. Cost is
    * |mentions|·|pruned vocab| evaluations of the codegen'd
    * `graft.expressions.JaroWinkler` kernel; the vocabulary is
    * Heaps'-law sublinear in corpus size, so the probe is flat per
    * decade once the dictionary saturates.
    *
    * Pruning: jw ≥ τ bounds the length ratio. With boost ≤ 0.4·(1−jaro),
    * jw ≥ τ ⇒ jaro ≥ (τ−0.4)/0.6, and jaro ≤ (2 + s/L)/3 for
    * s = min(l1,l2), L = max — so s/L ≥ 5τ−4 (= 1/2 at τ = 0.9). The
    * union of the mentions' [⌈|q|/2⌉, 2|q|] bands is a driver-side
    * literal `tok_len IN (…)` on the length-partitioned vocab layout:
    * every other length directory is pruned at planning time, like
    * searchFuzzy's edit-distance band but derived from the JW bound.
    */
  def searchFuzzyJw(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tau = 0.9
    val lens = FuzzyJwMentions
      .flatMap(q => (q.length + 1) / 2 to 2 * q.length).distinct.sorted
    val mentions = broadcast(FuzzyJwMentions.toDF("q"))
    val jw = graft.functions.Strings.jaroWinkler(col("tok"), col("q"))
    val scored = TextIndex.vocabWsPersisted(spark, dir)
      .filter(col("tok_len").isin(lens: _*))
      .crossJoin(mentions)
      // per-pair ratio bound (the exact form of the prune above) keeps
      // the kernel off hopeless pairs the union band let through
      .filter(least(col("tok_len"), length(col("q"))) * 2 >=
        greatest(col("tok_len"), length(col("q"))))
      .filter(jw >= tau)
      .select(col("q"), col("tok").as("suggestion"), jw.as("jw"))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q")).orderBy(col("jw").desc, col("suggestion"))))
      .filter(col("rk") <= 3)
      .select(col("q"), col("suggestion"), round(lit(1e-9) + col("jw"), 4).as("sim"))
      .orderBy(col("q"), col("sim").desc, col("suggestion"))
  }

  /** Incremental inverted-index maintenance (the merge-or-upload
    * discipline applied to postings — the reference's indexer merges
    * document batches into the prebuilt search index, it never
    * rebuilds it; BatchingUploader.cs merge-or-upload): the base
    * snapshot's posting list (docs with doc_id % 10 != 0, built once,
    * cached) absorbs the new batch (doc_id % 10 == 0) by tokenizing
    * the BATCH ALONE and anti-join-replacing its doc_ids. The emitted
    * dictionary stats ('sp'-prefix terms of the merged index) are
    * oracle-checked against a fresh FULL-corpus build — proving
    * batch-merge == rebuild. The O(batch) saving is the TOKENIZATION
    * (the expensive kernel runs only over the batch); the replace
    * anti-join and the emitted stats still stream corpus-proportional
    * posting rows, so the key grades in the linear band (re-filed from
    * probe in r15 — sf1 cert 0.58s → quiet solo sf10 3.30s; only the
    * sf10 point is a quiet solo artifact, see `bands`).
    */
  def searchIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = index(spark, dir)
    val basePostings = graft.sources.IndexCache.getOrBuild(spark, "text_postings_std_base", dir) {
      TextIndex.postingsStdOf(
        Tables.parallelized(spark, docs.filter(col("doc_id") % 10 =!= 0), "doc_id"))
        .pin()
    }
    val merged = TextIndex.mergePostings(basePostings, docs.filter(col("doc_id") % 10 === 0))
    merged.filter(col("tok").startsWith("s"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("occurrences"))
      .orderBy(col("tok"))
  }

  /** Exact-phrase query ("table scan") over the POSITIONAL posting
    * list ([[graft.sources.TextIndex.postingsPosStd]]) — Lucene's
    * phrase execution shape: fetch each term's positional postings,
    * then adjacency is a (doc_id, position) equi-join (second term at
    * pos+1), never a text re-scan. Probe cost is O(|postings(t1)| +
    * |postings(t2)|) and the join keys are high-cardinality (doc_id,
    * pos) — distributed, skew-free, corpus-size-independent.
    */
  def searchPhrase(spark: SparkSession, dir: String): DataFrame = {
    val (t1, t2) = ("table", "scan")
    // round 9: probe the PERSISTED positional layout — each term's
    // `tok_prefix` prunes to its prefix directory at planning time and
    // the `tok` equality pushes to row groups, so the adjacency join
    // reads only the two terms' positional lists off disk (the in-memory
    // positional frame drifted 3.0×/13× per decade as postings grew)
    val p = TextIndex.postingsPosStdPersisted(spark, dir)
    def termList(t: String) =
      p.filter(col("tok_prefix") === TextIndex.prefixOf(t) && col("tok") === t)
    val first = termList(t1).select(col("doc_id"), col("pos"))
    val second = termList(t2)
      .select(col("doc_id"), (col("pos") - 1).as("pos"))
    first.join(second, Seq("doc_id", "pos"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
      .orderBy(col("doc_id"))
  }

  /** Proximity (slop) phrase query — Lucene's `"t1 t2"~slop` over the
    * SAME persisted positional layout as [[searchPhrase]]: each term's
    * `tok_prefix` directory prunes at planning time, `tok` pushes to
    * row groups, and the proximity test is the positional-list merge
    * with a RANGE residual (pos₂ − pos₁ ∈ [1, slop+1] — ordered
    * proximity) instead of exact adjacency. Probe cost stays the two
    * terms' on-disk lists at any corpus size; n_hits counts the
    * qualifying position pairs per doc.
    */
  def searchPhraseSlop(spark: SparkSession, dir: String): DataFrame = {
    val (t1, t2, slop) = ("key", "row", 2)
    val p = TextIndex.postingsPosStdPersisted(spark, dir)
    def termList(t: String, pc: String) =
      p.filter(col("tok_prefix") === TextIndex.prefixOf(t) && col("tok") === t)
        .select(col("doc_id"), col("pos").as(pc))
    termList(t1, "p1").join(termList(t2, "p2"), Seq("doc_id"))
      .filter(col("p2") - col("p1") >= 1 && col("p2") - col("p1") <= slop + 1)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
      .orderBy(col("doc_id"))
  }

  /** BM25 over the DISK-PERSISTED prefix-partitioned posting list
    * ([[graft.sources.TextIndex.postingsStdPersisted]]) — the lake
    * form of [[searchScoreBm25]]'s in-memory probe, and the proof the
    * index layout prunes: the probe filters on the terms' `tok_prefix`
    * partition value, so planning-time partition pruning skips every
    * other prefix directory and the `tok` predicate pushes to row
    * groups (SearchSpec asserts via input_file_name() that only the
    * probed prefixes' files are read). df comes from the SAME probe
    * (count of each term's postings — the dictionary entry is
    * derivable from the matched rows alone); N/avgdl/dl from the
    * cached 1-row stats and doc-length tables. Scores are identical to
    * the in-memory probe, so the oracle is shared.
    */
  def searchBm25Persisted(spark: SparkSession, dir: String): DataFrame = {
    val terms = Seq("spark", "data")
    val prefixes = terms.map(TextIndex.prefixOf).distinct
    val p = TextIndex.postingsStdPersisted(spark, dir)
      .filter(col("tok_prefix").isin(prefixes: _*) && col("tok").isin(terms: _*))
    bm25Top50(bm25(terms, p, TextIndex.docLensStd(spark, dir), TextIndex.statsStd(spark, dir),
      postingsDf(terms, p)))
  }

  private val MfTitleLen = 10
  private val MfWTitle = 3.0
  private val MfWBody = 1.0

  /** One derived field of the corpus: `title` = the first
    * [[MfTitleLen]] whitespace tokens, `body` = the rest — the
    * two-field document shape (title + content) of the reference's
    * index models (IndexModels/TextIndexModel.cs declares multiple
    * searchable fields, each with its own analyzer and weight).
    */
  private def mfField(spark: SparkSession, dir: String, field: String): DataFrame = {
    val w = split(col("text"), " ")
    val txt =
      if (field == "title") array_join(slice(w, 1, MfTitleLen), " ")
      else array_join(slice(w, MfTitleLen + 1, Int.MaxValue), " ")
    Tables.documents(spark, dir).select(col("doc_id"), txt.as("text"))
  }

  /** Per-field index triple (postings, docLens, stats), built once per
    * snapshot — a multi-field Lucene index is per-field posting lists
    * with per-field length norms, and so is this.
    */
  private def mfIndex(spark: SparkSession, dir: String,
      field: String): (DataFrame, DataFrame, DataFrame) =
    graft.sources.IndexCache.getOrBuild(spark, s"mf_index_$field", dir) {
      val docs = Tables.parallelized(spark, mfField(spark, dir, field), "doc_id")
      val p = TextIndex.postingsStdOf(docs).pin()
      val lens = docs.select(col("doc_id"),
        size(graft.functions.Analyzers.standardTokens(col("text"))).cast("double").as("dl"))
        .pin()
      val st = lens.agg(count(lit(1)).cast("double").as("n_docs"), avg(col("dl")).as("avgdl"))
        .pin()
      (p, lens, st)
    }

  /** Unrounded per-field BM25 for `terms` (df derived from the probed
    * postings themselves — one row per (tok, doc)): (doc_id, s), docs
    * with no matched posting in the field omitted (their field score
    * is exactly 0).
    */
  private def mfFieldScore(spark: SparkSession, dir: String, field: String,
      terms: Seq[String]): DataFrame = {
    val (p0, lens, stats) = mfIndex(spark, dir, field)
    val p = p0.filter(col("tok").isin(terms: _*))
    bm25(terms, p, lens, stats, postingsDf(terms, p))
  }

  /** Multi-field weighted relevance — the Azure Search SCORING PROFILE
    * (`weights: {title: 3, body: 1}`; the reference's index models
    * declare several searchable fields and the service ranks across
    * them): score = 3·BM25_title + 1·BM25_body for "spark data", each
    * field scored against ITS OWN posting lists, length norms, and
    * corpus stats (per-field dl/avgdl/df — the Lucene multi-field
    * execution, not a concatenated-text rescore). Probe cost is the
    * two fields' matched postings; the fusion is a full-outer join of
    * two matched-doc frames (a doc may hit in either field alone).
    */
  def searchMultiField(spark: SparkSession, dir: String): DataFrame = {
    val terms = Seq("spark", "data")
    val t = mfFieldScore(spark, dir, "title", terms).withColumnRenamed("s", "s_title")
    val b = mfFieldScore(spark, dir, "body", terms).withColumnRenamed("s", "s_body")
    t.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), round(lit(1e-9) +
        lit(MfWTitle) * coalesce(col("s_title"), lit(0.0)) +
        lit(MfWBody) * coalesce(col("s_body"), lit(0.0)), 4).as("score"))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(50)
  }

  /** moreLikeThis (the Lucene/Azure Search MLT query): find documents
    * similar to a SOURCE DOCUMENT by extracting its most
    * characteristic terms and querying with them. Both halves are
    * index probes: the source doc's "interesting terms" are its top-3
    * by tf·ln(N/df) — tf from ITS OWN posting rows, df from the cached
    * dictionary (a |doc-vocab|-row join, driver-scale) — and retrieval
    * expands those 3 terms through their posting lists (broadcast of a
    * 3-row frame), ranking matches by shared-term count, then total
    * tf, then doc_id. The corpus text is never touched; cost is
    * O(Σ|postings(top-terms)|) at any corpus size.
    */
  def searchMoreLikeThis(spark: SparkSession, dir: String): DataFrame = {
    val SrcDoc = 1L
    val p = TextIndex.postingsWs(spark, dir)
    val nDocs = TextIndex.docLensStd(spark, dir).agg(count(lit(1)).cast("double").as("n_docs"))
    val terms = p.filter(col("doc_id") === SrcDoc)
      .join(TextIndex.vocabWs(spark, dir).select(col("tok"), col("df")), Seq("tok"))
      .crossJoin(broadcast(nDocs))
      .select(col("tok"), (col("tf") * log(col("n_docs") / col("df"))).as("tfidf"))
      .orderBy(col("tfidf").desc, col("tok"))
      .limit(3)
      .select(col("tok"))
    p.join(broadcast(terms), Seq("tok"))
      .filter(col("doc_id") =!= SrcDoc)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("sum_tf"))
      .orderBy(col("n_terms").desc, col("sum_tf").desc, col("doc_id"))
      .limit(20)
  }

  /** Full Boolean query execution over posting lists — Lucene's
    * BooleanQuery, the query form behind Azure Search's
    * `search=a OR b -c` syntax: `(spark OR stream) AND filter AND NOT
    * slow`. Every clause is an index probe and the combination is set
    * algebra on doc_id keys:
    *
    *  - SHOULD (OR): union of the clause terms' posting lists, one
    *    aggregate collecting which terms hit and their total tf;
    *  - MUST (AND): left-semi join on the required term's postings;
    *  - MUST_NOT: left-anti join on the excluded term's postings.
    *
    * Cost is O(Σ|postings(clause terms)|) — the corpus text is never
    * touched, and all joins key on high-cardinality doc_id (no skew).
    */
  def searchBoolean(spark: SparkSession, dir: String): DataFrame = {
    val orTerms = Seq("spark", "stream")
    // round 9: every clause probes the PERSISTED prefix-partitioned
    // layout — each term's prefix directory is pruned at planning time
    // and the tok predicate pushes to row groups, so the set algebra
    // runs over only the clause terms' on-disk lists (the in-memory
    // probe's second decade drifted 3.0× as the postings frame grew)
    val p = TextIndex.postingsStdPersisted(spark, dir)
    val orPrefixes = orTerms.map(TextIndex.prefixOf).distinct
    val should = p
      .filter(col("tok_prefix").isin(orPrefixes: _*) && col("tok").isin(orTerms: _*))
      .groupBy(col("doc_id"))
      .agg(array_join(array_sort(collect_set(col("tok"))), ",").as("hit_terms"),
        sum(col("tf")).as("or_tf"))
    def termDocs(t: String) =
      p.filter(col("tok_prefix") === TextIndex.prefixOf(t) && col("tok") === t)
        .select(col("doc_id"))
    should
      .join(termDocs("filter"), Seq("doc_id"), "left_semi")
      .join(termDocs("slow"), Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  /** Scale bands ([[graft.QueryPack.bands]]): the lexical search surface
    * probes the per-snapshot TextIndex posting/dictionary frames with
    * k-row serving outputs — declared flat. NOT `search_highlight`:
    * highlight tokenizes every doc's text for snippets — a corpus scan
    * by design, graded linear (the default). `search_ismatch_path`
    * joined the probe band in r16: it now filters the maintained
    * per-key path-state frame ([[graft.operators.PathIndexOps.pathStates]],
    * staged once per snapshot) instead of reconstructing upsert state
    * over a change-log slice per query. `search_incremental` RE-FILED
    * probe→linear in r15 (audit trail, the dedup_minhash_est
    * precedent): the merge avoids re-TOKENIZING the corpus (only the
    * batch is tokenized — that is the O(batch) claim), but the
    * replace anti-join streams the corpus-sized base posting frame and
    * the emitted 's'-prefix stats scan merged posting rows — both
    * corpus-proportional steady-state passes. Its r14 probe grade
    * survived on a 1.91s sf10 point; the r15 evidence reads sf1 cert
    * 0.58s → quiet solo sf10 3.30s (only the sf10 point is a quiet
    * solo artifact; the sf1 point is from the sharded cert run) —
    * linear family, never flat.
    */
  override def bands: Map[String, String] = Seq(
    "search_filter", "search_filter_functions", "search_orderby_page",
    "search_facets", "search_ismatch", "search_score",
    "search_ismatch_terms", "search_score_bm25", "search_hybrid_rrf",
    "search_suggest", "search_fuzzy", "search_fuzzy_jw", "search_phrase",
    "search_phrase_slop", "search_boolean", "search_more_like_this",
    "search_multifield", "search_multiquery", "search_bm25_persisted",
    // r16: probes the maintained path index (PathIndexOps.pathStates)
    "search_ismatch_path")
    .map(_ -> graft.Band.Probe).toMap

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "search_boolean" -> (searchBoolean _),
    "search_more_like_this" -> (searchMoreLikeThis _),
    "search_multifield" -> (searchMultiField _),
    "search_phrase" -> (searchPhrase _),
    "search_phrase_slop" -> (searchPhraseSlop _),
    "search_bm25_persisted" -> (searchBm25Persisted _),
    "search_incremental" -> (searchIncremental _),
    "search_fuzzy" -> (searchFuzzy _),
    "search_fuzzy_jw" -> (searchFuzzyJw _),
    "search_suggest" -> (searchSuggest _),
    "search_highlight" -> (searchHighlight _),
    "search_ismatch_path" -> (searchIsMatchPath _),
    "search_filter" -> (searchFilter _),
    "search_filter_functions" -> (searchFilterFunctions _),
    "search_orderby_page" -> (searchOrderByPage _),
    "search_facets" -> (searchFacets _),
    "search_ismatch" -> (searchIsMatch _),
    "search_ismatch_terms" -> (searchIsMatchTerms _),
    "search_score" -> (searchScore _),
    "search_score_bm25" -> (searchScoreBm25 _),
    "search_multiquery" -> (searchMultiquery _),
    "search_hybrid_rrf" -> (searchHybridRrf _))

  /** The 8 fixed query term-sets of the batched retrieval (vocabulary
    * words of the synthetic corpus, so every query matches).
    */
  private[graft] val MultiQueries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("spark", "data"),
    2 -> Seq("stream", "join"),
    3 -> Seq("fast", "query"),
    4 -> Seq("window", "table"),
    5 -> Seq("hash", "group"),
    6 -> Seq("sort", "merge"),
    7 -> Seq("batch", "row"),
    8 -> Seq("key", "value"))

  /** BATCHED lexical retrieval — the BM25 twin of ann_multiquery (the
    * offline RAG-linking join on the lexical leg): [[MultiQueries]]'s
    * 8 queries each rank their top-5 docs in ONE plan. The (qid, term)
    * pair table joins the cached dictionary for per-term df/idf (a
    * ≤16-row broadcast after the probe), then routes each query to
    * only ITS terms' posting lists — candidate cost is
    * O(Σ|postings(all queries' terms)|) regardless of corpus size and
    * regardless of batch size overlap (shared terms' postings are read
    * once per appearance in the broadcast, never per corpus scan) —
    * and the per-query top-5 is a qid-partitioned window over the
    * cell-bounded candidates, exactly ann_multiquery's shape.
    * Scoring is [[searchScoreBm25]]'s formula per posting row (a
    * missing term's contribution is identically 0, so summing present
    * rows equals the dense two-column form).
    */
  def searchMultiquery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val qterms = MultiQueries.flatMap { case (q, ts) => ts.map(t => (q, t)) }.toDF("qid", "tok")
    val dfq = qterms
      .join(TextIndex.vocabStd(spark, dir).select(col("tok"), col("df")), Seq("tok"), "left")
      .na.fill(0L, Seq("df"))
      .crossJoin(TextIndex.statsStd(spark, dir))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .select(col("qid"), col("tok"), col("idf"), col("avgdl"))
    val cands = TextIndex.postingsStd(spark, dir)
      .join(broadcast(dfq), Seq("tok"))
      .join(TextIndex.docLensStd(spark, dir), Seq("doc_id"))
    val tf = col("tf").cast("double")
    val lenNorm = lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))
    val scored = cands
      .withColumn("c", col("idf") * tf * lit(Bm25K1 + 1.0) / (tf + lenNorm))
      .groupBy(col("qid"), col("doc_id"))
      .agg(round(lit(1e-9) + sum(col("c")), 4).as("bm25"))
    val w = Window.partitionBy(col("qid")).orderBy(col("bm25").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("doc_id"), col("bm25"))
      .orderBy(col("qid"), col("rank"))
  }

  /** One field's BM25 sub-expression over the `a`/`stats` CTE columns
    * of the multifield oracle (f = "t" or "b").
    */
  private def mfFieldSql(f: String): String =
    s"""(ln(1.0 + (n_docs - df${f}_spark + 0.5) / (df${f}_spark + 0.5)) * tf${f}_spark * ${Bm25K1 + 1.0} /
       |   (tf${f}_spark + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dl_$f / avgdl_$f)) +
       |  ln(1.0 + (n_docs - df${f}_data + 0.5) / (df${f}_data + 0.5)) * tf${f}_data * ${Bm25K1 + 1.0} /
       |   (tf${f}_data + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dl_$f / avgdl_$f)))""".stripMargin

  private lazy val mfScoreSql: String =
    s"round(1e-9 + $MfWTitle * ${mfFieldSql("t")} + $MfWBody * ${mfFieldSql("b")}, 4)"

  private lazy val multiqueryValuesSql: String =
    MultiQueries.flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }.mkString(", ")

  val oracles: Map[String, String] = Map(
    "search_multiquery" ->
      s"""WITH q(qid, tok) AS (SELECT * FROM (VALUES $multiqueryValuesSql)),
         |a AS (
         | SELECT doc_id,
         |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
         | FROM documents),
         |dl AS (SELECT doc_id, len(toks)::DOUBLE AS dl FROM a),
         |stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
         |t AS (SELECT doc_id, unnest(toks) AS tok FROM a),
         |tf AS (SELECT doc_id, tok, count(*)::DOUBLE AS tf FROM t GROUP BY 1, 2),
         |dft AS (SELECT tok, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
         |scored AS (
         | SELECT q.qid, f.doc_id,
         |  round(1e-9 + sum(
         |   ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) * f.tf * ${Bm25K1 + 1.0} /
         |    (f.tf + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * l.dl / s.avgdl))), 4) AS bm25
         | FROM q JOIN tf f USING (tok) JOIN dft d USING (tok)
         |  JOIN dl l ON l.doc_id = f.doc_id, stats s
         | GROUP BY 1, 2),
         |r AS (
         | SELECT qid, doc_id, bm25,
         |  row_number() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rnk
         | FROM scored)
         |SELECT qid, rnk AS rank, doc_id, bm25
         |FROM r WHERE rnk <= 5 ORDER BY qid, rank""".stripMargin,
    "search_boolean" ->
      """WITH a AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
        | FROM documents),
        |m AS (
        | SELECT doc_id,
        |  array_to_string(list_sort(list_distinct(
        |    list_filter(toks, t -> t IN ('spark', 'stream')))), ',') AS hit_terms,
        |  CAST(len(list_filter(toks, t -> t IN ('spark', 'stream'))) AS BIGINT) AS or_tf,
        |  list_contains(toks, 'filter') AS has_must,
        |  list_contains(toks, 'slow') AS has_not
        | FROM a)
        |SELECT doc_id, hit_terms, or_tf FROM m
        |WHERE or_tf > 0 AND has_must AND NOT has_not
        |ORDER BY doc_id""".stripMargin,
    "search_more_like_this" ->
      """WITH dt AS (
        | SELECT doc_id, tok, count(*) AS tf FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        | GROUP BY 1, 2),
        |dfreq AS (SELECT tok, count(*) AS df FROM dt GROUP BY 1),
        |n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
        |terms AS (
        | SELECT tok FROM (
        |  SELECT d.tok, d.tf * ln(n.n_docs / f.df) AS tfidf
        |  FROM dt d JOIN dfreq f USING (tok), n
        |  WHERE d.doc_id = 1)
        | ORDER BY tfidf DESC, tok LIMIT 3)
        |SELECT doc_id, count(*) AS n_terms, CAST(sum(tf) AS BIGINT) AS sum_tf
        |FROM dt JOIN terms USING (tok)
        |WHERE doc_id <> 1
        |GROUP BY doc_id
        |ORDER BY n_terms DESC, sum_tf DESC, doc_id LIMIT 20""".stripMargin,
    "search_multifield" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |f AS (
         | SELECT doc_id,
         |  list_filter(string_split_regex(lower(array_to_string(ws[1:$MfTitleLen], ' ')), '[^a-z0-9]+'), t -> t <> '') AS tt,
         |  list_filter(string_split_regex(lower(coalesce(array_to_string(ws[${MfTitleLen + 1}:len(ws)], ' '), '')), '[^a-z0-9]+'), t -> t <> '') AS bt
         | FROM w),
         |a AS (
         | SELECT doc_id,
         |  len(tt)::DOUBLE AS dl_t, len(bt)::DOUBLE AS dl_b,
         |  len(list_filter(tt, t -> t = 'spark'))::DOUBLE AS tft_spark,
         |  len(list_filter(tt, t -> t = 'data'))::DOUBLE AS tft_data,
         |  len(list_filter(bt, t -> t = 'spark'))::DOUBLE AS tfb_spark,
         |  len(list_filter(bt, t -> t = 'data'))::DOUBLE AS tfb_data
         | FROM f),
         |stats AS (
         | SELECT count(*)::DOUBLE AS n_docs, avg(dl_t) AS avgdl_t, avg(dl_b) AS avgdl_b,
         |  sum(CASE WHEN tft_spark > 0 THEN 1.0 ELSE 0.0 END) AS dft_spark,
         |  sum(CASE WHEN tft_data > 0 THEN 1.0 ELSE 0.0 END) AS dft_data,
         |  sum(CASE WHEN tfb_spark > 0 THEN 1.0 ELSE 0.0 END) AS dfb_spark,
         |  sum(CASE WHEN tfb_data > 0 THEN 1.0 ELSE 0.0 END) AS dfb_data
         | FROM a)
         |SELECT doc_id, $mfScoreSql AS score
         |FROM a, stats
         |WHERE $mfScoreSql > 0
         |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin,
    "search_phrase" ->
      """WITH d AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS w
        | FROM documents),
        |p AS (
        | SELECT doc_id,
        |  len(list_filter(range(len(w) - 1), i -> w[i + 1] = 'table' AND w[i + 2] = 'scan')) AS n_hits
        | FROM d)
        |SELECT doc_id, CAST(n_hits AS BIGINT) AS n_hits
        |FROM p WHERE n_hits > 0 ORDER BY doc_id""".stripMargin,
    "search_phrase_slop" ->
      """WITH d AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS w
        | FROM documents),
        |pos1 AS (
        | SELECT doc_id, unnest(list_filter(range(len(w)), i -> w[i + 1] = 'key')) AS p
        | FROM d),
        |pos2 AS (
        | SELECT doc_id, unnest(list_filter(range(len(w)), i -> w[i + 1] = 'row')) AS p
        | FROM d)
        |SELECT p1.doc_id, count(*) AS n_hits
        |FROM pos1 p1 JOIN pos2 p2
        | ON p2.doc_id = p1.doc_id AND p2.p - p1.p BETWEEN 1 AND 3
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "search_bm25_persisted" -> bm25OracleSql,
    "search_incremental" ->
      """WITH toks AS (
        | SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS tok
        | FROM documents),
        |p AS (SELECT tok, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2)
        |SELECT tok, count(*) AS df, CAST(sum(tf) AS BIGINT) AS occurrences
        |FROM p WHERE starts_with(tok, 's')
        |GROUP BY tok ORDER BY tok""".stripMargin,
    "search_fuzzy" ->
      """WITH dt AS (
        | SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |SELECT doc_id, tok AS matched_tok, CAST(levenshtein(tok, 'sprk') AS INT) AS dist
        |FROM dt WHERE levenshtein(tok, 'sprk') <= 1
        |ORDER BY doc_id, matched_tok""".stripMargin,
    "search_fuzzy_jw" ->
      """WITH dt AS (
        | SELECT DISTINCT unnest(string_split(text, ' ')) AS tok FROM documents),
        |q(q) AS (VALUES ('qery'), ('windw'), ('custmer'), ('strem'), ('vektor')),
        |scored AS (
        | SELECT q.q, dt.tok AS suggestion,
        |  jaro_winkler_similarity(dt.tok, q.q) AS jw,
        |  row_number() OVER (PARTITION BY q.q
        |    ORDER BY jaro_winkler_similarity(dt.tok, q.q) DESC, dt.tok) AS rk
        | FROM dt CROSS JOIN q
        | WHERE jaro_winkler_similarity(dt.tok, q.q) >= 0.9)
        |SELECT q, suggestion, round(1e-9 + jw, 4) AS sim
        |FROM scored WHERE rk <= 3
        |ORDER BY q, sim DESC, suggestion""".stripMargin,
    "search_suggest" ->
      """WITH toks AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |dt AS (
        | SELECT doc_id, tok, count(*) AS k FROM toks
        | WHERE starts_with(tok, 's') GROUP BY 1, 2)
        |SELECT tok AS suggestion, count(*) AS n_docs, CAST(sum(k) AS BIGINT) AS n_occurrences
        |FROM dt GROUP BY 1
        |ORDER BY n_docs DESC, suggestion LIMIT 5""".stripMargin,
    "search_highlight" ->
      """WITH t AS (
        | SELECT doc_id, string_split(text, ' ') AS w,
        |  list_position(string_split(text, ' '), 'spark') AS pos
        | FROM documents),
        |hit AS (SELECT * FROM t WHERE pos IS NOT NULL AND pos > 0),
        |snip AS (
        | SELECT doc_id,
        |  CAST(len(list_filter(w, x -> x = 'spark')) AS BIGINT) AS n_hits,
        |  list_transform(w[greatest(1, pos - 5) : pos + 5],
        |    x -> CASE WHEN x = 'spark' THEN '<em>spark</em>' ELSE x END) AS tagged
        | FROM hit)
        |SELECT doc_id, n_hits, array_to_string(tagged, ' ') AS snippet
        |FROM snip ORDER BY doc_id""".stripMargin,
    "search_ismatch_path" ->
      s"""SELECT key, pathUrlEncoded, strftime(ts, '%Y-%m-%d %H:%M:%S') AS fileLastModified
         |FROM (${PathIndexOps.stateSql(PathIndexOps.logSql)})
         |WHERE strftime(ts, '%Y-%m-%d %H:%M:%S') >= '2024-01-10 00:00:00'
         | AND starts_with(lower(pathUrlEncoded), 'data%2fpart_1')
         |ORDER BY key""".stripMargin,
    "search_filter" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE (lang = 'en' AND n_chars >= 200) OR (source = 'src3' AND NOT (lang = 'zh'))
        |ORDER BY doc_id""".stripMargin,
    "search_orderby_page" ->
      """SELECT doc_id,
        | to_base64(encode(source || '%2f' || replace('docs/' || lang || '/' || doc_id || '.json', '/', '%2f'))) AS key
        |FROM documents
        |WHERE to_base64(encode(source || '%2f' || replace('docs/' || lang || '/' || doc_id || '.json', '/', '%2f'))) > 'c3JjMiV'
        |ORDER BY key LIMIT 100""".stripMargin,
    "search_filter_functions" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE starts_with(source, 'src1')
        | OR (contains(lang, 'e') AND NOT ends_with(source, '3'))
        | OR lang IN ('zh', 'fr')
        |ORDER BY doc_id""".stripMargin,
    "search_facets" ->
      """SELECT facet_field, facet_value, n FROM (
        | SELECT 'lang' AS facet_field, lang AS facet_value, count(*) AS n FROM documents GROUP BY lang
        | UNION ALL
        | SELECT 'source' AS facet_field, source AS facet_value, count(*) AS n FROM documents GROUP BY source)
        |ORDER BY facet_field, facet_value""".stripMargin,
    "search_ismatch" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE len(list_filter(string_split(text, ' '), t -> t LIKE 'sp%')) > 0 AND n_chars >= 100
        |ORDER BY doc_id""".stripMargin,
    "search_score" ->
      """SELECT doc_id, CAST(len(list_filter(string_split(text, ' '), t -> t = 'spark')) AS BIGINT) AS tf
        |FROM documents
        |WHERE len(list_filter(string_split(text, ' '), t -> t = 'spark')) > 0
        |ORDER BY tf DESC, doc_id LIMIT 50""".stripMargin,
    "search_ismatch_terms" ->
      """WITH a AS (
        | SELECT doc_id, lang, n_chars,
        |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
        | FROM documents)
        |SELECT doc_id, lang, n_chars FROM a
        |WHERE list_contains(toks, 'spark') AND list_contains(toks, 'data') AND list_contains(toks, 'join')
        |ORDER BY doc_id""".stripMargin,
    "search_score_bm25" -> bm25OracleSql,
    "search_hybrid_rrf" ->
      s"""WITH lex AS (
         | SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS bm25_rank
         | FROM ($bm25OracleSql)),
         |vec AS (
         | SELECT vec_id AS doc_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS vec_rank
         | FROM (${graft.operators.Similarity.oracles("ann_ivf")}))
         |SELECT doc_id, bm25_rank, vec_rank,
         | round(1e-9 + coalesce(1.0/(60 + bm25_rank), 0) + coalesce(1.0/(60 + vec_rank), 0), 6) AS rrf
         |FROM lex FULL OUTER JOIN vec USING (doc_id)
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin)

  private lazy val bm25OracleSql: String =
      s"""WITH a AS (
         | SELECT doc_id,
         |  len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> ''))::DOUBLE AS dl,
         |  len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t = 'spark'))::DOUBLE AS tf_spark,
         |  len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t = 'data'))::DOUBLE AS tf_data
         | FROM documents),
         |stats AS (
         | SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl,
         |  sum(CASE WHEN tf_spark > 0 THEN 1.0 ELSE 0.0 END) AS df_spark,
         |  sum(CASE WHEN tf_data > 0 THEN 1.0 ELSE 0.0 END) AS df_data
         | FROM a)
         |SELECT doc_id, round(1e-9 +
         |  ln(1.0 + (n_docs - df_spark + 0.5) / (df_spark + 0.5)) * tf_spark * ${Bm25K1 + 1.0} /
         |   (tf_spark + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dl / avgdl)) +
         |  ln(1.0 + (n_docs - df_data + 0.5) / (df_data + 0.5)) * tf_data * ${Bm25K1 + 1.0} /
         |   (tf_data + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dl / avgdl)), 4) AS bm25
         |FROM a, stats
         |WHERE round(1e-9 +
         |  ln(1.0 + (n_docs - df_spark + 0.5) / (df_spark + 0.5)) * tf_spark * ${Bm25K1 + 1.0} /
         |   (tf_spark + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dl / avgdl)) +
         |  ln(1.0 + (n_docs - df_data + 0.5) / (df_data + 0.5)) * tf_data * ${Bm25K1 + 1.0} /
         |   (tf_data + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dl / avgdl)), 4) > 0
         |ORDER BY bm25 DESC, doc_id LIMIT 50""".stripMargin
}
