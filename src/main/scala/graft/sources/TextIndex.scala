package graft.sources

import graft.Tables
import graft.functions.Analyzers
import graft.sources.IndexCache.Pin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The materialized lexical search index — posting lists + corpus
  * statistics, built ONCE per corpus snapshot and probed by every
  * lexical query (BM25, ismatch, fuzzy, suggest, tf ranking).
  *
  * This is the reference's core architecture: an Azure Search
  * `IsSearchable` field (IndexModels/TextIndexModel.cs:9-13) is backed
  * by a PREBUILT Lucene inverted index — queries hit the index, never
  * the lake. Re-scanning and re-tokenizing the corpus per query is
  * linear in corpus size; probing the posting
  * lists is linear in the MATCHED postings. At 100 TB the index builds
  * in one tokenize pass per analyzer and every query after that reads
  * kilobytes-to-megabytes of postings.
  *
  * Two analyzer forms exist, mirroring Azure Search's per-field
  * analyzer choice (Program.cs:61-62 attaches a custom analyzer per
  * field):
  *  - `Ws`  — raw whitespace tokens (`split(text, ' ')`, empties kept):
  *    the token form of search_score / search_suggest / search_fuzzy /
  *    `search.ismatch` wildcard matching;
  *  - `Std` — the standard analyzer ([[Analyzers.standardTokens]]:
  *    lowercase, split on non-alphanumerics): the token form of BM25
  *    and multi-term ismatch.
  *
  * Index tables per snapshot (all deterministic, pinned via
  * [[IndexCache]]):
  *  - postings: (tok, doc_id, tf) — one row per distinct (doc, token);
  *  - vocab:    (tok, df, occurrences) — the dictionary;
  *  - docLens (Std only): (doc_id, dl) for EVERY doc (token-less docs
  *    carry dl = 0 — derived from documents, not from postings, so
  *    empty docs aren't silently dropped from corpus stats);
  *  - stats (Std only): one row (n_docs, avgdl) for BM25 length norm.
  *
  * Incremental maintenance ([[mergePostings]]): a new/changed document
  * batch is tokenized ALONE; its doc_ids' old postings are dropped and
  * the fresh ones appended — never a corpus re-tokenize (the
  * merge-or-upload discipline of the reference's BatchingUploader, and
  * the dedup_incremental pattern). SearchSpec proves batch-merge ==
  * fresh full build.
  */
object TextIndex {

  /** Whitespace postings of an arbitrary documents frame. Empty tokens
    * (from runs of spaces) are kept: per-term lookups never ask for
    * them, and keeping them makes tf/df exactly the counts the
    * split-based scan queries computed.
    */
  def postingsWsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))

  /** Standard-analyzer postings of an arbitrary documents frame. */
  def postingsStdOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(Analyzers.standardTokens(col("text"))).as("tok"))
      .groupBy(col("tok"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))

  /** POSITIONAL standard-analyzer postings (tok, doc_id, pos) — the
    * index form phrase queries need (Lucene stores positions next to
    * each posting for exactly this): adjacency is a (doc_id, pos)
    * equi-join between the phrase terms' lists, never a text re-scan.
    */
  def postingsPosStdOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        posexplode(Analyzers.standardTokens(col("text"))).as(Seq("pos", "tok")))
      .select(col("tok"), col("doc_id"), col("pos").cast("long").as("pos"))

  private def vocabOf(postings: DataFrame): DataFrame =
    postings.groupBy(col("tok"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("occurrences"))

  /** The snapshot's whitespace posting list (tok, doc_id, tf). */
  def postingsWs(spark: SparkSession, dir: String): DataFrame =
    IndexCache.getOrBuild(spark, "text_postings_ws", dir) {
      postingsWsOf(parallelDocs(spark, dir)).pin()
    }

  /** The snapshot's whitespace dictionary (tok, df, occurrences). */
  def vocabWs(spark: SparkSession, dir: String): DataFrame = {
    val p = postingsWs(spark, dir)
    IndexCache.getOrBuild(spark, "text_vocab_ws", dir) {
      vocabOf(p).pin()
    }
  }

  /** The snapshot's standard-analyzer posting list (tok, doc_id, tf). */
  def postingsStd(spark: SparkSession, dir: String): DataFrame =
    IndexCache.getOrBuild(spark, "text_postings_std", dir) {
      postingsStdOf(parallelDocs(spark, dir)).pin()
    }

  /** The snapshot's positional posting list (tok, doc_id, pos). */
  def postingsPosStd(spark: SparkSession, dir: String): DataFrame =
    IndexCache.getOrBuild(spark, "text_postings_pos_std", dir) {
      postingsPosStdOf(parallelDocs(spark, dir)).pin()
    }

  /** The snapshot's postings PERSISTED to parquet, partitioned by the
    * term's first character (`tok_prefix` directories — the sorted term
    * dictionary of a Lucene segment, as a lake layout). This is the
    * durable form of the index at 100 TB: the in-memory checkpoint
    * frames above live for one application; a cluster serving queries
    * reads the written files, and a term probe that filters on
    * `tok_prefix` PRUNES every other prefix directory at planning time
    * (PartitionFilters) while the `tok` predicate pushes to parquet row
    * groups — the probe reads the matched terms' file bytes, not the
    * index. Written once per snapshot; the returned frame reads the
    * files (no checkpoint — probing the files IS the point).
    * SearchSpec asserts via input_file_name() that a probe touches
    * only its terms' prefix directories.
    */
  def postingsStdPersisted(spark: SparkSession, dir: String): DataFrame = {
    val built = postingsStd(spark, dir)
    IndexCache.getOrBuild(spark, "text_postings_std_disk", dir) {
      byPrefix(spark, built, dir, "postings_std", Seq("tok"))
    }
  }

  /** The prefix-directory key a probe for `term` must select —
    * driver-computable by construction (the partition column is the
    * term's own first character, not an engine-internal hash).
    */
  def prefixOf(term: String): String =
    if (term.isEmpty) "_" else term.substring(0, 1)

  /** A prefix-partitioned posting layout: `tok_prefix` directories
    * ([[prefixOf]] as a column), rows sorted by (prefix, `sortBy`…). */
  private def byPrefix(spark: SparkSession, built: DataFrame, dir: String, name: String,
      sortBy: Seq[String]): DataFrame =
    IndexCache.layout(spark, "graft_textindex", dir, name,
      built.withColumn("tok_prefix", coalesce(nullif(substring(col("tok"), 1, 1), lit("")), lit("_"))),
      Seq("tok_prefix"), "tok_prefix" +: sortBy)

  /** The POSITIONAL postings as a persisted prefix-partitioned lake
    * layout — extends the [[postingsStdPersisted]] disk
    * architecture to the (tok, doc_id, pos) form phrase queries probe:
    * a phrase term's probe prunes to its `tok_prefix` directory at
    * planning time and pushes the `tok` equality to row groups, so the
    * adjacency join reads only the two terms' positional lists off
    * disk — the durable Lucene-segment shape of [[postingsPosStd]].
    */
  def postingsPosStdPersisted(spark: SparkSession, dir: String): DataFrame = {
    val built = postingsPosStd(spark, dir)
    IndexCache.getOrBuild(spark, "text_postings_pos_std_disk", dir) {
      byPrefix(spark, built, dir, "postings_pos_std", Seq("tok", "doc_id", "pos"))
    }
  }

  /** The WHITESPACE postings persisted by prefix — the disk
    * twin of [[postingsWs]], probed by the fuzzy family's posting
    * expansion after the dictionary probe has fixed the matched terms.
    */
  def postingsWsPersisted(spark: SparkSession, dir: String): DataFrame = {
    val built = postingsWs(spark, dir)
    IndexCache.getOrBuild(spark, "text_postings_ws_disk", dir) {
      byPrefix(spark, built, dir, "postings_ws", Seq("tok", "doc_id"))
    }
  }

  /** The whitespace DICTIONARY persisted as a LENGTH-partitioned lake
    * layout: `tok_len` directories make the fuzzy query's
    * length-band prefilter (|len(tok) − len(q)| ≤ maxEdits — the
    * Lucene fuzzy-automaton bound: one edit changes the length by at
    * most one) a PLANNING-TIME partition prune, so a distance-1 probe
    * runs the levenshtein kernel over three length bands of the
    * vocabulary instead of all of it, reading only those directories'
    * files off disk.
    */
  def vocabWsPersisted(spark: SparkSession, dir: String): DataFrame = {
    val built = vocabWs(spark, dir)
    IndexCache.getOrBuild(spark, "text_vocab_ws_disk", dir) {
      IndexCache.layout(spark, "graft_textindex", dir, "vocab_ws",
        built.withColumn("tok_len", length(col("tok")).cast("int")),
        Seq("tok_len"), Seq("tok_len", "tok"))
    }
  }

  /** The snapshot's standard-analyzer dictionary (tok, df, occurrences). */
  def vocabStd(spark: SparkSession, dir: String): DataFrame = {
    val p = postingsStd(spark, dir)
    IndexCache.getOrBuild(spark, "text_vocab_std", dir) {
      vocabOf(p).pin()
    }
  }

  /** Per-document analyzed length (doc_id, dl) for EVERY document —
    * built from the documents table (one projection pass), not from
    * postings, so zero-token docs keep dl = 0 and corpus stats match
    * the scan-based formulation exactly.
    */
  def docLensStd(spark: SparkSession, dir: String): DataFrame =
    IndexCache.getOrBuild(spark, "text_doclens_std", dir) {
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          size(Analyzers.standardTokens(col("text"))).cast("double").as("dl"))
        .pin()
    }

  /** One-row corpus stats (n_docs, avgdl) for the standard analyzer. */
  def statsStd(spark: SparkSession, dir: String): DataFrame = {
    val lens = docLensStd(spark, dir)
    IndexCache.getOrBuild(spark, "text_stats_std", dir) {
      lens.agg(count(lit(1)).cast("double").as("n_docs"), avg(col("dl")).as("avgdl"))
        .pin()
    }
  }

  /** Merge a tokenized batch into an existing posting list: drop the
    * batch doc_ids' old postings (re-ingest = replace), append the
    * batch's fresh postings. The corpus is never re-tokenized — cost is
    * O(batch) tokenize + one anti-join over the base postings.
    */
  def mergePostings(base: DataFrame, batchDocs: DataFrame,
      tokenize: DataFrame => DataFrame = postingsStdOf): DataFrame =
    base.join(batchDocs.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .unionByName(tokenize(batchDocs))
      .select(col("tok"), col("doc_id"), col("tf"))

  /** A build-input scan spread across cores: tiny local files collapse
    * to 1-2 splits, which would serialize the CPU-bound tokenize; a
    * real lake scan has thousands of splits and this is a no-op.
    */
  private def parallelDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.parallelized(spark, Tables.documents(spark, dir).select(col("doc_id"), col("text")), "doc_id")
}
