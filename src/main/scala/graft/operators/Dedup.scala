package graft.operators

import graft.{QueryPack, Tables}
import graft.sources.IndexCache.Pin
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * Five tiers, cheapest first: exact hash; MinHash+LSH banding (the
  * scale path: explode shingles → map-side partial min per (doc, perm)
  * → band signatures → only same-band docs are ever pair-joined);
  * SimHash fingerprints; n-gram Jaccard verification of LSH candidates;
  * embedding-cosine near-dup within label buckets.
  *
  * Everything is hash-deterministic (md5-derived permutations, no RNG)
  * so results are reproducible and engine-portable. At 100 TB the only
  * quadratic step (pairwise Jaccard / cosine) is always bounded by a
  * bucketing stage first — the full cross join never happens.
  */
object Dedup extends QueryPack {

  private val NumPerms = 9  // 3 bands × 3 rows
  private val Bands = 3

  /** Word 3-gram shingles per doc (docs with <3 tokens drop out).
    * The scan is redistributed when it collapses to few splits (see
    * [[Tables.parallelized]]) so the shingle/md5 kernels engage every
    * core; partitioning on doc_id keeps the minhash groupBy
    * exchange-free.
    */
  def shingled(spark: SparkSession, dir: String): DataFrame =
    shinglesOf(Tables.parallelized(spark, tokenized(Tables.documents(spark, dir)), "doc_id"))

  /** doc_id → NumPerms min-hashes of the snapshot ([[minhashesOf]]). */
  def minhashes(spark: SparkSession, dir: String): DataFrame =
    minhashesOf(shingled(spark, dir))

  // The three stages of the minhash-band pipeline, over frames. The
  // snapshot builders and the store-backed incremental path both run
  // them, so a batch's bands equal the snapshot's bands of its docs.

  /** (doc_id, text) → (doc_id, t): the doc's whitespace tokens. */
  private def tokenized(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("t"))

  /** (doc_id, t) → (doc_id, sh): word 3-gram shingles; docs with <3
    * tokens drop out. */
  def shinglesOf(tokens: DataFrame): DataFrame =
    tokens.filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("t")) - 3),
        i => concat_ws(" ", element_at(col("t"), i + 1), element_at(col("t"), i + 2), element_at(col("t"), i + 3))))
        .as("sh"))

  /** (doc_id, sh) → doc_id, m0…m8: NumPerms min-hashes (hex-string
    * minima of salted md5).
    *
    * Hashes are computed inline on the shingle stream with a map-side
    * partial min per (doc, perm) — no materialized shingle vocabulary.
    * (A broadcast of the distinct vocabulary looks tempting but is a
    * scale-killer: at 100 TB the 3-gram vocabulary is billions of
    * entries and cannot live in every executor. md5 is cheap; the
    * shuffle of per-doc partial minima is the only real cost.)
    */
  def minhashesOf(shingles: DataFrame): DataFrame = {
    val aggs = (0 until NumPerms).map(p =>
      min(md5(concat(lit(s"$p:"), col("sh")).cast("binary"))).as(s"m$p"))
    shingles.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** (doc_id, m0…m8) → (doc_id, band, sig): LSH band signatures (md5
    * of each band's row minhashes). Docs sharing any (band, sig) are
    * near-dup candidates.
    */
  def bandsOf(minhashes: DataFrame): DataFrame = {
    val bandSigs = (0 until Bands).map { b =>
      val ms = (0 until 3).map(r => col(s"m${b * 3 + r}"))
      struct(lit(b).as("band"), md5(concat(ms: _*).cast("binary")).as("sig"))
    }
    minhashes.select(col("doc_id"), explode(array(bandSigs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** The per-doc minhash SKETCH table, staged once per corpus snapshot
    * through [[graft.sources.IndexCache]] — the structure a production
    * dedup deployment stores next to the band index (the incremental
    * path's own scaladoc says it: at 100 TB you never re-minhash the
    * corpus). Bounded at NumPerms hex minima per doc (~300 B/doc).
    * r17: dedup_minhash_est previously re-ran the full shingle →
    * 9×md5 → min pipeline on EVERY execution (solo converged sf10
    * 23.1 s) while every other dedup key probed cached structures; the
    * estimator now probes this sketch. The band index build derives
    * from the same cached frame, so the shingle pass runs once per
    * snapshot for the whole family.
    */
  def minhashIndex(spark: SparkSession, dir: String): DataFrame =
    graft.sources.IndexCache.getOrBuild(spark, "minhash_sketch", dir) {
      minhashes(spark, dir).pin()
    }

  /** doc_id → (band, sig) of the snapshot ([[bandsOf]] over the cached
    * sketch). */
  def lshBands(spark: SparkSession, dir: String): DataFrame =
    bandsOf(minhashIndex(spark, dir))

  /** Distinct candidate pairs (a < b) sharing an LSH band.
    *
    * The band table feeds both sides of the self-join, so it is the
    * pinned [[bandIndex]]: the shingle→minhash pipeline provably runs
    * ONCE, and both join sides replay the materialized blocks. Exchange
    * reuse alone depends on plan canonicalization and once silently
    * regressed to computing the pipeline twice (9× slower at sf0.1).
    * The band table is 3 small rows per doc — orders of magnitude
    * lighter than the shingle stream it truncates.
    */
  def candidatePairs(spark: SparkSession, dir: String): DataFrame = {
    val bands = bandIndex(spark, dir)
    val l = bands.select(col("doc_id").as("a"), col("band"), col("sig"))
    val r = bands.select(col("doc_id").as("b"), col("band"), col("sig"))
    l.join(r, Seq("band", "sig")).filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
  }

  /** The corpus's LSH band index, built (shingle → minhash → band,
    * pinned) ONCE per corpus snapshot and reused by every
    * consumer — dedup_minhash_lsh, dedup_ngram_jaccard, dedup_clusters,
    * dedup_incremental all probe the same structure, the way a
    * persisted band index would be probed at 100 TB (the store-backed
    * form is [[incrementalCandidates]]).
    */
  def bandIndex(spark: SparkSession, dir: String): DataFrame =
    graft.sources.IndexCache.getOrBuild(spark, "lsh_bands", dir) {
      lshBands(spark, dir).pin()
    }

  /** Distinct (doc, shingle) pairs, pinned once per snapshot —
    * the verify-stage sidecar of the band index.
    */
  def shingleIndex(spark: SparkSession, dir: String): DataFrame =
    graft.sources.IndexCache.getOrBuild(spark, "shingles_distinct", dir) {
      shingled(spark, dir).distinct().pin()
    }

  /** The LSH band index PERSISTED as a lake layout, like the postings
    * and IVF lists: partitioned by the
    * signature's first hex char (`sig_prefix`, 16 directories), sorted
    * by (sig, band) within partitions so a signature probe prunes its
    * prefix directory at planning time AND pushes the sig equality to
    * parquet row groups. Written once per snapshot through IndexCache;
    * the returned frame READS THE FILES — probing them is the point.
    */
  def bandLayout(spark: SparkSession, dir: String): DataFrame = {
    val built = bandIndex(spark, dir)
    graft.sources.IndexCache.getOrBuild(spark, "lsh_bands_disk", dir) {
      graft.sources.IndexCache.layout(spark, "graft_lshindex", dir, "bands",
        built.withColumn("sig_prefix", substring(col("sig"), 1, 1)),
        Seq("sig_prefix"), Seq("sig_prefix", "sig", "band"))
    }
  }

  /** Incremental dedup: at 100 TB you never re-minhash the corpus — the
    * LSH band index lives in an [[graft.sources.IndexStore]]; new docs
    * are shingled/hashed alone and joined against the stored bands.
    *
    * @param newDocs   (doc_id, text) of the incoming batch
    * @param bandStore persisted band index (key = doc_id:band, cols
    *                  doc_id/band/sig); updated with the batch's bands
    * @return candidate pairs (new_doc, existing_doc) sharing a band,
    *         eagerly materialized BEFORE the store advances (reading
    *         lazily afterwards would join against the already-updated
    *         index); nothing for the caller to unpersist.
    */
  def incrementalCandidates(spark: SparkSession, newDocs: DataFrame,
                            bandStore: graft.sources.IndexStore): DataFrame = {
    val newBands = bandsOf(minhashesOf(shinglesOf(tokenized(newDocs))))
      .withColumn("key", concat(col("doc_id").cast("string"), lit(":"), col("band").cast("string")))
      .pin() // one shingle pass feeds both the join and the store merge

    val existing = bandStore.read()
    val candidates = existing match {
      case None => newBands.limit(0)
        .select(col("doc_id").as("new_doc"), col("doc_id").as("existing_doc"))
      case Some(idx) =>
        newBands.select(col("doc_id").as("new_doc"), col("band"), col("sig"))
          .join(idx.select(col("doc_id").as("existing_doc"), col("band"), col("sig")),
            Seq("band", "sig"))
          .filter(col("new_doc") =!= col("existing_doc"))
          .select(col("new_doc"), col("existing_doc")).distinct()
    }
    val out = candidates.pin() // materialize before the store advances
    bandStore.mergeOrUpload(newBands)
    out
  }

  // ---- queries ----

  /** Incremental dedup as an oracle-gated query: docs with
    * doc_id % 10 == 0 are "the incoming batch", the rest are "the
    * stored corpus" (whose band index an IndexStore holds in the
    * store-backed form, [[incrementalCandidates]]). Candidates are
    * batch-vs-corpus band collisions ONLY — the corpus is never
    * re-minhashed against itself, which is the property that makes
    * dedup affordable as a 100 TB corpus grows.
    */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val bands = bandIndex(spark, dir)
    val batch = bands.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("new_doc"), col("band"), col("sig"))
    val corpus = bands.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id").as("existing_doc"), col("band"), col("sig"))
    batch.join(corpus, Seq("band", "sig"))
      .select(col("new_doc"), col("existing_doc")).distinct()
      .orderBy(col("new_doc"), col("existing_doc"))
  }

  /** Single-document near-dup LOOKUP against the persisted band layout
    * — the SERVING path of the dedup index ("find near-duplicates of
    * THIS doc", the query an ingest gate runs per candidate document):
    * the query doc's 3 band signatures come off the in-memory index as
    * 3 driver-side rows, their first hex chars become `sig_prefix IN
    * (…)` plan literals (planning-time pruning to ≤3 of the 16 prefix
    * directories at ANY corpus size) and the (band, sig) pairs push to
    * row groups — the probe reads the query's matching band lists off
    * disk, never the index. Candidates ranked by shared-band count.
    * Same architecture as search_bm25_persisted / ann_ivf_persisted;
    * DedupSpec proves file pruning via input_file_name() and equality
    * with the in-memory band join.
    */
  def dedupLookupPersisted(spark: SparkSession, dir: String): DataFrame = {
    val bands = bandIndex(spark, dir)
    // demo target: the smallest doc participating in ANY band collision
    // (a fixed doc id would be dup-free at some SFs — the corpus's dup
    // structure is per-generation); deriving it is a small aggregate
    // over the cached band frame, not part of the serving probe being
    // demonstrated
    val qdoc = bands.groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("mn"))
      .filter(col("n") > 1)
      .agg(min(col("mn"))).head().getLong(0)
    val q = bands.filter(col("doc_id") === qdoc)
      .select(col("band"), col("sig")).collect()
    val prefixes = q.map(_.getAs[String]("sig").substring(0, 1)).distinct.toSeq
    val pairs = q.map(r => (r.getAs[Int]("band"), r.getAs[String]("sig"))).toSeq
    val cond = pairs.map { case (b, s) => col("band") === b && col("sig") === s }
      .reduce(_ || _)
    bandLayout(spark, dir)
      .filter(col("sig_prefix").isin(prefixes: _*))
      .filter(cond)
      .filter(col("doc_id") =!= qdoc)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared_bands"))
      .orderBy(col("n_shared_bands").desc, col("doc_id"))
  }

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_docs"))

  private val BloomK = 3
  private val BloomBitsPerKey = 16

  /** Bloom-filter pre-screen for the incremental band-index probe: the
    * stored corpus's (band, sig) keys (doc_id % 10 != 0, the same split
    * as [[dedupIncremental]]) are folded into a 3-hash Bloom filter
    * sized at build time from the stored key count (16 bits/key — the
    * filter GROWS with the index, its false-positive rate doesn't). The
    * filter is modeled as its distinct set-bit positions (a packed
    * m-bit bitmap in a real deployment — kilobytes per million keys,
    * mergeable by OR across partitions). A batch doc is `maybe_dup`
    * when ANY of its band signatures has all 3 bits set; ground truth
    * is the actual band-index membership, so the output exposes the
    * (deterministic, md5-derived) false-positive behavior. At 100 TB
    * this screens almost every novel document out BEFORE the shuffling
    * band-index join that [[dedupIncremental]] pays — the broadcast
    * bitmap answers "definitely new" locally, map-side.
    */
  def dedupBloom(spark: SparkSession, dir: String): DataFrame = {
    val bands = bandIndex(spark, dir)
    val corpus = bands.filter(col("doc_id") % 10 =!= 0)
    val batch = bands.filter(col("doc_id") % 10 === 0)
    val mFrame = corpus.agg((count(lit(1)) * BloomBitsPerKey).as("m"))
    def bit(i: Int): Column =
      conv(substring(md5(concat(lit(s"$i:"), col("band").cast("string"), lit(":"), col("sig"))
        .cast("binary")), 1, 8), 16, 10).cast("long") % col("m")
    val bitsArr = array((0 until BloomK).map(bit): _*)
    val cbits = corpus.crossJoin(broadcast(mFrame))
      .select(explode(bitsArr).as("bit")).distinct()
    val probes = batch.crossJoin(broadcast(mFrame))
      .select(col("doc_id"), col("band"), explode(bitsArr).as("bit"))
    val maybe = probes.join(broadcast(cbits), Seq("bit"))
      .groupBy(col("doc_id"), col("band")).agg(count(lit(1)).as("hits"))
      .filter(col("hits") === BloomK)
      .select(col("doc_id")).distinct()
      .withColumn("maybe_dup", lit(true))
    val truth = batch.join(corpus.select(col("band"), col("sig")), Seq("band", "sig"), "left_semi")
      .select(col("doc_id")).distinct()
      .withColumn("is_dup", lit(true))
    batch.select(col("doc_id")).distinct()
      .join(maybe, Seq("doc_id"), "left")
      .join(truth, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("maybe_dup"), lit(false)).as("maybe_dup"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"))
      .withColumn("false_positive", col("maybe_dup") && !col("is_dup"))
      .orderBy(col("doc_id"))
  }

  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    candidatePairs(spark, dir)

  /** 16-bit SimHash over whitespace tokens (md5-derived bit votes). */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val toksExploded = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("v", conv(substring(md5(col("tok").cast("binary")), 1, 4), 16, 10).cast("long"))
    val votes = (0 until 16).map(j =>
      sum(when(expr(s"(shiftright(v, $j) & 1)") === 1, 1L).otherwise(-1L)).as(s"s$j"))
    val summed = toksExploded.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
    val sim = (0 until 16).map(j =>
      when(col(s"s$j") >= 0, lit(1L) * (1L << j)).otherwise(0L)).reduce(_ + _)
    summed.select(col("doc_id"), sim.as("simhash"))
      .withColumn("bucket_size", count(lit(1)).over(Window.partitionBy(col("simhash"))))
  }

  /** Word-3-gram Jaccard for every LSH candidate pair (the verify step
    * after banding): |A∩B| / |A∪B| over distinct shingles.
    */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    shingleOverlap(spark, dir, candidatePairs(spark, dir))
      .select(col("a"), col("b"),
        round(col("inter") / (col("ca") + col("cb") - col("inter")) + 1e-9, 4).as("jaccard"))

  /** Dedup threshold sweep — the knob-tuning readout every near-dup
    * deployment runs before committing to a τ: how many candidate
    * pairs survive at each Jaccard threshold in {0.5 … 0.9}. One pass
    * over the cached candidate-pair frame (the same LSH band index +
    * shingle-set overlap every other dedup key probes — nothing is
    * recomputed), cross-joined with the 5-row broadcast threshold
    * table and conditionally counted; at 100 TB this is a kilobyte
    * answer off the already-built pair index, the cheapest possible
    * way to see the dedup-rate curve before a full clustering run.
    */
  def dedupThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val j = dedupNgramJaccard(spark, dir).select(col("jaccard"))
    val thrs = broadcast(Seq(0.5, 0.6, 0.7, 0.8, 0.9).toDF("threshold"))
    j.crossJoin(thrs)
      .groupBy(col("threshold"))
      .agg(sum(when(col("jaccard") >= col("threshold"), 1L).otherwise(0L)).as("n_pairs"))
      .orderBy(col("threshold"))
  }

  /** Shared pair-overlap kernel: attach each side's shingle SET from
    * [[shingleSetIndex]] and compute |A∩B| with a codegen'd
    * array_intersect — identical semantics to joining the exploded
    * shingle index per pair and re-grouping, at O(|sets|) per pair
    * with nothing exploded (the shape that measured 332M intermediate
    * rows on dedup_semdedup's sf10 pairs before round 9). Preserves
    * every other pair column; pairs whose doc has zero shingles drop,
    * exactly as the former INNER sizes join dropped them.
    */
  private def shingleOverlap(spark: SparkSession, dir: String, pairs: DataFrame): DataFrame = {
    val shs = shingleSetIndex(spark, dir)
    pairs
      .join(shs.select(col("doc_id").as("a"), col("shs").as("sa")), Seq("a"))
      .join(shs.select(col("doc_id").as("b"), col("shs").as("sb")), Seq("b"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("ca", size(col("sa")).cast("long"))
      .withColumn("cb", size(col("sb")).cast("long"))
      .drop("sa", "sb")
  }

  /** MinHash sketch-accuracy readout: for every LSH candidate pair,
    * the Jaccard ESTIMATED from min-hash agreement (the fraction of
    * the [[NumPerms]] permutations where both docs share a minimum —
    * the unbiased MinHash estimator) next to the exact shingle
    * Jaccard, with the absolute error. This is the number that
    * justifies replacing exact set comparison with a 9-value sketch
    * at 100 TB — the estimate reads NumPerms hex strings per doc, the
    * exact join reads every shingle. Same evidence pattern as
    * ann_recall for the ANN family.
    */
  def dedupMinhashEst(spark: SparkSession, dir: String): DataFrame = {
    val pairs = candidatePairs(spark, dir)
    val mh = minhashIndex(spark, dir)
    def side(tag: String) =
      mh.select(col("doc_id").as(tag) +:
        (0 until NumPerms).map(p => col(s"m$p").as(s"${tag}_m$p")): _*)
    val agree = (0 until NumPerms)
      .map(p => when(col(s"a_m$p") === col(s"b_m$p"), 1).otherwise(0))
      .reduce(_ + _)
    val est = pairs.join(side("a"), Seq("a")).join(side("b"), Seq("b"))
      .select(col("a"), col("b"),
        round(agree.cast("double") / NumPerms + 1e-9, 4).as("jaccard_est"))
    est.join(dedupNgramJaccard(spark, dir)
        .withColumnRenamed("jaccard", "jaccard_exact"), Seq("a", "b"))
      .select(col("a"), col("b"), col("jaccard_est"), col("jaccard_exact"),
        round(abs(col("jaccard_est") - col("jaccard_exact")) + 1e-9, 4).as("abs_err"))
  }

  /** Shingle CONTAINMENT for the LSH candidates — the metric Jaccard
    * misses: a short document quoted whole inside a long one has
    * |A∩B|/|A∪B| ≈ |A|/|B| (tiny) but |A∩B|/min(|A|,|B|) ≈ 1
    * (Broder's containment, the dedup literature's near-superset
    * test). Same bounded joins as [[dedupNgramJaccard]] (candidates ×
    * shared shingle index), both metrics emitted side by side and
    * classified: near_dup (high Jaccard), contained (high containment
    * only), overlap. At 100 TB the cost is the candidate set, which
    * LSH banding already bounds.
    */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame = {
    shingleOverlap(spark, dir, candidatePairs(spark, dir))
      .select(col("a"), col("b"),
        round(col("inter") / least(col("ca"), col("cb")) + 1e-9, 4).as("containment"),
        round(col("inter") / (col("ca") + col("cb") - col("inter")) + 1e-9, 4).as("jaccard"))
      .withColumn("relation",
        when(col("jaccard") >= 0.7, "near_dup")
          .when(col("containment") >= 0.8, "contained")
          .otherwise("overlap"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication"): embedding-near
    * pairs split by whether the LEXICAL overlap explains the
    * similarity. Pairs from the k-means-bucketed embedding dedup
    * (cos ≥ 0.3; vec_id ↔ doc_id is the synthetic corpus's 1:1
    * mapping) joined against the shared shingle index for word-3-gram
    * Jaccard: high-cosine + low-Jaccard = `semantic` duplicates
    * (paraphrases a lexical pipeline never catches), high both =
    * `lexical`. Both inputs are the cached per-snapshot indexes, so
    * the query adds only the bounded pair-classification joins.
    */
  def dedupSemdedup(spark: SparkSession, dir: String): DataFrame = {
    // the CHECKPOINTED near-pair index — probed, never rebuilt
    val emb = embeddingNearPairs(spark, dir)
    // Pair classification by per-doc shingle SETS, not by exploding
    // (pair × shingle) rows: the explode shape joined |pairs|·|doc
    // shingles| rows against the 27M-row shingle index and re-grouped
    // them — measured 332M intermediate rows / 64s steady-state at
    // sf10's 6.2M near pairs. Each doc's shingles instead collapse
    // once per snapshot into a sorted array of 64-bit xxhashes
    // ([[shingleSetIndex]], ~450 B/doc), the two set lookups are
    // ordinary per-key joins, and |A∩B| is a codegen'd
    // array_intersect over ≤~60-element arrays — per-pair work is
    // O(|sets|), nothing is exploded, nothing re-aggregates.
    // (64-bit hashing inside one pair's comparison: collision odds
    // ~|pairs|·53²/2^64 ≈ 1e-9 — and the DuckDB oracle intersects the
    // raw strings, so a collision would fail the gate loudly, not
    // silently.)
    shingleOverlap(spark, dir, emb)
      .select(col("a"), col("b"), col("cos"),
        round(col("inter") / (col("ca") + col("cb") - col("inter")) + 1e-9, 4).as("jaccard"))
      .withColumn("kind",
        when(col("jaccard") >= 0.3, "lexical").otherwise("semantic"))
  }

  /** Per-doc shingle SET index: each doc's distinct word-3-grams as one
    * array of 64-bit xxhash64 values — the compact (≈450 B/doc)
    * membership structure pair-classification probes ([[dedupSemdedup]])
    * instead of re-joining the exploded shingle index per pair. Built
    * once per snapshot from [[shingleIndex]].
    */
  private[graft] def shingleSetIndex(spark: SparkSession, dir: String): DataFrame =
    graft.sources.IndexCache.getOrBuild(spark, "shingle_sets", dir) {
      shingleIndex(spark, dir)
        .groupBy(col("doc_id"))
        .agg(collect_set(xxhash64(col("sh"))).as("shs"))
        .pin()
    }

  /** Embedding near-dup: cosine ≥ τ pairs, bucketed by k-means cells so
    * the pairwise step stays inside coarse clusters. At corpus scale no
    * label column exists — the cells come from
    * [[Similarity.kmeans]] (deterministic first-k seeds + one Lloyd
    * round), which bounds the quadratic stage at ~n/k vectors per cell
    * for ANY corpus, exactly the IVF coarse-quantizer pattern.
    */
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame =
    embeddingNearPairs(spark, dir)

  /** The corpus's embedding NEAR-PAIR index (a, b, cos ≥ 0.3) — built
    * ONCE per snapshot through [[graft.sources.IndexCache]] and probed
    * by dedup_embedding AND dedup_semdedup. Before round 9 the pair
    * pipeline was rebuilt inline per reference: dedup_semdedup
    * references the pair frame TWICE (the intersection join and the
    * final enrich), so the whole O(n·CellBound) pairwise stage executed
    * twice per query — the measured 95.6s sf10 constant the round-8
    * verdict flagged. As a pinned index it is paid once per
    * snapshot, like the LSH band table and the cluster labels.
    */
  private[graft] def embeddingNearPairs(spark: SparkSession, dir: String): DataFrame =
   graft.sources.IndexCache.getOrBuild(spark, "embed_near_pairs", dir) {
    import graft.functions.Vectors
    // multi-probe (2 nearest cells per vector): boundary pairs still
    // meet in a shared bucket — measured ≥0.6 recall of the label-
    // formulation's pairs vs 0.27 single-probe (DedupSpec recall test).
    // The BOUNDED index (Similarity.boundedCellIndex) collapses exact-
    // duplicate vectors to their min-vec_id representative (their
    // mutual pairs are dedup_exact's domain; a no-op on dup-free
    // corpora = every gated SF) and caps every cell at CellBound
    // members via deterministic midpoint splits, so the within-cell
    // candidate join is O(n·CellBound) at ANY corpus size — the
    // unbounded √n-cell design this replaces measured 19.3× cost for
    // 10× data (BENCH_sf1, round 5). Built once per corpus snapshot on
    // top of the kmeans base shared with knn_join (IndexCache).
    //
    // OUTPUT CONTRACT on corpora WITH exact duplicates: pairs are
    // emitted for REPRESENTATIVES only. If dup_b is byte-identical to
    // a and (a, c) is a near-dup pair, (dup_b, c) is NOT emitted — a
    // consumer reconstructs it transitively via dedup_exact's groups
    // (rep ↔ duplicate members), which is also the standard pipeline
    // order: exact dedup runs upstream, so near-dup input is already
    // representative-only.
    val cells = Similarity.boundedCellIndex(spark, dir, probes = 2)
    val cand = cells.select(col("cell"), col("vec_id").as("a"))
      .join(cells.select(col("cell"), col("vec_id").as("b")), Seq("cell"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    // norms once per vector (O(n·d)), pairwise does only the dot
    // (O(pairs·d)) — same math as cosine(), 3× less arithmetic.
    // (A fused shape that carries both vectors through the cell
    // self-join was tried in round 9 and measured ~1.8× SLOWER at
    // sf10: the skinny pair distinct + two vector joins against the
    // n-row frame beat shuffling 2×256 B of payload per candidate.)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), Vectors.norm(col("embedding")).as("nrm"))
    cand
      .join(e.select(col("vec_id").as("a"), col("embedding").as("va"), col("nrm").as("na")), Seq("a"))
      .join(e.select(col("vec_id").as("b"), col("embedding").as("vb"), col("nrm").as("nb")), Seq("b"))
      .withColumn("cos", round(Vectors.dot(col("va"), col("vb")) / (col("na") * col("nb")), 4))
      .filter(col("cos") >= 0.3)
      .select(col("a"), col("b"), col("cos"))
      .pin()
   }

  /** 64-bit SimHash as four 16-bit band columns (h0..h3): per band the
    * token-hash chunk is 4 md5 hex chars, bit votes summed per doc —
    * never assembled into one 64-bit value, so neither engine risks
    * sign/overflow at bit 63 and the band columns double as the LSH
    * bucketing keys.
    */
  private[graft] def simhashBands(spark: SparkSession, dir: String): DataFrame =
    graft.sources.IndexCache.getOrBuild(spark, "simhash_bands", dir) {
      val toks = Tables.documents(spark, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val withV = toks.select(col("doc_id") +: (0 until 4).map(b =>
        conv(substring(md5(col("tok").cast("binary")), 1 + 4 * b, 4), 16, 10).cast("long").as(s"v$b")): _*)
      val votes = for (b <- 0 until 4; j <- 0 until 16) yield
        sum(when(expr(s"(shiftright(v$b, $j) & 1)") === 1, 1L).otherwise(-1L)).as(s"s${b}_$j")
      val summed = withV.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      val hb = (0 until 4).map { b =>
        (0 until 16).map(j => when(col(s"s${b}_$j") >= 0, lit(1L) * (1L << j)).otherwise(0L))
          .reduce(_ + _).as(s"h$b")
      }
      // signature table = one 4-long row per doc, built once per
      // snapshot (the SimHash fingerprint index), reused by every probe
      summed.select(col("doc_id") +: hb: _*).pin()
    }

  /** Near-dup pairs by 64-bit SimHash Hamming distance ≤ 3, found via
    * pigeonhole banding: 4 bands × 16 bits — any pair within distance 3
    * differs in at most 3 bands, so it MUST collide on at least one,
    * and only band-colliding pairs are ever distance-checked (the
    * all-pairs Hamming scan never happens). The distance check itself
    * is codegen'd bit_count(xor) — no token re-reads.
    *
    * Exact-identical signatures COLLAPSE to (rep = min doc_id, n)
    * representatives FIRST — the same collapse mm_phash_dedup needed:
    * on a dup-heavy corpus identical-signature groups grow with the
    * corpus, so doc-level pairs grow quadratically (measured 22× for
    * 10× data at sf10 before the collapse) while DISTINCT signatures
    * grow slowly. The output (rep_a, rep_b, hamming ∈ [1,3], n_a,
    * n_b) reconstructs every doc-level pair (within-group dup pairs
    * are the n > 1 groups, hamming 0 by definition).
    *
    * Banding uses Manku et al. 2007's block-permutation scheme (the
    * WWW "Detecting Near-Duplicates for Web Crawling" design, built
    * for 8B-page scale): naive 4×16-bit banding birthday-collides
    * once distinct signatures outgrow 2^16 (measured 125M candidate
    * pairs at sf10's 193k distinct sigs). Instead the 64 bits split
    * into SIX blocks (4×11 + 2×10 bits) and each signature posts C(6,
    * 3) = 20 keys, one per block TRIPLE (≤33-bit key space) — a pair
    * within Hamming distance 3 damages at most 3 blocks, so at least
    * one triple survives intact in both and recall stays guaranteed,
    * while collisions now require 33 matching bits instead of 16.
    */
  def dedupSimhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val sims = simhashBands(spark, dir) // cached signature index — both join sides replay it
    val grp = sims.groupBy((0 until 4).map(b => col(s"h$b")): _*)
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n"))
      .withColumn("full", expr("h0 | shiftleft(h1, 16) | shiftleft(h2, 32) | shiftleft(h3, 48)"))
    val blocks = Seq((0, 11), (11, 11), (22, 11), (33, 11), (44, 10), (54, 10))
    val blk = blocks.map { case (off, len) =>
      expr(s"shiftright(full, $off) & ${(1L << len) - 1}") }
    val combos = blocks.indices.combinations(3).toSeq
    val keys = combos.zipWithIndex.map { case (c, ci) =>
      struct(lit(ci).as("band"),
        (blk(c(0)) * (1L << 22) + blk(c(1)) * (1L << 11) + blk(c(2))).as("v"))
    }
    val banded = grp.select(col("rep") +: col("n") +: (0 until 4).map(b => col(s"h$b")) :+
        explode(array(keys: _*)).as("bs"): _*)
      .select(col("rep") +: col("n") +: (0 until 4).map(b => col(s"h$b")) :+
        col("bs.band").as("band") :+ col("bs.v").as("v"): _*)
    val l = banded.select(col("rep").as("rep_a") +: col("n").as("n_a") +:
      (0 until 4).map(b => col(s"h$b").as(s"a$b")) :+ col("band") :+ col("v"): _*)
    val r = banded.select(col("rep").as("rep_b") +: col("n").as("n_b") +:
      (0 until 4).map(b => col(s"h$b").as(s"b$b")) :+ col("band") :+ col("v"): _*)
    val ham = (0 until 4).map(i => expr(s"bit_count(a$i ^ b$i)").cast("long")).reduce(_ + _)
    l.join(r, Seq("band", "v")).filter(col("rep_a") < col("rep_b"))
      .select(col("rep_a") +: col("rep_b") +: col("n_a") +: col("n_b") +:
        (0 until 4).flatMap(i => Seq(col(s"a$i"), col(s"b$i"))): _*)
      .distinct()
      .withColumn("hamming", ham)
      .filter(col("hamming") <= 3)
      .select(col("rep_a"), col("rep_b"), col("hamming"), col("n_a"), col("n_b"))
  }

  /** Duplicate clustering: connected components over the LSH candidate
    * graph, cluster id = min doc_id in the component (the doc a
    * pipeline would keep). Spark side runs min-label propagation to a
    * fixpoint — each iteration is one join+agg, the number of
    * iterations is the graph diameter (tiny for near-dup clusters); the
    * oracle computes the true transitive closure with a recursive CTE,
    * so the gate proves the fixpoint converged.
    *
    * The converged assignment is a DERIVED INDEX of the snapshot (the
    * dedup pipeline computes components once, then every downstream
    * decision — keep/drop, reporting, scrubbing — reads them), so the
    * fixpoint runs once per snapshot through [[graft.sources
    * .IndexCache]] and the pinned label table (one row per
    * edge-touching doc — duplicate-population-sized, not corpus-sized)
    * serves every later query.
    */
  private def clusterLabels(spark: SparkSession, dir: String): DataFrame =
    graft.sources.IndexCache.getOrBuild(spark, "dup_cluster_labels", dir) {
      buildClusterLabels(spark, dir)
    }

  private def buildClusterLabels(spark: SparkSession, dir: String): DataFrame = {
    val pairs = candidatePairs(spark, dir).persist()
    val edges = pairs.unionByName(pairs.select(col("b").as("a"), col("a").as("b"))).persist()
    // only docs touching an edge can ever change label — iterate on that
    // (small) subgraph; the untouched majority joins back at the end
    val nodes = edges.select(col("a").as("doc_id")).distinct()
    var labels = nodes.select(col("doc_id"), col("doc_id").as("cluster_id")).persist()
    // `labels` is re-derived from the persisted `next` each round;
    // unpersist must target the frame that actually owns the cache entry
    // (unpersist on a derived projection is a silent no-op).
    var cached = labels
    try {
      var changed = 1L
      var iters = 0
      while (changed > 0 && iters < 50) {
        val nbMin = edges
          .join(labels.select(col("doc_id").as("b"), col("cluster_id").as("nb_label")), Seq("b"))
          .groupBy(col("a")).agg(min(col("nb_label")).as("nb_min"))
          .select(col("a").as("doc_id"), col("nb_min"))
        val next = labels
          .join(nbMin, Seq("doc_id"), "left")
          .select(col("doc_id"),
            least(coalesce(col("nb_min"), col("cluster_id")), col("cluster_id")).as("new_label"),
            col("cluster_id").as("old_label"))
          .persist()
        val prev = cached
        cached = next
        try changed = next.filter(col("new_label") =!= col("old_label")).count()
        finally prev.unpersist()
        labels = next.select(col("doc_id"), col("new_label").as("cluster_id"))
        iters += 1
      }
      // Pinned to cut the iterative lineage and release the scratch
      // caches: the label table is tiny (one row per edge-touching doc).
      labels.pin()
    } finally {
      cached.unpersist()
      edges.unpersist()
      pairs.unpersist()
    }
  }

  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val all = Tables.documents(spark, dir).select(col("doc_id"))
      .join(clusterLabels(spark, dir), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    all
      .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
  }

  /** Soft deduplication (SoftDedup, He et al., ACL 2024): instead of
    * DROPPING near-duplicates, every doc keeps sampling weight
    * 1/|cluster| so each near-dup cluster contributes exactly one
    * doc-equivalent of probability mass to the training mixture — the
    * reweighting alternative to [[dedupKeepBest]] that preserves the
    * (often highest-quality) duplicated content without over-sampling
    * it. `eff_tokens` = n_tokens/|cluster| is the doc's effective
    * contribution to the token budget (what [[TextAnalysis]]'s
    * sample_token_budget would draw under the soft weights). Reuses the
    * per-snapshot cached cluster labels (one fixpoint per snapshot), so
    * the op itself is a join + one window pass — nothing rescans
    * shingles.
    */
  def dedupSoftWeights(spark: SparkSession, dir: String): DataFrame = {
    val ntok = Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
    dedupClusters(spark, dir)
      .join(ntok, Seq("doc_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        round(lit(1e-9) + lit(1.0) / col("cluster_size"), 4).as("weight"),
        round(lit(1e-9) + col("n_tok").cast("double") / col("cluster_size"), 4).as("eff_tokens"))
  }

  private val SubGram = 8  // words per gram (the Lee et al. match unit, sandbox-scaled)
  private val SubDfCap = 8 // stop-gram cap: grams in more docs than this are boilerplate

  /** Cross-document SUBSTRING dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"-shaped): the whole-doc
    * family (exact/minhash/simhash) misses documents that share long
    * verbatim PASSAGES without being near-duplicates overall — quoted
    * boilerplate, licence blocks, copied paragraphs. Every sliding
    * [[SubGram]]-word window is hashed (only the 16-byte hash and its
    * first position leave the document — per-doc state is bounded by
    * doc length); colliding grams yield (doc_a, doc_b) passage pairs
    * with shared-gram counts and first-overlap offsets.
    *
    * Skew/scale: grams occurring in more than [[SubDfCap]] distinct
    * docs are dropped BEFORE the pair join (the head/tail split
    * text_tfidf uses, in cap form) — ubiquitous boilerplate would
    * otherwise quadratically explode exactly like an LSH hot bucket;
    * under the cap each gram contributes ≤ C(cap,2)=28 pairs, so the
    * pair stage is linear in surviving gram rows. Grams in a single
    * doc are dropped too (they can't pair). The detector stays
    * subquadratic end to end at corpus scale.
    */
  /** (doc_id, pos, gram-hash) sliding-window table, built once per
    * corpus snapshot via [[graft.sources.IndexCache]] — the substring
    * family's shared index, exactly as the LSH band table serves the
    * minhash family. Only the 8-byte hash and position leave the doc.
    *
    * r17: the gram id is xxhash64, not md5 (verdict #8). The id is
    * purely INTERNAL — it never reaches any declared output (substring/
    * spans/scrub emit doc pairs, positions and rebuilt text), it is only
    * compared for equality, and the oracle recomputes its own md5-keyed
    * pipeline whose MATCH SET is identical (both hashes are injective
    * on this corpus's grams w.h.p.; a disagreement would fail the
    * oracle compare). xxhash64 is codegen-native and emits an 8-byte
    * long instead of a 32-char hex string, so the posting-table build,
    * its groupBys and the pair self-join all hash and shuffle ~5× fewer
    * key bytes. The two chained generators replace the nested
    * transform/struct HOF (CodegenFallback — the basket-pair finding)
    * for the same reason.
    */
  private def gramIndex(spark: SparkSession, dir: String): DataFrame =
    graft.sources.IndexCache.getOrBuild(spark, "substr_grams", dir) {
      Tables.documents(spark, dir)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= SubGram)
        .select(col("doc_id"), col("t"),
          posexplode(slice(col("t"), lit(1), size(col("t")) - SubGram + 1)).as(Seq("pos0", "w0")))
        .select(col("doc_id"), col("pos0").cast("long").as("pos"),
          xxhash64(concat_ws(" ", slice(col("t"), col("pos0") + 1, lit(SubGram)))).as("g"))
        .pin()
    }

  /** Pair-ready DOC-FIRST posting table for [[dedupSubstring]]: one row
    * per (doc, gram) at the gram's first position, restricted to grams
    * whose doc frequency lands in [2, [[SubDfCap]]]. Built once per
    * snapshot via IndexCache: the r14 form recomputed this whole
    * groupBy+stats+join subtree TWICE per query execution (once per
    * self-join leg — Spark does not share identical subplans), which
    * the sf10 cert measured as the dominant cost of the key (59.2s).
    * Cached, each leg replays pinned blocks.
    */
  private def substrKeptFirst(spark: SparkSession, dir: String): DataFrame =
    graft.sources.IndexCache.getOrBuild(spark, "substr_kept_first", dir) {
      val grams = gramIndex(spark, dir)
        .groupBy(col("doc_id"), col("g")).agg(min(col("pos")).as("pos"))
      val keep = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= SubDfCap)
        .select(col("g"))
      grams.join(keep, Seq("g")).pin()
    }

  def dedupSubstring(spark: SparkSession, dir: String): DataFrame = {
    val kept = substrKeptFirst(spark, dir)
    kept.select(col("g"), col("doc_id").as("doc_a"), col("pos").as("pos_a"))
      .join(kept.select(col("g"), col("doc_id").as("doc_b"), col("pos").as("pos_b")), Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_grams"),
        min(col("pos_a")).as("a_start"), min(col("pos_b")).as("b_start"))
  }

  private val SubOccCap = 16 // total-occurrence cap for the span variant

  /** Maximal shared-PASSAGE extraction — the actual output shape of
    * Lee et al.'s suffix-array dedup, recovered Spark-style: where
    * [[dedupSubstring]] counts colliding grams per doc pair, this
    * merges CONSECUTIVE gram hits into maximal spans. Two hits
    * (pa, pb) and (pa+1, pb+1) lie on the same alignment diagonal
    * (pa − pb); islands of consecutive pa within a (pair, diagonal)
    * group are one duplicated passage of `run + gram − 1` words. The
    * island window partitions by (doc_a, doc_b, diagonal) — group size
    * is bounded by document length, never corpus size, so the sort is
    * skew-free by construction. Gram hits keep ALL positions here (a
    * passage can repeat), so the stop-gram guard adds a total-
    * occurrence cap on top of the doc-frequency cap.
    */
  /** ALL-POSITIONS posting table for the span variant ([[dedupSubstringSpans]]
    * and its rider [[dedupPassageScrub]]): grams under both the doc-
    * frequency and total-occurrence caps, every occurrence kept (a
    * passage can repeat within a doc). Cached once per snapshot for the
    * same double-leg reason as [[substrKeptFirst]].
    */
  private def substrKeptAll(spark: SparkSession, dir: String): DataFrame =
    graft.sources.IndexCache.getOrBuild(spark, "substr_kept_all", dir) {
      val g0 = gramIndex(spark, dir)
      val keep = g0.groupBy(col("g"))
        .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("occ"))
        .filter(col("df") >= 2 && col("df") <= SubDfCap && col("occ") <= SubOccCap)
        .select(col("g"))
      g0.join(keep, Seq("g")).pin()
    }

  def dedupSubstringSpans(spark: SparkSession, dir: String): DataFrame = {
    val kept = substrKeptAll(spark, dir)
    val m = kept.select(col("g"), col("doc_id").as("doc_a"), col("pos").as("pa"))
      .join(kept.select(col("g"), col("doc_id").as("doc_b"), col("pos").as("pb")), Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pa"), col("pb"))
    m.withColumn("grp", col("pa") - row_number().over(
        Window.partitionBy(col("doc_a"), col("doc_b"), col("pa") - col("pb")).orderBy(col("pa"))))
      .groupBy(col("doc_a"), col("doc_b"), (col("pa") - col("pb")).as("diag"), col("grp"))
      .agg(min(col("pa")).as("a_start"), min(col("pb")).as("b_start"),
        (count(lit(1)) + SubGram - 1).as("span_words"))
      .select(col("doc_a"), col("doc_b"), col("a_start"), col("b_start"), col("span_words"))
  }

  /** APPLY the substring dedup — Lee et al.'s actual intervention:
    * rewrite each document with its duplicated passages removed,
    * keeping the FIRST occurrence corpus-wide (spans are removed from
    * the higher doc_id of each pair). Span word-intervals are unioned
    * per doc (overlapping spans from different partners collapse via
    * the position-distinct), the doc's tokens are anti-joined against
    * the removal set, and the survivors reassemble in position order.
    * Every stage is doc-keyed (skew-free) and the removal set is
    * bounded by the span table, not the corpus.
    */
  def dedupPassageScrub(spark: SparkSession, dir: String): DataFrame = {
    // r17: the scrub is applied IN-ROW. The r16 form posexploded every
    // document into a corpus-sized (doc, pos, w) token stream, anti-
    // joined it against the removal set and re-assembled each doc with
    // an array_sort(collect_list(struct))) object aggregate — one full
    // corpus token exchange plus a per-doc sort, every execution (solo
    // converged sf10 26.7 s). The removal set is duplicate-population-
    // sized (bounded by the span table), so it aggregates to a per-doc
    // position array and attaches to the UNEXPLODED documents with one
    // small join; the token filter and re-join then run as a per-row
    // array expression — zero corpus exchanges. Row set identical:
    // every removal position is a valid in-doc token index by
    // construction, so n_removed = |rem| = n_words − n_kept, docs with
    // no spans keep their text verbatim (left join null ⇒ no filter),
    // and a fully-scrubbed doc yields the same empty string the old
    // left-join coalesce produced.
    val spans = dedupSubstringSpans(spark, dir)
    val removed = spans
      .select(col("doc_b").as("doc_id"),
        explode(sequence(col("b_start"), col("b_start") + col("span_words") - 1)).as("pos"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("pos")).as("rem"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("rem").isNull, concat_ws(" ", col("t")))
          .otherwise(concat_ws(" ",
            filter(col("t"), (w, i) => !array_contains(col("rem"), i.cast("long")))))
          .as("clean_text"),
        coalesce(size(col("rem")).cast("long"), lit(0L)).as("n_removed"))
  }

  /** The dedup pipeline's KEEP decision: within each multi-doc
    * near-dup cluster ([[dedupClusters]]), keep the member with the
    * highest quality score ([[TextAnalysis.quality]], the rounded
    * score the curation pipeline already computes), ties to the
    * smaller doc_id. The argmax is a map-side-combinable
    * min(struct(-quality, doc_id)) per cluster — never a window —
    * and only multi-doc clusters reach it, so the stage is sized by
    * the duplicate population, not the corpus.
    */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val clusters = dedupClusters(spark, dir).filter(col("cluster_size") > 1)
    val q = TextAnalysis.quality(spark, dir).select(col("doc_id"), col("quality"))
    clusters.join(q, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(
        count(lit(1)).as("cluster_size"),
        min(struct(negate(col("quality")).as("nq"), col("doc_id").as("d"))).as("mv"))
      .select(col("cluster_id"), col("cluster_size"),
        col("mv.d").as("keep_doc"),
        round(negate(col("mv.nq")), 4).as("best_quality"),
        (col("cluster_size") - 1).as("n_dropped"))
  }

  /** Scale bands: `dedup_lookup_persisted` serves one doc off the
    * prefix-partitioned band layout; `dedup_incremental` joins a
    * fixed-size batch to the band index; `dedup_embedding` probes the
    * bounded-cell near-pair index (O(n*C) build amortized per
    * snapshot) — flat. `dedup_simhash_pairs` collapses to distinct
    * signatures before Manku banding and `dedup_clusters` iterates on
    * the candidate-pair graph (duplicate-population-sized) — sublinear.
    * The pair-frame riders (ngram_jaccard / containment /
    * threshold_sweep / soft_weights / minhash_lsh / minhash_est /
    * semdedup) grow with the band table, which is corpus-linear —
    * default (dedup_minhash_est re-filed sublin->linear in r13:
    * isolated quiet 11.0x/decade, audit trail in SURVEY section 4).
    */
  override def bands: Map[String, String] = (Seq(
    "dedup_lookup_persisted", "dedup_incremental", "dedup_embedding")
    .map(_ -> graft.Band.Probe) ++ Seq(
    "dedup_simhash_pairs", "dedup_clusters")
    .map(_ -> graft.Band.Sublin)).toMap

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_keep_best" -> (dedupKeepBest _),
    "dedup_containment" -> (dedupContainment _),
    "dedup_minhash_est" -> (dedupMinhashEst _),
    "dedup_semdedup" -> (dedupSemdedup _),
    "dedup_passage_scrub" -> (dedupPassageScrub _),
    "dedup_substring_spans" -> (dedupSubstringSpans _),
    "dedup_substring" -> (dedupSubstring _),
    "dedup_clusters" -> (dedupClusters _),
    "dedup_soft_weights" -> (dedupSoftWeights _),
    "dedup_incremental" -> (dedupIncremental _),
    "dedup_exact" -> (dedupExact _),
    "dedup_bloom" -> (dedupBloom _),
    "dedup_minhash_lsh" -> (dedupMinhashLsh _),
    "dedup_lookup_persisted" -> (dedupLookupPersisted _),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_simhash_pairs" -> (dedupSimhashPairs _),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "dedup_threshold_sweep" -> (dedupThresholdSweep _),
    "dedup_embedding" -> (dedupEmbedding _))

  // Shared oracle fragments (DuckDB dialect).
  private val shingleSql =
    """SELECT doc_id, unnest(list_transform(generate_series(0, len(t)-3),
      |  i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS sh
      |FROM (SELECT doc_id, string_split(text,' ') AS t FROM documents)
      |WHERE len(t) >= 3""".stripMargin

  private val bandsSql = {
    val mins = (0 until NumPerms).map(p => s"min(md5('$p:'||sh)) AS m$p").mkString(", ")
    val bandRows = (0 until Bands).map(b =>
      s"SELECT doc_id, $b AS band, md5(m${b * 3}||m${b * 3 + 1}||m${b * 3 + 2}) AS sig FROM mh")
      .mkString(" UNION ALL ")
    s"""WITH sh AS ($shingleSql),
       |mh AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id)
       |$bandRows""".stripMargin
  }

  private val pairsSql =
    s"""SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |FROM ($bandsSql) l JOIN ($bandsSql) r
       | ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id""".stripMargin

  /** Shared DuckDB CTE chain ending in `spansq(doc_a, doc_b, a_start,
    * b_start, span_words)` — the twin of [[dedupSubstringSpans]], used
    * by both the spans oracle and the passage-scrub oracle.
    */
  private def spansCteSql: String =
    s"""docs AS (
       | SELECT doc_id, string_split(text, ' ') AS t FROM documents
       | WHERE len(string_split(text, ' ')) >= $SubGram),
       |p AS (
       | SELECT doc_id, t, unnest(generate_series(0, len(t) - $SubGram)) AS pos FROM docs),
       |g0 AS (
       | SELECT doc_id, pos,
       |  md5(array_to_string(t[pos + 1 : pos + $SubGram], ' ')) AS g
       | FROM p),
       |keep AS (
       | SELECT g FROM (
       |  SELECT g, count(DISTINCT doc_id) AS df, count(*) AS occ FROM g0 GROUP BY 1)
       | WHERE df BETWEEN 2 AND $SubDfCap AND occ <= $SubOccCap),
       |k AS (SELECT g0.doc_id, g0.pos, g0.g FROM g0 JOIN keep USING (g)),
       |m AS (
       | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
       | FROM k a JOIN k b ON a.g = b.g AND a.doc_id < b.doc_id),
       |i AS (
       | SELECT *, pa - row_number() OVER (
       |   PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS grp
       | FROM m),
       |spansq AS (
       | SELECT doc_a, doc_b, min(pa) AS a_start, min(pb) AS b_start,
       |  count(*) + ${SubGram - 1} AS span_words
       | FROM i GROUP BY doc_a, doc_b, pa - pb, grp)""".stripMargin

  val oracles: Map[String, String] = Map(
    "dedup_substring_spans" ->
      s"""WITH $spansCteSql
         |SELECT doc_a, doc_b, a_start, b_start, span_words
         |FROM spansq ORDER BY doc_a, doc_b, a_start, b_start""".stripMargin,
    "dedup_passage_scrub" ->
      s"""WITH $spansCteSql,
         |rem AS (SELECT DISTINCT doc_id, pos FROM (
         | SELECT doc_b AS doc_id,
         |  unnest(generate_series(b_start, b_start + span_words - 1)) AS pos
         | FROM spansq)),
         |dt AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |tp AS (SELECT doc_id, t, unnest(generate_series(0, len(t) - 1)) AS pos FROM dt),
         |tw AS (SELECT doc_id, pos, t[pos + 1] AS w FROM tp),
         |kept AS (
         | SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS clean_text,
         |  count(*) AS n_kept
         | FROM tw ANTI JOIN rem USING (doc_id, pos) GROUP BY doc_id)
         |SELECT d.doc_id,
         | coalesce(k.clean_text, '') AS clean_text,
         | CAST(len(string_split(d.text, ' ')) - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed
         |FROM documents d LEFT JOIN kept k USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "dedup_substring" ->
      s"""WITH docs AS (
         | SELECT doc_id, string_split(text, ' ') AS t FROM documents
         | WHERE len(string_split(text, ' ')) >= $SubGram),
         |p AS (
         | SELECT doc_id, t, unnest(generate_series(0, len(t) - $SubGram)) AS pos FROM docs),
         |g0 AS (
         | SELECT doc_id, pos,
         |  md5(array_to_string(t[pos + 1 : pos + $SubGram], ' ')) AS g
         | FROM p),
         |gd AS (SELECT doc_id, g, min(pos) AS pos FROM g0 GROUP BY 1, 2),
         |keep AS (
         | SELECT g FROM (SELECT g, count(*) AS df FROM gd GROUP BY 1)
         | WHERE df BETWEEN 2 AND $SubDfCap),
         |k AS (SELECT gd.doc_id, gd.g, gd.pos FROM gd JOIN keep USING (g))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_grams,
         | min(a.pos) AS a_start, min(b.pos) AS b_start
         |FROM k a JOIN k b ON a.g = b.g AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_clusters" ->
      s"""WITH RECURSIVE pairs AS ($pairsSql),
         |edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
         |reach(doc, r) AS (
         | SELECT doc_id, doc_id FROM documents
         | UNION
         | SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.doc),
         |clusters AS (SELECT doc AS doc_id, min(r) AS cluster_id FROM reach GROUP BY doc)
         |SELECT doc_id, cluster_id, count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |FROM clusters ORDER BY doc_id""".stripMargin,
    "dedup_soft_weights" ->
      s"""WITH RECURSIVE pairs AS ($pairsSql),
         |edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
         |reach(doc, r) AS (
         | SELECT doc_id, doc_id FROM documents
         | UNION
         | SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.doc),
         |clusters AS (SELECT doc AS doc_id, min(r) AS cluster_id FROM reach GROUP BY doc),
         |cs AS (
         | SELECT doc_id, cluster_id,
         |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         | FROM clusters),
         |nt AS (SELECT doc_id, len(string_split(text,' '))::BIGINT AS n_tok FROM documents)
         |SELECT c.doc_id, c.cluster_id, c.cluster_size,
         | round(1e-9 + 1.0 / c.cluster_size, 4) AS weight,
         | round(1e-9 + nt.n_tok::DOUBLE / c.cluster_size, 4) AS eff_tokens
         |FROM cs c JOIN nt USING (doc_id)
         |ORDER BY c.doc_id""".stripMargin,
    "dedup_keep_best" ->
      s"""WITH RECURSIVE pairs AS ($pairsSql),
         |edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
         |reach(doc, r) AS (
         | SELECT doc_id, doc_id FROM documents
         | UNION
         | SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.doc),
         |clusters AS (SELECT doc AS doc_id, min(r) AS cluster_id FROM reach GROUP BY doc),
         |csz AS (SELECT cluster_id, count(*) AS cluster_size FROM clusters GROUP BY 1),
         |q AS (${TextAnalysis.qualityScoreSql}),
         |ranked AS (
         | SELECT c.cluster_id, sz.cluster_size, c.doc_id, q.quality,
         |  row_number() OVER (PARTITION BY c.cluster_id ORDER BY q.quality DESC, c.doc_id) AS rk
         | FROM clusters c JOIN csz sz USING (cluster_id) JOIN q USING (doc_id)
         | WHERE sz.cluster_size > 1)
         |SELECT cluster_id, cluster_size, doc_id AS keep_doc,
         | round(quality, 4) AS best_quality, cluster_size - 1 AS n_dropped
         |FROM ranked WHERE rk = 1 ORDER BY cluster_id""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keeper, count(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin,
    "dedup_bloom" ->
      s"""WITH bands AS ($bandsSql),
         |corpus AS (SELECT * FROM bands WHERE doc_id % 10 != 0),
         |batch AS (SELECT * FROM bands WHERE doc_id % 10 = 0),
         |m AS (SELECT count(*) * $BloomBitsPerKey AS m FROM corpus),
         |cbits AS (
         | SELECT DISTINCT
         |  ('0x'||substring(md5(i.i::VARCHAR||':'||band::VARCHAR||':'||sig),1,8))::BIGINT % m.m AS bit
         | FROM corpus, m, (SELECT unnest(generate_series(0, ${BloomK - 1})) AS i) i),
         |probes AS (
         | SELECT doc_id, band,
         |  ('0x'||substring(md5(i.i::VARCHAR||':'||band::VARCHAR||':'||sig),1,8))::BIGINT % m.m AS bit
         | FROM batch, m, (SELECT unnest(generate_series(0, ${BloomK - 1})) AS i) i),
         |bandhits AS (
         | SELECT doc_id, band, count(*) AS hits
         | FROM probes JOIN cbits USING (bit) GROUP BY 1, 2),
         |maybe AS (SELECT DISTINCT doc_id FROM bandhits WHERE hits = $BloomK),
         |truth AS (SELECT DISTINCT b.doc_id FROM batch b JOIN corpus c USING (band, sig)),
         |docs AS (SELECT DISTINCT doc_id FROM batch)
         |SELECT d.doc_id,
         | (mb.doc_id IS NOT NULL) AS maybe_dup,
         | (t.doc_id IS NOT NULL) AS is_dup,
         | (mb.doc_id IS NOT NULL AND t.doc_id IS NULL) AS false_positive
         |FROM docs d LEFT JOIN maybe mb USING (doc_id) LEFT JOIN truth t USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "dedup_minhash_lsh" -> (pairsSql + " ORDER BY a, b"),
    // the declarative truth of the single-doc lookup: band collisions
    // of doc 0 counted per candidate — execution-strategy-independent
    // (the Spark side reads the pruned persisted layout)
    "dedup_lookup_persisted" ->
      s"""WITH qd AS (
         | SELECT min(l.doc_id) AS q
         | FROM ($bandsSql) l JOIN ($bandsSql) r
         |  ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id)
         |SELECT c.doc_id, count(*) AS n_shared_bands
         |FROM ($bandsSql) q JOIN ($bandsSql) c
         | ON q.band = c.band AND q.sig = c.sig, qd
         |WHERE q.doc_id = qd.q AND c.doc_id <> qd.q
         |GROUP BY 1
         |ORDER BY n_shared_bands DESC, c.doc_id""".stripMargin,
    "dedup_minhash_est" -> {
      val mins = (0 until NumPerms).map(p => s"min(md5('$p:'||sh)) AS m$p").mkString(", ")
      val agree = (0 until NumPerms)
        .map(p => s"(CASE WHEN ma.m$p = mb.m$p THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH pairs AS ($pairsSql),
         |mh AS (SELECT doc_id, $mins FROM ($shingleSql) GROUP BY doc_id),
         |est AS (
         | SELECT p.a, p.b,
         |  round(($agree) / ${NumPerms}.0 + 1e-9, 4) AS jaccard_est
         | FROM pairs p JOIN mh ma ON ma.doc_id = p.a JOIN mh mb ON mb.doc_id = p.b),
         |shd AS (SELECT DISTINCT doc_id, sh FROM ($shingleSql)),
         |sizes AS (SELECT doc_id, count(*) AS c FROM shd GROUP BY doc_id),
         |inter AS (
         | SELECT p.a, p.b, count(*) AS i
         | FROM pairs p JOIN shd sa ON sa.doc_id = p.a JOIN shd sb ON sb.doc_id = p.b AND sb.sh = sa.sh
         | GROUP BY p.a, p.b),
         |exact AS (
         | SELECT p.a, p.b,
         |  round(coalesce(i.i, 0) / (ca.c + cb.c - coalesce(i.i, 0)) + 1e-9, 4) AS jaccard_exact
         | FROM pairs p
         |  LEFT JOIN inter i ON i.a = p.a AND i.b = p.b
         |  JOIN sizes ca ON ca.doc_id = p.a
         |  JOIN sizes cb ON cb.doc_id = p.b)
         |SELECT e.a, e.b, e.jaccard_est, x.jaccard_exact,
         | round(abs(e.jaccard_est - x.jaccard_exact) + 1e-9, 4) AS abs_err
         |FROM est e JOIN exact x ON x.a = e.a AND x.b = e.b
         |ORDER BY e.a, e.b""".stripMargin
    },
    "dedup_containment" ->
      s"""WITH pairs AS ($pairsSql),
         |shd AS (SELECT DISTINCT doc_id, sh FROM ($shingleSql)),
         |sizes AS (SELECT doc_id, count(*) AS c FROM shd GROUP BY doc_id),
         |inter AS (
         | SELECT p.a, p.b, count(*) AS i
         | FROM pairs p JOIN shd sa ON sa.doc_id = p.a JOIN shd sb ON sb.doc_id = p.b AND sb.sh = sa.sh
         | GROUP BY p.a, p.b),
         |m AS (
         | SELECT p.a, p.b,
         |  round(coalesce(i.i, 0) / least(ca.c, cb.c) + 1e-9, 4) AS containment,
         |  round(coalesce(i.i, 0) / (ca.c + cb.c - coalesce(i.i, 0)) + 1e-9, 4) AS jaccard
         | FROM pairs p
         |  LEFT JOIN inter i ON i.a = p.a AND i.b = p.b
         |  JOIN sizes ca ON ca.doc_id = p.a
         |  JOIN sizes cb ON cb.doc_id = p.b)
         |SELECT a, b, containment, jaccard,
         | CASE WHEN jaccard >= 0.7 THEN 'near_dup'
         |      WHEN containment >= 0.8 THEN 'contained'
         |      ELSE 'overlap' END AS relation
         |FROM m ORDER BY a, b""".stripMargin,
    "dedup_semdedup" ->
      s"""WITH ${Similarity.boundedCellsSql(probes = 2)},
         |cand AS (
         |  SELECT DISTINCT ca.vec_id AS a, cb.vec_id AS b
         |  FROM bcells ca JOIN bcells cb ON cb.cell = ca.cell AND ca.vec_id < cb.vec_id),
         |emb AS (
         | SELECT c.a, c.b,
         |  round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 4) AS cos
         | FROM cand c
         |  JOIN embeddings ea ON ea.vec_id = c.a
         |  JOIN embeddings eb ON eb.vec_id = c.b
         | WHERE round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 4) >= 0.3),
         |shd AS (SELECT DISTINCT doc_id, sh FROM ($shingleSql)),
         |sizes AS (SELECT doc_id, count(*) AS c FROM shd GROUP BY doc_id),
         |inter AS (
         | SELECT e.a, e.b, count(*) AS i
         | FROM emb e JOIN shd sa ON sa.doc_id = e.a JOIN shd sb ON sb.doc_id = e.b AND sb.sh = sa.sh
         | GROUP BY e.a, e.b),
         |m AS (
         | SELECT e.a, e.b, e.cos,
         |  round(coalesce(i.i, 0) / (ca.c + cb.c - coalesce(i.i, 0)) + 1e-9, 4) AS jaccard
         | FROM emb e
         |  LEFT JOIN inter i ON i.a = e.a AND i.b = e.b
         |  JOIN sizes ca ON ca.doc_id = e.a
         |  JOIN sizes cb ON cb.doc_id = e.b)
         |SELECT a, b, cos, jaccard,
         | CASE WHEN jaccard >= 0.3 THEN 'lexical' ELSE 'semantic' END AS kind
         |FROM m ORDER BY a, b""".stripMargin,
    "dedup_incremental" ->
      s"""SELECT DISTINCT l.doc_id AS new_doc, r.doc_id AS existing_doc
         |FROM ($bandsSql) l JOIN ($bandsSql) r
         | ON l.band = r.band AND l.sig = r.sig
         |WHERE l.doc_id % 10 = 0 AND r.doc_id % 10 <> 0
         |ORDER BY new_doc, existing_doc""".stripMargin,
    "dedup_simhash" -> {
      val votes = (0 until 16).map(j =>
        s"sum(CASE WHEN (v >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j").mkString(", ")
      val bits = (0 until 16).map(j =>
        s"CASE WHEN s$j >= 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
      s"""WITH toks AS (
         | SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents),
         |vals AS (SELECT doc_id, ('0x'||substring(md5(tok),1,4))::BIGINT AS v FROM toks),
         |summed AS (SELECT doc_id, $votes FROM vals GROUP BY doc_id),
         |sh AS (SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM summed)
         |SELECT doc_id, simhash, count(*) OVER (PARTITION BY simhash) AS bucket_size
         |FROM sh ORDER BY doc_id""".stripMargin
    },
    "dedup_simhash_pairs" -> {
      val vcols = (0 until 4).map(b => s"('0x'||substring(md5(tok),${1 + 4 * b},4))::BIGINT AS v$b").mkString(", ")
      val sums = (for (b <- 0 until 4; j <- 0 until 16) yield
        s"sum(CASE WHEN (v$b >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s${b}_$j").mkString(", ")
      val hcols = (0 until 4).map { b =>
        val bits = (0 until 16).map(j => s"CASE WHEN s${b}_$j >= 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
        s"CAST($bits AS BIGINT) AS h$b"
      }.mkString(", ")
      val ham = (0 until 4).map(i => s"bit_count(xor(a.h$i, b.h$i))").mkString(" + ")
      val anyBand = (0 until 4).map(i => s"a.h$i = b.h$i").mkString(" OR ")
      s"""WITH toks AS (
         | SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents),
         |vals AS (SELECT doc_id, $vcols FROM toks),
         |summed AS (SELECT doc_id, $sums FROM vals GROUP BY doc_id),
         |sh AS (SELECT doc_id, $hcols FROM summed),
         |grp AS (
         | SELECT h0, h1, h2, h3, min(doc_id) AS rep, count(*) AS n
         | FROM sh GROUP BY 1, 2, 3, 4)
         |SELECT a.rep AS rep_a, b.rep AS rep_b, CAST($ham AS BIGINT) AS hamming,
         | a.n AS n_a, b.n AS n_b
         |FROM grp a JOIN grp b ON a.rep < b.rep AND ($anyBand)
         |WHERE $ham <= 3
         |ORDER BY rep_a, rep_b""".stripMargin
    },
    "dedup_ngram_jaccard" ->
      s"""WITH pairs AS ($pairsSql),
         |shd AS (SELECT DISTINCT doc_id, sh FROM ($shingleSql)),
         |sizes AS (SELECT doc_id, count(*) AS c FROM shd GROUP BY doc_id),
         |inter AS (
         | SELECT p.a, p.b, count(*) AS i
         | FROM pairs p JOIN shd sa ON sa.doc_id = p.a JOIN shd sb ON sb.doc_id = p.b AND sb.sh = sa.sh
         | GROUP BY p.a, p.b)
         |SELECT p.a, p.b,
         | round(coalesce(i.i, 0) / (ca.c + cb.c - coalesce(i.i, 0)) + 1e-9, 4) AS jaccard
         |FROM pairs p
         | LEFT JOIN inter i ON i.a = p.a AND i.b = p.b
         | JOIN sizes ca ON ca.doc_id = p.a
         | JOIN sizes cb ON cb.doc_id = p.b
         |ORDER BY p.a, p.b""".stripMargin,
    "dedup_threshold_sweep" ->
      s"""WITH pairs AS ($pairsSql),
         |shd AS (SELECT DISTINCT doc_id, sh FROM ($shingleSql)),
         |sizes AS (SELECT doc_id, count(*) AS c FROM shd GROUP BY doc_id),
         |inter AS (
         | SELECT p.a, p.b, count(*) AS i
         | FROM pairs p JOIN shd sa ON sa.doc_id = p.a JOIN shd sb ON sb.doc_id = p.b AND sb.sh = sa.sh
         | GROUP BY p.a, p.b),
         |j AS (
         | SELECT round(coalesce(i.i, 0) / (ca.c + cb.c - coalesce(i.i, 0)) + 1e-9, 4) AS jaccard
         | FROM pairs p
         |  LEFT JOIN inter i ON i.a = p.a AND i.b = p.b
         |  JOIN sizes ca ON ca.doc_id = p.a
         |  JOIN sizes cb ON cb.doc_id = p.b)
         |SELECT CAST(t.threshold AS DOUBLE) AS threshold,
         | CAST(sum(CASE WHEN j.jaccard >= t.threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
         |FROM j CROSS JOIN (VALUES (0.5), (0.6), (0.7), (0.8), (0.9)) t(threshold)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_embedding" ->
      s"""WITH ${Similarity.boundedCellsSql(probes = 2)},
        |cand AS (
        |  SELECT DISTINCT ca.vec_id AS a, cb.vec_id AS b
        |  FROM bcells ca JOIN bcells cb ON cb.cell = ca.cell AND ca.vec_id < cb.vec_id)
        |SELECT c.a, c.b,
        | round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 4) AS cos
        |FROM cand c
        | JOIN embeddings ea ON ea.vec_id = c.a
        | JOIN embeddings eb ON eb.vec_id = c.b
        |WHERE round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 4) >= 0.3
        |ORDER BY a, b""".stripMargin)
}
