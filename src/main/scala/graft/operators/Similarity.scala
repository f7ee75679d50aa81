package graft.operators

import graft.{QueryPack, Tables}
import graft.functions.Vectors
import graft.sources.IndexCache.Pin
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the embedding column.
  *
  * Brute-force cosine top-k is the correctness baseline (a broadcast of
  * the query vector against a full scan — embarrassingly parallel, no
  * shuffle until the final top-k). The scale paths bound the candidate
  * set first: IVF probes only the nearest coarse cells; hyperplane LSH
  * buckets vectors by md5-derived deterministic planes.
  */
object Similarity extends QueryPack {

  private val QueryVecId = 0
  private val Planes = 8

  /** Fixed query vector (vec_id 0) as a 1-row broadcast-able frame. */
  private def queryVec(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") === QueryVecId)
      .select(col("embedding").as("qv"))

  def annBruteForce(spark: SparkSession, dir: String): DataFrame = {
    // declared-linear contrast baseline: the corpus scan is the point,
    // but it must engage every core — redistribute the single-split
    // local file (no-op at lake scale) before the per-row cosine
    val e = Tables.parallelized(spark,
      Tables.embeddings(spark, dir), "vec_id").filter(col("vec_id") =!= QueryVecId)
    e.crossJoin(broadcast(queryVec(spark, dir)))
      .select(col("vec_id"), col("label"),
        round(Vectors.cosine(col("embedding"), col("qv")), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
  }

  /** Cell count for the k-means coarse quantizer, derived from corpus
    * size (≈ sqrt(n / 16), floor 8): cell population grows ~sqrt(n), so
    * the bounded-pairwise stages stay subquadratic as the corpus grows —
    * a constant k would let per-cell population (and the candidate join)
    * grow linearly. The DuckDB twin lives in [[kmeansCellsSql]].
    */
  def cellCount(n: Long): Int =
    math.max(8, math.ceil(math.sqrt(n / 16.0)).toInt)

  /** The corpus's k-means coarse-quantizer index (assignments with
    * `probes`-way multi-assignment + centroids), built ONCE per corpus
    * snapshot via [[graft.sources.IndexCache]] and reused by every
    * probing query (ann_ivf, knn_join, dedup_embedding) — the build is
    * deterministic (first-k seeds, fixed iteration count) and both
    * frames are pinned by [[kmeans]], so the cache
    * replays materialized blocks.
    */
  def cellIndex(spark: SparkSession, dir: String, probes: Int): (DataFrame, DataFrame) = {
    val n = Tables.embeddings(spark, dir).count()
    val k = cellCount(n)
    graft.sources.IndexCache.getOrBuild(spark, s"kmeans_k${k}_i1_p$probes", dir) {
      kmeans(spark, dir, k = k, iters = 1, probes = probes)
    }
  }

  /** Max members a cell of the BOUNDED index ([[boundedCellIndex]]) may
    * hold. Pairwise work inside a cell is ≤ CellBound²/2, so any
    * within-cell stage (dedup_embedding's candidate join) costs
    * O(n·CellBound) TOTAL no matter the corpus size — the fix for the
    * measured O(n^1.5) of the unbounded √n-cell design (19.3× cost for
    * 10× data at sf1). 128 is the MEASURED recall/cost point: round 9
    * tried the verdict's smaller-cap scale path (64) and the near-dup
    * recall floor collapsed 0.60 → 0.37 (DedupSpec's label-formulation
    * gate) — the extra split round severs genuine near-pairs faster
    * than it saves pairwise work. The round-9 fix for the measured
    * semdedup constant is instead the build-once near-pair index
    * ([[graft.operators.Dedup.embeddingNearPairs]]): the O(n·C)
    * pairwise stage was executing TWICE per semdedup query.
    */
  val CellBound = 128

  /** Max binary split rounds for [[boundedCellIndex]]. Each round halves
    * every oversized cell (roughly — seed-nearer assignment), so R
    * rounds reduce the worst cell by up to 2^R = 4096×; the Scala side
    * exits early once every cell is under the bound, while the oracle
    * SQL unrolls all R rounds statically (a round with no oversized
    * cells only remaps ids ×2, which is invisible to co-membership).
    */
  private[graft] val SplitRounds = 12

  /** One deterministic binary split round: every cell whose population
    * exceeds `bound` is split into children `2·cell` / `2·cell + 1`
    * along the dimension of maximum RANGE (max−min, exact float
    * arithmetic — engine-stable; ties break dim-ascending), at the
    * MIDPOINT (min+max)/2 of that dimension. min/max are
    * aggregation-order-independent, so the threshold is bit-identical
    * across engines and across Spark runs — the mean threshold this
    * replaces depended on partial-aggregation summation order and
    * could flip a vector's child cell on a 1-ulp difference (a latent
    * cross-engine flake, per round-6 ADVICE). A midpoint split on the
    * widest dimension still halves dense clusters (converges in ≤8
    * rounds on sf10's tight replica clusters — the min/max-vec_id
    * seed-pair rule peeled ~3% per round). Cells at or under the
    * bound are kept, remapped to `2·cell` so ids stay globally unique
    * without any driver-side max. No broadcast hints: the per-cell
    * stat frames start k-sized but grow toward n/bound rows in late
    * rounds at corpus scale — AQE picks broadcast while they fit and
    * falls back to a shuffle join when they don't.
    */
  private[graft] def splitOversizedRound(cells: DataFrame, e: DataFrame, bound: Long): DataFrame = {
    val over = cells.groupBy(col("cell")).agg(count(lit(1)).as("pop"))
      .filter(col("pop") > bound).select(col("cell"))
    val members = cells.join(over, Seq("cell")).join(e, Seq("vec_id"))
    val stats = members
      .select(col("cell"), posexplode(transform(col("embedding"), x => x.cast("double"))).as(Seq("dim", "x")))
      .groupBy(col("cell"), col("dim"))
      .agg(max(col("x")).as("mx"), min(col("x")).as("mn"))
    // widest dim per cell: min(struct(-spread, dim, thr)) — dim is
    // unique within a cell, so the carried threshold is never compared
    val best = stats
      .select(col("cell"), col("dim"),
        (col("mx") - col("mn")).as("spread"),
        ((col("mn") + col("mx")) / 2).as("m"))
      .groupBy(col("cell"))
      .agg(min(struct(negate(col("spread")).as("ns"), col("dim"), col("m"))).as("b"))
      .select(col("cell"), col("b.dim").as("sdim"), col("b.m").as("thr"))
    val split = members.join(best, Seq("cell"))
      .select(col("vec_id"),
        (col("cell") * 2 + when(element_at(col("embedding"), col("sdim") + 1).cast("double") > col("thr"), 1)
          .otherwise(0)).cast("int").as("cell"))
    val kept = cells.join(over, Seq("cell"), "left_anti")
      .select(col("vec_id"), (col("cell") * 2).cast("int").as("cell"))
    kept.union(split)
  }

  private def maxCellPop(cells: DataFrame): Long =
    // coalesce: max over an EMPTY membership frame (empty embeddings
    // table) is NULL — treat as 0 so the split loop exits cleanly
    cells.groupBy(col("cell")).agg(count(lit(1)).as("pop"))
      .agg(coalesce(max(col("pop")), lit(0L))).first().getLong(0)

  /** The BOUNDED cell index: [[cellIndex]]'s k-means memberships,
    * then [[splitOversizedRound]] iterated until no cell holds more
    * than `bound` members (≤ [[SplitRounds]] rounds). Returns the
    * membership frame (vec_id, cell) — every vector keeps exactly
    * `probes` memberships, only refined into smaller cells.
    *
    * This is the 100-TB form of the within-cell pairwise pattern: the
    * unbounded index's cell population grows ~4√n (cellCount k=√(n/16)),
    * so Σ pop² — the candidate join — is O(n^1.5), measured 19.3× cost
    * for 10× data at sf1. With the bound, Σ pop·min(pop,C) ≤ n·probes·C:
    * linear in the corpus with a constant quadratic factor. Build cost
    * is O(n·2d) per round for the oversized population only (a min and
    * max per dimension), ~log2(4√n/C) rounds; the base k-means build
    * is shared (IndexCache) with the unbounded probes twin.
    */
  def boundedCellIndex(spark: SparkSession, dir: String, probes: Int,
      bound: Int = CellBound): DataFrame = {
    val (cells0, _) = cellIndex(spark, dir, probes)
    graft.sources.IndexCache.getOrBuild(spark, s"kmeans_bounded_p${probes}_b$bound", dir) {
      // exact-duplicate vectors collapse to their min-vec_id
      // representative FIRST: their mutual pairs are dedup_exact's
      // domain (content hash), and a replica cluster larger than the
      // bound is unsplittable by ANY geometric rule (identical points).
      // No-op on duplicate-free corpora — every gated SF — and the
      // standard pipeline order (exact dedup upstream of near-dup) at
      // 100 TB, where the groupBy is one content shuffle.
      val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      // pinned: several consumers (the join below and every split round)
      val reps = e.groupBy(col("embedding")).agg(min(col("vec_id")).as("vec_id"))
        .select(col("vec_id"), col("embedding")).pin()
      var cur = cells0.select(col("vec_id"), col("cell"))
        .join(reps.select(col("vec_id")), Seq("vec_id"))
      var round = 0
      while (round < SplitRounds && maxCellPop(cur) > bound) {
        cur = splitOversizedRound(cur, reps, bound).pin() // lineage cut per round
        round += 1
      }
      cur
    }
  }

  /** The WRITTEN cell-partitioned IVF lake layout — the CANONICAL probe
    * storage for the whole ANN family, and the architecture
    * every disk-resident ANN service runs at 100 TB (FAISS/IVF on
    * object storage: vectors stored per inverted list, a query reads
    * ONLY its probed lists — the reference's own served-prebuilt-index
    * model, TextIndexModel.cs:9-13). The cell assignments join their
    * vectors and are written to parquet partitioned by `cell`, once per
    * snapshot through [[graft.sources.IndexCache]]; every probing query
    * filters `cell IN (…)` with literal probe ids, so every other cell
    * directory is pruned at PLANNING time — the pruning is structural,
    * not an optimizer favor. `probes = 2` materializes the multi-probe
    * twin (one row per membership) that the k-NN join family reads.
    *
    * Probing a filtered in-memory assignment frame instead scans the
    * whole frame per query: measured 0.8×/9.5× per scale decade vs the
    * pruned layout's 1.4×/2.1×.
    */
  private[graft] def ivfLayout(spark: SparkSession, dir: String, probes: Int = 1): DataFrame = {
    val suffix = if (probes == 1) "cells" else s"cells_p$probes"
    graft.sources.IndexCache.getOrBuild(spark, s"ivf_cells_disk_p$probes", dir) {
      val (cells, _) = cellIndex(spark, dir, probes)
      val data = cells.join(Tables.embeddings(spark, dir), Seq("vec_id"))
        .select(col("cell"), col("vec_id"), col("label"), col("embedding"))
      graft.sources.IndexCache.layout(spark, "graft_ivfindex", dir, suffix, data,
        Seq("cell"), Seq("cell", "vec_id"))
    }
  }

  /** Driver-side nprobe selection — the client-side planning step of
    * every real ANN service: rank the k-row CACHED centroid table
    * against the query vector, collect the nprobe nearest cell ids
    * (an nprobe-long collect, never a corpus action). The returned
    * literals feed `cell IN (…)` partition pruning on [[ivfLayout]].
    */
  private def probedCellIds(spark: SparkSession, dir: String, nprobe: Int): Seq[Int] = {
    val (_, centroids) = cellIndex(spark, dir, probes = 1)
    centroids.crossJoin(broadcast(queryVec(spark, dir)))
      .select(col("cell"), Vectors.cosineExpr(col("centroid"), col("qv")).as("ccos"))
      .orderBy(col("ccos").desc, col("cell")).limit(nprobe)
      .select(col("cell").cast("int")).collect().map(_.getInt(0)).toSeq
  }

  /** The shared IVF probe: prune [[ivfLayout]] to the `nprobe` cells
    * picked by [[probedCellIds]], exact-rank inside them. Both ann_ivf
    * and ann_ivf_persisted are this probe (one architecture, two keys —
    * the in-memory assignment-frame scan the keys used to contrast was
    * retired in round 9 as the measured scale-killer).
    */
  private def ivfProbe(spark: SparkSession, dir: String, nprobe: Int): DataFrame =
    ivfLayout(spark, dir).filter(col("cell").isin(probedCellIds(spark, dir, nprobe): _*))
      .filter(col("vec_id") =!= QueryVecId)
      .crossJoin(broadcast(queryVec(spark, dir)))
      .select(col("vec_id"), col("label"),
        round(Vectors.cosine(col("embedding"), col("qv")), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)

  /** IVF with a label-free coarse quantizer: cells come from
    * [[kmeans]] (deterministic first-k seeds + one Lloyd round, k from
    * corpus size) — no dependence on the synthetic `label` column,
    * which does not exist at corpus scale. The QUERY probes its 2
    * nearest cells (classic IVF nprobe) via the partition-pruned
    * [[ivfLayout]] and exact-ranks only inside them.
    */
  def annIvf(spark: SparkSession, dir: String): DataFrame =
    ivfProbe(spark, dir, nprobe = 2)

  /** The persisted-layout IVF probe key — since round 9 identical to
    * [[annIvf]] (the pruned layout IS the canonical path); the key is
    * kept so the layout's pruning contract stays independently gated
    * (KMeansSpec: input_file_name() shows only the two probed cells'
    * files are read; shared oracle with ann_ivf).
    */
  def annIvfPersisted(spark: SparkSession, dir: String): DataFrame =
    ivfProbe(spark, dir, nprobe = 2)

  /** Brute-force top-k over int8-QUANTIZED codes — the 4× storage /
    * memory-bandwidth saver for 100 TB of embeddings (cosine is
    * scale-invariant, so per-vector symmetric quantization costs only
    * the per-element rounding error). [[Vectors.quantizeInt8]] rounds by
    * floor(x/scale + 0.5), so both engines round identically; the codes
    * are exact small integers, making the oracle math bit-stable.
    */
  def annInt8(spark: SparkSession, dir: String): DataFrame = {
    val qz = Tables.parallelized(spark, Tables.embeddings(spark, dir), "vec_id")
      .select(col("vec_id"), col("label"), col("embedding"), Vectors.int8Scale(col("embedding")).as("scale"))
      .filter(col("scale") > 0)
      .select(col("vec_id"), col("label"), Vectors.quantizeInt8(col("embedding"), col("scale")).as("c"))
    val q = qz.filter(col("vec_id") === QueryVecId).select(col("c").as("qc"))
    qz.filter(col("vec_id") =!= QueryVecId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        round(Vectors.cosineInt8(col("c"), col("qc")), 4).as("cos8"))
      .orderBy(col("cos8").desc, col("vec_id"))
      .limit(10)
  }

  private val PqM = 4       // subspaces
  private val PqSubDim = 16 // dims per subspace (4 × 16 = 64)
  private val PqK = 16      // codebook size per subspace

  /** Product quantization ADC top-k (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search"): each vector is split
    * into [[PqM]] subvectors, each encoded as its nearest cell in a
    * per-subspace codebook (deterministic first-k seeds + one Lloyd
    * round — the [[kmeans]] recipe per subspace), compressing 64 floats
    * to 4 byte-codes (64×). Query-time asymmetric distance computation:
    * one M×K distance table from the uncompressed query, then every
    * vector's approximate distance is M table lookups — a join against
    * a 64-row broadcast plus one groupBy, never a full-vector scan.
    * This is the memory-bandwidth story for 100 TB of embeddings: the
    * scan reads codes (4 bytes/vector), not vectors (256 bytes).
    *
    * Every assignment is a map-side-combinable min(struct(d², cell)) —
    * no windows; codebook build shuffles only k×d-sized frames.
    */
  private def pqSubvectors(e: DataFrame): DataFrame = {
    val slices = array((0 until PqM).map(m =>
      transform(slice(col("embedding"), m * PqSubDim + 1, PqSubDim), x => x.cast("double"))): _*)
    e.select(col("vec_id"), posexplode(slices).as(Seq("m", "sv")))
  }

  private def pqD2(a: Column, b: Column): Column = Vectors.sqDist(a, b)

  /** (codebook, codes) for the snapshot — built once per corpus via
    * [[graft.sources.IndexCache]] like the other ANN index structures
    * (the PQ codebook at scale lives beside the IVF lists; queries only
    * ever read it).
    */
  private def pqIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    graft.sources.IndexCache.getOrBuild(spark, "pq_index", dir) {
      val sub = pqSubvectors(
        Tables.parallelized(spark, Tables.embeddings(spark, dir), "vec_id"))
      val seeds = sub.filter(col("vec_id") < PqK)
        .select(col("m"), col("vec_id").cast("int").as("cell"), col("sv").as("centroid"))
      // Lloyd round 1: assign to seed cells (carrying sv through the
      // min-struct — cell ids are unique per subspace, so the struct
      // order never reaches the sv field), then per-dimension means
      val asg0 = sub.join(broadcast(seeds), Seq("m"))
        .withColumn("dd", pqD2(col("sv"), col("centroid")))
        .groupBy(col("vec_id"), col("m"))
        .agg(min(struct(col("dd"), col("cell"), col("sv"))).as("mc"))
        .select(col("m"), col("mc.cell").as("cell"), col("mc.sv").as("sv"))
      val cents = asg0
        .select(col("m"), col("cell"), posexplode(col("sv")).as(Seq("dim", "x")))
        .groupBy(col("m"), col("cell"), col("dim")).agg(avg(col("x")).as("v"))
        .groupBy(col("m"), col("cell"))
        .agg(array_sort(collect_list(struct(col("dim"), col("v")))).as("dv"))
        .select(col("m"), col("cell"), transform(col("dv"), s => s.getField("v")).as("centroid"))
        .pin()
      // encode: nearest updated centroid per (vector, subspace)
      val codes = sub.join(broadcast(cents), Seq("m"))
        .withColumn("dd", pqD2(col("sv"), col("centroid")))
        .groupBy(col("vec_id"), col("m"))
        .agg(min(struct(col("dd"), col("cell"))).as("mc"))
        .select(col("vec_id"), col("m"), col("mc.cell").as("cell"))
        .pin()
      (cents, codes)
    }

  def annPq(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Column
    val e = Tables.embeddings(spark, dir)
    def d2(a: Column, b: Column): Column = pqD2(a, b)
    val (cents, codes) = pqIndex(spark, dir)
    // ADC distance table: query subvector ↔ every centroid (M×K rows)
    val qsub = pqSubvectors(e.filter(col("vec_id") === QueryVecId))
      .select(col("m"), col("sv"))
    val dtab = cents.join(broadcast(qsub), Seq("m"))
      .select(col("m"), col("cell"), d2(col("sv"), col("centroid")).as("qd2"))
    val top = codes.filter(col("vec_id") =!= QueryVecId)
      .join(broadcast(dtab), Seq("m", "cell"))
      .groupBy(col("vec_id"))
      .agg(round(sum(col("qd2")) + 1e-9, 4).as("adc_d2"))
      .orderBy(col("adc_d2"), col("vec_id")).limit(10)
    top.join(e.select(col("vec_id"), col("label")), Seq("vec_id"))
      .select(col("vec_id"), col("label"), col("adc_d2"))
      .orderBy(col("adc_d2"), col("vec_id"))
  }

  /** IVF-PQ: the two index structures composed the way a production
    * ANN store runs them (FAISS's IVFPQ layout) — the coarse quantizer
    * bounds the candidate set (query probes its 2 nearest cells), then
    * candidates are ranked by PQ ADC distance read from the 4-byte
    * codes, never from the raw vectors. At 100 TB the scan cost is
    * |probed cells| × 4 bytes/vector; both index structures are the
    * cached per-snapshot builds ([[cellIndex]], [[pqIndex]]), so the
    * query itself is two broadcasts (probed cell ids, M×K distance
    * table) and one map-side-combinable groupBy-sum.
    */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    // candidate ids from the PRUNED layout: a column-pruned read of the
    // two probed cell directories' vec_id column only (4-byte codes do
    // the ranking; the 256-byte vectors are never touched)
    val cand = ivfLayout(spark, dir)
      .filter(col("cell").isin(probedCellIds(spark, dir, nprobe = 2): _*))
      .filter(col("vec_id") =!= QueryVecId).select(col("vec_id"))
    val (cents, codes) = pqIndex(spark, dir)
    val qsub = pqSubvectors(
      Tables.embeddings(spark, dir).filter(col("vec_id") === QueryVecId))
      .select(col("m"), col("sv"))
    val dtab = cents.join(broadcast(qsub), Seq("m"))
      .select(col("m"), col("cell"), pqD2(col("sv"), col("centroid")).as("qd2"))
    val top = codes.join(cand, Seq("vec_id"))
      .join(broadcast(dtab), Seq("m", "cell"))
      .groupBy(col("vec_id"))
      .agg(round(sum(col("qd2")) + 1e-9, 4).as("adc_d2"))
      .orderBy(col("adc_d2"), col("vec_id")).limit(10)
    top.join(Tables.embeddings(spark, dir).select(col("vec_id"), col("label")), Seq("vec_id"))
      .select(col("vec_id"), col("label"), col("adc_d2"))
      .orderBy(col("adc_d2"), col("vec_id"))
  }

  /** FILTERED vector search — the attribute-constrained ANN query
    * every vector store names as a feature (label = 1 here): the
    * filter applies BEFORE ranking (pre-filter), so the top-k is
    * never starved by post-filtering a generic result list, and the
    * query probes 4 cells instead of [[annIvf]]'s 2 because the
    * predicate thins each probed cell's candidate population — the
    * recall/selectivity trade every filtered-ANN deployment tunes.
    * The layout carries `label`, so the predicate is a scan-level
    * filter ON THE PRUNED CELL FILES — no join back to the corpus
    * table at all (round 9: was cells ⋈ filtered embeddings).
    */
  def annFiltered(spark: SparkSession, dir: String): DataFrame =
    ivfLayout(spark, dir)
      .filter(col("cell").isin(probedCellIds(spark, dir, nprobe = 4): _*))
      .filter(col("vec_id") =!= QueryVecId && col("label") === 1)
      .crossJoin(broadcast(queryVec(spark, dir)))
      .select(col("vec_id"), col("label"),
        round(Vectors.cosine(col("embedding"), col("qv")), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)

  /** Measured recall@10 of the IVF probe against the brute-force
    * baseline — the quality readout every approximate index ships
    * with (the number a 100 TB deployment watches when tuning nprobe /
    * cell count). Both sides are 10-row frames, so the intersection
    * join costs nothing beyond the two searches themselves.
    */
  /** BATCHED vector retrieval — the offline serving shape of every
    * RAG-corpus-linking / embedding-join pipeline (retrieve neighbors
    * for a whole query SET in one plan, not one driver round-trip per
    * query): 8 query vectors (vec_id < 8) each probe their 2 nearest
    * IVF cells and rank candidates within them, top-5 per query.
    *
    * Execution shape at 100 TB: probe selection is a (Q × k) centroid
    * ranking — queries broadcast onto the k-row centroid table, a
    * Q-partition window over k rows each (driver-scale). The candidate
    * stage joins the (query, cell) probe pairs (2Q rows, broadcast)
    * against the cell assignments, so each query reads ONLY its probed
    * inverted lists — total candidate volume ≈ Q × 2 × cell-population,
    * independent of corpus size, and the whole batch amortizes ONE pass
    * over the probed lists instead of Q sequential jobs. The per-query
    * top-5 window partitions on query_id with cell-bounded partitions.
    */
  def annMultiQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val NumQ = 8
    val (_, centroids) = cellIndex(spark, dir, probes = 1)
    val queries = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < NumQ)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    // batched probe selection: one Q×k centroid ranking, the 2Q
    // (query, cell) pairs collected driver-side — the whole batch's
    // planning step in one tiny action, then `cell IN (…)` prunes the
    // layout to the UNION of all queries' inverted lists and the pair
    // table (broadcast) routes each query to only ITS lists
    val probePairs = centroids.crossJoin(broadcast(queries))
      .select(col("query_id"), col("cell"),
        Vectors.cosineExpr(col("centroid"), col("qv")).as("ccos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("ccos").desc, col("cell"))))
      .filter(col("rk") <= 2)
      .select(col("query_id"), col("cell").cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val pairsDf = probePairs.toSeq.toDF("query_id", "cell")
    val unionCells = probePairs.map(_._2).distinct.toSeq
    ivfLayout(spark, dir)
      .filter(col("cell").isin(unionCells: _*))
      .join(broadcast(pairsDf), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("vec_id"), col("label"),
        round(Vectors.cosine(col("embedding"), col("qv")), 4).as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))).cast("long"))
      .filter(col("rank") <= 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** RANGE search (FAISS `range_search`, the other ANN serving API):
    * ALL vectors within a cosine radius of the query, not a fixed
    * top-k — the shape dedup thresholds and recall-critical retrieval
    * use. Same IVF architecture as [[annIvf]] but with nprobe WIDENED
    * to 4: a radius query's result set isn't bounded at k, so it
    * trades more probed lists for recall at the radius boundary.
    * Candidates stay bounded by the probed cells' population; the
    * threshold filter is scan-level (codegen'd) over them.
    */
  def annRange(spark: SparkSession, dir: String): DataFrame = {
    val Radius = 0.25
    ivfLayout(spark, dir)
      .filter(col("cell").isin(probedCellIds(spark, dir, nprobe = 4): _*))
      .filter(col("vec_id") =!= QueryVecId)
      .crossJoin(broadcast(queryVec(spark, dir)))
      .select(col("vec_id"), col("label"),
        round(Vectors.cosine(col("embedding"), col("qv")), 4).as("cos"))
      .filter(col("cos") >= Radius)
      .orderBy(col("cos").desc, col("vec_id"))
  }

  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val bf = annBruteForce(spark, dir).select(col("vec_id"))
    val ivf = annIvf(spark, dir).select(col("vec_id"))
    bf.join(ivf, Seq("vec_id"))
      .agg(count(lit(1)).as("n_common"))
      .select(lit(10).as("k"), col("n_common"),
        round(col("n_common") / 10.0 + 1e-9, 2).as("recall_at_k"))
  }

  /** Hyperplane LSH signatures: bucket = Σ (dot(v, plane_p) ≥ 0) << p
    * with md5-derived plane weights (engine-portable, no RNG).
    */
  def annLshBucket(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.parallelized(spark, Tables.embeddings(spark, dir), "vec_id")
    val dims = e.select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
    // plane weight table: Planes × 64 dims, generated not stored
    val planes = spark.range(Planes).select(col("id").cast("int").as("plane"))
      .crossJoin(spark.range(64).select(col("id").cast("int").as("dim")))
      .select(col("plane"), col("dim"), Vectors.planeWeight(col("plane"), col("dim")).as("w"))
    val sigBits = dims.join(broadcast(planes), Seq("dim"))
      .groupBy(col("vec_id"), col("plane"))
      .agg(sum(col("x").cast("double") * col("w")).as("proj"))
      .withColumn("bit", when(col("proj") >= 0, 1L).otherwise(0L))
    val buckets = sigBits.groupBy(col("vec_id"))
      .agg(sum(col("bit") * pow(lit(2.0), col("plane")).cast("long")).cast("long").as("bucket"))
    // bucket_size via groupBy + broadcast join back, not a per-bucket
    // window: a window partitioned on the bucket key sorts the hottest
    // bucket on one task, while the groupBy partial-aggregates map-side
    // and the size frame is at most 2^Planes rows — skew-proof.
    val sizes = buckets.groupBy(col("bucket")).agg(count(lit(1)).as("bucket_size"))
    buckets.join(broadcast(sizes), Seq("bucket"))
      .select(col("vec_id"), col("bucket"), col("bucket_size"))
  }

  /** k-NN join with label-free buckets: for probe vectors (vec_id < 20),
    * top-5 neighbors by cosine among candidates sharing ANY of each
    * side's 2 nearest k-means cells (multi-probe assignment — the same
    * boundary-recall trick as dedup_embedding). The pairwise stage is
    * bounded by cell population (~sqrt(n) via [[cellCount]]), never the
    * full cross join.
    */
  def knnJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, cents) = cellIndex(spark, dir, probes = 2)
    val probesDf = Tables.embeddings(spark, dir).filter(col("vec_id") < 20)
      .select(col("vec_id").as("q"), col("embedding").as("qv"))
    // probe-side cell selection at QUERY time against the k-row cached
    // centroid table (the ANN client's planning step — never a lookup
    // into the n-row assignment frame): same kernel ([[centroidD2]])
    // and tie-break (d² asc, cell asc) as [[flatAssign]], so the 2
    // cells per probe equal the stored assignment's; collected
    // driver-side as 2Q literal (q, cell) pairs.
    val qPairs = cents.crossJoin(broadcast(probesDf))
      .withColumn("d2", Vectors.sqDist(col("qv"), col("centroid")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q")).orderBy(col("d2"), col("cell"))))
      .filter(col("rk") <= 2)
      .select(col("q"), col("cell").cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val pairsDf = qPairs.toSeq.toDF("q", "cell")
    val probedCells = qPairs.map(_._2).distinct.toSeq
    // neighbor candidates from the PRUNED multi-probe layout: only the
    // probed cells' directories are read (≤2Q of k — at corpus scale k
    // grows as √n, so this is the difference between a probe and a
    // corpus scan); embeddings ride along in the layout, so no join
    // back to the corpus table
    val nbrs = ivfLayout(spark, dir, probes = 2)
      .filter(col("cell").isin(probedCells: _*))
      .select(col("cell"), col("vec_id").as("n"), col("embedding").as("nv"))
    val qn = probesDf.withColumn("qn", Vectors.norm(col("qv")))
    val scoredRows = broadcast(pairsDf).join(nbrs, Seq("cell"))
      .filter(col("q") =!= col("n"))
      .join(broadcast(qn), Seq("q"))
      .select(col("q"), col("n"),
        round(Vectors.dot(col("qv"), col("nv")) / (col("qn") * Vectors.norm(col("nv"))), 4).as("cos"))
    // a pair can meet in up to 2 shared cells — max() collapses the
    // duplicate identical scores (the old distinct-then-join, without
    // the full-corpus embedding join it needed)
    val scored = scoredRows.groupBy(col("q"), col("n")).agg(max(col("cos")).as("cos"))
    val w = Window.partitionBy(col("q")).orderBy(col("cos").desc, col("n"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .orderBy(col("q"), col("rk"))
  }

  /** k-NN label prediction over the bounded [[knnJoin]]: majority vote
    * of each probe's top-5 neighbors' labels (ties break to the
    * smaller label — deterministic), next to the probe's own label for
    * an accuracy readout. This is the label-propagation / weak-
    * annotation step a curation pipeline runs over an embedding store;
    * the added cost over the k-NN join is one map-side-combinable
    * count per (probe, label) and a min(struct) argmax — no windows,
    * nothing scales beyond the k·probes vote rows.
    */
  def knnClassify(spark: SparkSession, dir: String): DataFrame = {
    val labels = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
    val votes = knnJoin(spark, dir)
      .join(labels.select(col("vec_id").as("n"), col("label").as("nl")), Seq("n"))
      .groupBy(col("q"), col("nl")).agg(count(lit(1)).as("votes"))
    val pred = votes.groupBy(col("q"))
      .agg(min(struct(negate(col("votes")).as("nv"), col("nl").as("nl"))).as("mv"))
      .select(col("q"), col("mv.nl").as("pred_label"), negate(col("mv.nv")).as("votes"))
    pred.join(labels.select(col("vec_id").as("q"), col("label").as("true_label")), Seq("q"))
      .select(col("q"), col("true_label"), col("pred_label"), col("votes"))
      .orderBy(col("q"))
  }

  /** Incremental ANN-index maintenance — the vector twin of
    * dedup_incremental's batch-vs-corpus pattern (Dedup.scala
    * incrementalCandidates): the coarse quantizer is built ONCE on the
    * stored corpus; a new vector batch is assigned to the EXISTING
    * centroids with the map-side aggregate and appended to the cell
    * lists — never a full rebuild. At 100 TB this is the daily
    * operation of an embedding store: one broadcast of k centroids +
    * one map-side aggregate over just the batch, then an append. The
    * merged cells are not re-split: a cell grows with its batch
    * assignments until the corpus index is rebuilt. Probing the merged
    * index is byte-identical to ann_ivf's probe. vec_id % 10 == 0 plays
    * the incoming batch (the same split convention as dedup_incremental).
    */
  def annIncremental(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val corpus = e.filter(col("vec_id") % 10 =!= 0).select(col("vec_id"), col("embedding"))
    val batch = e.filter(col("vec_id") % 10 === 0).select(col("vec_id"), col("embedding"))
    val (corpusCells, cents) =
      graft.sources.IndexCache.getOrBuild(spark, "kmeans_inc_corpus", dir) {
        val n = corpus.count()
        kmeansOn(corpus, k = cellCount(n), iters = 1, probes = 1)
      }
    val newCells = assignToCells(batch, cents, probes = 1)
    val merged = corpusCells.select(col("vec_id"), col("cell"))
      .union(newCells.select(col("vec_id"), col("cell")))
    val q = queryVec(spark, dir)
    val probed = cents.crossJoin(broadcast(q))
      .select(col("cell"), Vectors.cosineExpr(col("centroid"), col("qv")).as("ccos"))
      .orderBy(col("ccos").desc, col("cell")).limit(2).select(col("cell"))
    merged.join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= QueryVecId)
      .join(e, Seq("vec_id"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        round(Vectors.cosine(col("embedding"), col("qv")), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
  }

  /** Deterministic Lloyd's k-means over the embedding column: initial
    * centroids are the first k vectors by vec_id (no RNG), then
    * `iters` assign/update rounds. Each round is one broadcast of k×d
    * centroids + one shuffle-free map (assignment) + one groupBy
    * (update) — the standard scalable formulation.
    *
    * Returns (assignments, centroids): assignments = (vec_id, cell),
    * centroids = (cell, centroid: Array[Double]).
    */
  /** @param probes in the returned assignment, each vector carries its
    *   `probes` nearest cells (rank 1 = nearest). Multi-probe assignment
    *   is the IVF trick for recall at cluster boundaries: a vector near
    *   the edge of two cells lands in both, so near-dup pairs split by
    *   a boundary still meet in one bucket.
    */
  /** d²(embedding, centroid) via the native fused kernel
    * ([[Vectors.sqDist]]) — bit-identical summation order to the
    * zip_with+aggregate form, but whole-stage-codegen'd: the
    * interpreted HOF pair was the measured straggler on few-split
    * scans at sf10.
    */
  private def centroidD2: Column = Vectors.sqDist(col("embedding"), col("centroid"))

  /** Centroid count above which [[assignToCells]] switches to the
    * two-level (coarse-then-fine) lookup: past ~4096 centroids the flat
    * path's broadcast table and its n×k distance work both stop
    * scaling (k = √(n/16) crosses 4096 at n ≈ 268M vectors).
    */
  private[graft] val TwoLevelK = 4096L

  /** Multi-probe nearest-cell assignment as a map-side-combinable
    * aggregate: the bounded `probes`-entry heap ([[graft.expressions.TopKIds]]
    * on -d²) partial-aggregates per input partition, so only one partial
    * row per vector reaches the shuffle. The per-vector `row_number`
    * window this replaces shuffled all n×k candidate rows — with
    * k = √(n/16) ([[cellCount]]) that is O(n^1.5) shuffled rows at
    * corpus scale (~8×10¹² rows at n=10⁹). Ties on d² break cell-asc,
    * identical to the window's orderBy(d2, cell). Package-private so
    * the plan-shape spec can assert partial-aggregate-before-exchange
    * and no Window on the executed plan.
    *
    * Past [[TwoLevelK]] centroids the flat broadcast is the wrong
    * plan (a >2 MB, growing side table and n×k distance evaluations) —
    * the call dispatches to [[assignToCellsTwoLevel]], the IVF-in-IVF
    * coarse quantization of the centroid table itself. Callers that
    * already know the centroid count ([[kmeansOn]], the incremental
    * path — k always comes from [[cellCount]]) pass it via `k` so the
    * dispatch is free; only a caller handing over an opaque centroid
    * frame pays a count action (which re-executes the frame's lineage
    * if it is not materialized — pass k instead).
    */
  private[graft] def assignToCells(e: DataFrame, centroids: DataFrame, probes: Int,
      twoLevelK: Long = TwoLevelK, k: Long = -1L): DataFrame = {
    val kk = if (k >= 0) k else centroids.count()
    if (kk > twoLevelK)
      assignToCellsTwoLevel(e, centroids, probes, k = kk)
    else flatAssign(e, centroids, probes)
  }

  private def flatAssign(e: DataFrame, centroids: DataFrame, probes: Int): DataFrame =
    e.crossJoin(broadcast(centroids))
      .withColumn("d2", centroidD2)
      .groupBy(col("vec_id"))
      .agg(Vectors.topKIds(negate(col("d2")), col("cell").cast("long"), probes).as("nearest"))
      .select(col("vec_id"), posexplode(col("nearest")).as(Seq("pos", "cellL")))
      .select(col("vec_id"), col("cellL").cast("int").as("cell"),
        (col("pos") + 1).cast("int").as("rk"))

  /** Two-level (coarse → fine) multi-probe assignment for the big-k
    * regime: cluster the CENTROID TABLE under √k coarse seeds (first-√k
    * by cell id, one exact k×√k assignment — tiny), assign each vector
    * to its `coarseProbes` nearest coarse cells (n×√k work, √k-row
    * broadcast), then rank only the fine centroids inside the probed
    * coarse cells (≈ n·coarseProbes·√k candidate rows through a
    * cell-keyed shuffle join — never n×k, and no k-row broadcast
    * anywhere). Total distance work O(n·(1+coarseProbes)·√k) vs the
    * flat path's O(n·k). Approximate at coarse boundaries exactly the
    * way IVF probing is; coarseProbes widens recall. Output schema and
    * tie-break (d² then cell asc) identical to [[flatAssign]] — with
    * coarseProbes = √k (probe everything) the two paths are
    * row-identical (KMeansSpec).
    */
  private[graft] def assignToCellsTwoLevel(e: DataFrame, centroids: DataFrame,
      probes: Int, coarseProbes: Int = 2, k: Long = -1L): DataFrame = {
    val kk = if (k >= 0) k else centroids.count()
    val kc = math.max(2, math.ceil(math.sqrt(kk.toDouble)).toInt)
    // pinned: several consumers (the fine→coarse map and the vector probe)
    val coarse = centroids.orderBy(col("cell")).limit(kc)
      .select(col("cell").as("ccell"), col("centroid").as("ccentroid"))
      .pin()
    // fine centroid → coarse cell (exact nearest, k×√k)
    val fineToCoarse = centroids.crossJoin(broadcast(coarse))
      .withColumn("d2", Vectors.sqDist(col("centroid"), col("ccentroid")))
      .groupBy(col("cell")).agg(min(struct(col("d2"), col("ccell"))).as("mc"))
      .select(col("cell"), col("mc.ccell").as("ccell"))
    // vector → coarse probes (flat against the √k-row coarse table; the
    // coarse centroid ids are fine-cell ids, so reuse the flat kernel)
    val vCoarse = flatAssign(e,
      coarse.select(col("ccell").cast("int").as("cell"), col("ccentroid").as("centroid")),
      coarseProbes)
      .select(col("vec_id"), col("cell").as("ccell"))
    // candidates = fine centroids of the probed coarse cells; rank with
    // the same bounded heap and tie-break as the flat path
    vCoarse.join(fineToCoarse, Seq("ccell"))
      .join(e, Seq("vec_id"))
      .join(centroids, Seq("cell"))
      .withColumn("d2", centroidD2)
      .groupBy(col("vec_id"))
      .agg(Vectors.topKIds(negate(col("d2")), col("cell").cast("long"), probes).as("nearest"))
      .select(col("vec_id"), posexplode(col("nearest")).as(Seq("pos", "cellL")))
      .select(col("vec_id"), col("cellL").cast("int").as("cell"),
        (col("pos") + 1).cast("int").as("rk"))
  }

  def kmeans(spark: SparkSession, dir: String, k: Int, iters: Int, probes: Int = 1): (DataFrame, DataFrame) =
    kmeansOn(Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
      k, iters, probes)

  /** [[kmeans]] over an arbitrary (vec_id, embedding) frame — the form
    * the incremental index path needs, where the quantizer is built on
    * the stored corpus only. Seeds are the k smallest vec_ids (a
    * TakeOrdered of a k-row frame; on the dense-id full corpus this is
    * identical to the `vec_id < k` filter the oracle mirrors).
    */
  private[graft] def kmeansOn(e0: DataFrame, k: Int, iters: Int, probes: Int = 1): (DataFrame, DataFrame) = {
    // a large corpus parquet can collapse to fewer splits than cores
    // (200k × 64-float vectors ≈ 50 MB = 1-2 splits at sf10), which
    // would serialize the n×k assignment onto one task — spread it
    // before the CPU-bound distance kernels
    val e = Tables.parallelized(e0.sparkSession, e0, "vec_id").persist()
    // assign (Lloyd rounds): nearest centroid via min(struct(d2, cell,
    // embedding)) — map-side combinable like [[pqIndex]]'s encoder; cell
    // ids are unique per vector so the (d2, cell) prefix always decides
    // the min before the carried embedding field is ever compared.
    def assign(centroids: DataFrame): DataFrame =
      e.crossJoin(broadcast(centroids))
        .withColumn("d2", centroidD2)
        .groupBy(col("vec_id"))
        .agg(min(struct(col("d2"), col("cell"), col("embedding"))).as("mc"))
        .select(col("vec_id"), col("mc.cell").as("cell"), col("mc.embedding").as("embedding"))
    try {
      // init: first k vectors (deterministic), read straight off the
      // persisted input. Each UPDATED centroid table is a tiny k×d
      // frame, pinned so per-iteration lineage never compounds and the
      // final plans don't re-run every Lloyd round.
      var centroids = e.orderBy(col("vec_id")).limit(k)
        .select(col("vec_id").cast("int").as("cell"),
          transform(col("embedding"), x => x.cast("double")).as("centroid"))
      for (_ <- 1 to iters) {
        // update: per-dimension means
        centroids = assign(centroids)
          .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "x")))
          .groupBy(col("cell"), col("dim")).agg(avg(col("x").cast("double")).as("m"))
          .groupBy(col("cell"))
          .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
          .select(col("cell"), transform(col("dm"), s => s.getField("m")).as("centroid"))
          .pin()
      }
      val finalAssign = assignToCells(e, centroids, probes, k = k)
        .pin()
      // with zero iterations the centroid frame is still lazy over the
      // about-to-be-released input — pin it so both outputs are safe
      val outCentroids = if (iters == 0) centroids.pin() else centroids
      (finalAssign, outCentroids)
    } finally e.unpersist() // both outputs are materialized: safe to release
  }

  /** Top principal component of the embedding corpus by distributed
    * power iteration — the spectral readout (dominant direction +
    * explained-variance share) every embedding-quality audit starts
    * with. The scale shape is the classic two-pass Gram pattern
    * (RowMatrix.computeGramianMatrix's treeAggregate, reimplemented on
    * Dataset): pass 1 aggregates the per-dimension means; pass 2
    * accumulates the centered upper-triangle outer products INTO A
    * d²-double array per partition — tight local loops, so the work is
    * n·d² FLOPs but the shuffle is partitions·d² values and nothing
    * row-shaped ever materializes (the first cut's vec_id self-join
    * pushed 20M join rows at sf0.1 and would push n·d² at 100 TB).
    * The d² reduce lands on the driver (constant-size, like the
    * keyset-page collects), and three normalized power steps +
    * Rayleigh quotient + trace run as local d×d arithmetic (the
    * MLlib computePrincipalComponents split: distributed Gram, local
    * eigensolve) — free at any corpus size, zero scheduler round-trips.
    *
    * NOTE (round-8 ADVICE): unlike every other query in the pack, this
    * one executes driver-side actions during DataFrame CONSTRUCTION
    * (the d-row mean collect and the partitions·d² Gram reduce) — a
    * caller that merely builds the plan still pays the full two-pass
    * Gram cost. Degenerate inputs return an EMPTY frame with the
    * output schema instead of throwing / NaN: an empty embeddings
    * table (no rows to decompose) and a zero-variance corpus (trace 0
    * — the power step's norm would be 0/0).
    */
  /** The centered covariance (Gram/n) of the snapshot's embeddings as a
    * DRIVER-SIDE d×d array (row-major, full symmetric), built by the
    * two-pass partition-accumulated pattern described at [[embedPca]]
    * and shared with [[embedPcaTopK]] / [[embedAbtt]]. Returns None for
    * the degenerate corpora (empty table, zero variance) the callers
    * surface as an empty result. Cached per snapshot
    * ([[graft.sources.IndexCache]]) so the spectral queries pay the
    * corpus passes once.
    *
    * Everything downstream of the corpus passes is O(d²) = 64×64
    * doubles — CONSTANT in corpus size — so the power iteration runs on
    * the driver (the same split MLlib's RowMatrix.computePrincipalComponents
    * uses: distributed Gram accumulation, local eigensolve). The r14
    * form ran the iterations as d²-row DataFrames with per-step eager
    * checkpoints: ~15 scheduler round-trips of kilobyte jobs per
    * execution, which made embed_pca_topk the #2 key of the quiet sf0.1
    * surface (3.67s) despite touching no corpus data after the cache.
    */
  private def gramFrame(spark: SparkSession, dir: String)
      : Option[(Array[Double], Int, Array[Double])] =
    graft.sources.IndexCache.getOrBuild(spark, "pca_gram_arr", dir) {
      import spark.implicits._
      val emb = Tables.embeddings(spark, dir)
      val vecs = emb
        .select(transform(col("embedding"), x => x.cast("double")).as("v")).as[Seq[Double]]
      // pass 1: per-dimension sums + row count in ONE aggregate
      // (d rows collected — constant-size)
      val meanRows = emb
        .select(posexplode(transform(col("embedding"), x => x.cast("double"))).as(Seq("i", "x")))
        .groupBy(col("i")).agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
        .orderBy(col("i")).collect()
      if (meanRows.isEmpty) None
      else {
        val n = meanRows.head.getAs[Long]("n")
        val meanArr: Array[Double] = meanRows.map(_.getAs[Double]("sx") / n)
        val d = meanArr.length
        // the DuckDB oracles hardcode 64 dims (generate_series(1,64),
        // v0 = 1/8) — fail LOUDLY at the source if the corpus width
        // ever drifts, instead of an inscrutable gate hash mismatch
        require(d == 64, s"embed_pca expects 64-dim embeddings (oracle is pinned to 64), got d=$d")
        val bcMean = spark.sparkContext.broadcast(meanArr)
        // pass 2: partition-local centered Gram accumulation (upper triangle)
        val partials = vecs.mapPartitions { it =>
          val m = bcMean.value
          val dd = m.length
          val acc = new Array[Double](dd * dd)
          val c = new Array[Double](dd)
          it.foreach { v =>
            var i = 0
            while (i < dd) { c(i) = v(i) - m(i); i += 1 }
            i = 0
            while (i < dd) {
              val ci = c(i); var j = i
              while (j < dd) { acc(i * dd + j) += ci * c(j); j += 1 }
              i += 1
            }
          }
          Iterator.single(acc)
        }
        val tot = partials.reduce { (a, b) =>
          val r = new Array[Double](a.length)
          var k = 0; while (k < a.length) { r(k) = a(k) + b(k); k += 1 }; r
        }
        // zero-variance corpus: every centered entry is 0, the power
        // step's norm would be 0 and the loadings NaN — empty sentinel
        if (!tot.exists(_ != 0.0)) None
        else {
          val g = new Array[Double](d * d)
          for (i <- 0 until d; j <- 0 until d)
            g(i * d + j) = (if (i <= j) tot(i * d + j) else tot(j * d + i)) / n.toDouble
          Some((g, d, meanArr))
        }
      }
    }

  /** v ← G·v (local d×d multiply). */
  private def matVec(g: Array[Double], d: Int, v: Array[Double]): Array[Double] = {
    val mv = new Array[Double](d)
    var i = 0
    while (i < d) {
      var s = 0.0; var j = 0
      while (j < d) { s += g(i * d + j) * v(j); j += 1 }
      mv(i) = s; i += 1
    }
    mv
  }

  /** One normalized power step v ← G·v / ‖G·v‖, driver-side. */
  private def powerStep(g: Array[Double], d: Int, v: Array[Double]): Array[Double] = {
    val mv = matVec(g, d, v)
    val nrm = math.sqrt(mv.map(x => x * x).sum)
    mv.map(_ / nrm)
  }

  /** Three power steps from the uniform start — the iteration count the
    * DuckDB oracle unrolls statically.
    */
  private def threeSteps(g: Array[Double], d: Int): Array[Double] = {
    val v0 = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    powerStep(g, d, powerStep(g, d, powerStep(g, d, v0)))
  }

  /** Spark's round(x + 1e-9, 4): scala BigDecimal HALF_UP, exactly the
    * arithmetic Catalyst's Round performs on DoubleType — keeps the
    * driver-side spectral path byte-identical to the old DataFrame form.
    */
  private def r4(x: Double): Double =
    BigDecimal(x + 1e-9).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def emptyPca(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Int, Double, Double, Double)]
      .toDF("i", "loading", "eigval", "var_share")
  }

  def embedPca(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    gramFrame(spark, dir) match {
      case None => emptyPca(spark)
      case Some((g, d, _)) =>
        val v3 = threeSteps(g, d)
        val mv4 = matVec(g, d, v3)
        val lam = (0 until d).map(i => v3(i) * mv4(i)).sum
        val tr = (0 until d).map(i => g(i * d + i)).sum
        (0 until d).map(i => (i, r4(v3(i)), r4(lam), r4(lam / tr)))
          .toDF("i", "loading", "eigval", "var_share")
    }
  }

  private[graft] val PcaK = 3

  /** Top-[[PcaK]] principal components by DEFLATED power iteration on
    * the shared partition-accumulated gram ([[gramFrame]]) — the
    * rank-k spectral audit an embedding pipeline actually wants
    * (rank-1 says "there is a dominant direction"; rank-k says how
    * concentrated the representation is). Component c runs the same
    * three normalized power steps as [[embedPca]] from the uniform
    * start vector, takes its Rayleigh eigenvalue, then DEFLATES:
    * G ← G − λ_c·v_c·v_cᵀ (Hotelling deflation), so the next
    * iteration converges toward the next eigenvector. Everything past
    * the corpus passes is local d×d arithmetic on the driver — free at
    * any corpus size; the oracle unrolls the identical iterations
    * statically ([[pcaTopkSql]]).
    */
  def embedPcaTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    gramFrame(spark, dir) match {
      case None =>
        Seq.empty[(Int, Int, Double, Double, Double)]
          .toDF("comp", "i", "loading", "eigval", "var_share")
      case Some((g0, d, _)) =>
        val tr = (0 until d).map(i => g0(i * d + i)).sum
        val g = g0.clone() // deflation mutates — never the cached copy
        val rows = (1 to PcaK).flatMap { c =>
          val v3 = threeSteps(g, d)
          val mv4 = matVec(g, d, v3)
          val lam = (0 until d).map(i => v3(i) * mv4(i)).sum
          // Hotelling deflation G ← G − λ·v·vᵀ
          for (i <- 0 until d; j <- 0 until d)
            g(i * d + j) -= lam * v3(i) * v3(j)
          (0 until d).map(i => (c, i, r4(v3(i)), r4(lam), r4(lam / tr)))
        }
        rows.toDF("comp", "i", "loading", "eigval", "var_share")
    }
  }

  /** "All-but-the-top" embedding post-processing (Mu & Viswanath, ICLR
    * 2018): subtract the corpus mean, then remove each vector's
    * projection on the top principal component — the standard
    * correction for the common-direction artifact that makes raw
    * embedding cosines under-discriminative (every pair looks similar
    * because every vector shares the dominant component). The query
    * re-runs the standard top-10 retrieval (query = vec 0) in the
    * CORRECTED space, with the raw cosine alongside — the before/after
    * readout of the correction.
    *
    * Scale shape: mean and v1 come off the shared per-snapshot cached
    * Gram ([[gramFrame]] — the same two corpus passes embed_pca pays,
    * amortized), collected as d-length literals; the corrected cosine
    * then never MATERIALIZES x' — because v1 is unit,
    *   x'·q' = (x−μ)·q' and ‖x'‖² = ‖x−μ‖² − p² with p = (x−μ)·v1,
    * so the whole per-vector cost is FOUR fused native dot kernels
    * against fixed vectors (x·x, x·v1, x·q_c, x·μ) plus scalar
    * arithmetic — all inside whole-stage codegen, one corpus scan,
    * broadcast-free (the round-10 rewrite of the first-cut
    * zip_with/aggregate form, whose interpreted per-element lambdas
    * measured 72.6s at sf10; the algebraic form is ann_bruteforce plus
    * three dots). Like embed_pca, building the plan executes the Gram
    * passes driver-side (documented there).
    */
  def embedAbtt(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    gramFrame(spark, dir) match {
      case None =>
        Seq.empty[(Long, Int, Double, Double)]
          .toDF("vec_id", "label", "cos_raw", "cos_abtt")
      case Some((g, d, meanArr)) =>
        val v1 = threeSteps(g, d)
        val qRaw = Tables.embeddings(spark, dir).filter(col("vec_id") === QueryVecId)
          .select(col("embedding")).head().getSeq[Float](0)
        // query-side constants, driver-side (d doubles each)
        val qc = qRaw.indices.map(i => qRaw(i).toDouble - meanArr(i)).toArray
        val pq = qc.indices.map(i => qc(i) * v1(i)).sum
        val qa = qc.indices.map(i => qc(i) - pq * v1(i))
        val nqa = math.sqrt(qa.map(x => x * x).sum)
        val c1 = meanArr.indices.map(i => meanArr(i) * v1(i)).sum // μ·v1
        val c2 = meanArr.indices.map(i => meanArr(i) * qc(i)).sum // μ·q_c
        val nmu2 = meanArr.map(x => x * x).sum                    // ‖μ‖²
        val e = Tables.embeddings(spark, dir).filter(col("vec_id") =!= QueryVecId)
          .withColumn("dxx", Vectors.dot(col("embedding"), col("embedding")))
          .withColumn("p", Vectors.dot(col("embedding"), typedlit(v1.toSeq)) - lit(c1))
          .withColumn("xcqc", Vectors.dot(col("embedding"), typedlit(qc.toSeq)) - lit(c2))
          .withColumn("dxm", Vectors.dot(col("embedding"), typedlit(meanArr.toSeq)))
        // ‖x'‖² = ‖x−μ‖² − p²; fp can drive an exactly-v1-parallel
        // vector a hair negative — clamp, and a zero norm is NULL (no
        // direction), matching the cosine kernels' contract
        val nxp2 = greatest(col("dxx") - lit(2.0) * col("dxm") + lit(nmu2) -
          col("p") * col("p"), lit(0.0))
        val den = sqrt(nxp2) * lit(nqa)
        val cosAbtt = when(den === 0.0, lit(null))
          .otherwise((col("xcqc") - col("p") * lit(pq)) / den)
        e.select(col("vec_id"), col("label"),
          round(Vectors.cosine(col("embedding"), typedlit(qRaw)) + lit(1e-9), 4).as("cos_raw"),
          round(cosAbtt + lit(1e-9), 4).as("cos_abtt"))
          .orderBy(col("cos_abtt").desc, col("vec_id"))
          .limit(10)
    }
  }

  /** Scale bands: the IVF family probes the WRITTEN cell-partitioned
    * layout with planning-time `cell IN (...)` pruning — flat probes
    * (certified ~1x/decade since r12). `ann_incremental` assigns a
    * fixed-size batch to the existing codebook. NOT the contrast
    * baselines (`ann_bruteforce_topk`/`ann_int8_topk`/`ann_pq`/
    * `ann_lsh_bucket`/`ann_recall`, `knn_*`): those scan the corpus by
    * design and grade linear. The PCA family reduces to a d x d Gram
    * on a cached frame — sublinear per decade.
    */
  override def bands: Map[String, String] = (Seq(
    "ann_ivf", "ann_ivf_persisted", "ann_ivfpq", "ann_multiquery",
    "ann_filtered", "ann_range", "ann_incremental")
    .map(_ -> graft.Band.Probe) ++ Seq(
    "embed_pca", "embed_pca_topk", "embed_abtt")
    .map(_ -> graft.Band.Sublin)).toMap

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_pca" -> (embedPca _),
    "embed_pca_topk" -> (embedPcaTopK _),
    "embed_abtt" -> (embedAbtt _),
    "ann_bruteforce_topk" -> (annBruteForce _),
    "ann_int8_topk" -> (annInt8 _),
    "ann_pq" -> (annPq _),
    "ann_ivf" -> (annIvf _),
    "ann_ivf_persisted" -> (annIvfPersisted _),
    "ann_lsh_bucket" -> (annLshBucket _),
    "ann_incremental" -> (annIncremental _),
    "ann_ivfpq" -> (annIvfPq _),
    "ann_recall" -> (annRecall _),
    "ann_range" -> (annRange _),
    "ann_multiquery" -> (annMultiQuery _),
    "ann_filtered" -> (annFiltered _),
    "knn_join" -> (knnJoin _),
    "knn_classify" -> (knnClassify _))

  /** DuckDB twin of [[kmeans]] (k = [[cellCount]] derived in SQL, one
    * Lloyd round, first-k seeds): a WITH-clause fragment defining
    * `cents` (cell, centroid DOUBLE[]) and `cells` (vec_id, cell — one
    * row per assignment up to `probes`). Shared by the Similarity and
    * Dedup oracles so every kmeans-bucketed query is gated against the
    * identical quantizer.
    */
  def kmeansCellsSql(probes: Int): String =
    s"""kp AS (
       |  SELECT greatest(8, CAST(ceil(sqrt(count(*) / 16.0)) AS BIGINT)) AS k FROM embeddings),
       |seeds AS (
       |  SELECT vec_id AS cell, embedding FROM embeddings WHERE vec_id < (SELECT k FROM kp)),
       |a0 AS (
       |  SELECT e.vec_id, s.cell, e.embedding,
       |   row_number() OVER (PARTITION BY e.vec_id
       |     ORDER BY list_distance(e.embedding::DOUBLE[], s.embedding::DOUBLE[]), s.cell) AS rk
       |  FROM embeddings e, seeds s),
       |asg0 AS (SELECT vec_id, cell, embedding FROM a0 WHERE rk = 1),
       |dims AS (
       |  SELECT cell, i.i AS dim, avg(embedding[i.i + 1]::DOUBLE) AS m
       |  FROM asg0, (SELECT unnest(generate_series(0, 63)) AS i) i
       |  GROUP BY cell, i.i),
       |cents AS (SELECT cell, list(m ORDER BY dim) AS centroid FROM dims GROUP BY cell),
       |a1 AS (
       |  SELECT e.vec_id, c.cell,
       |   row_number() OVER (PARTITION BY e.vec_id
       |     ORDER BY list_distance(e.embedding::DOUBLE[], c.centroid), c.cell) AS rk
       |  FROM embeddings e, cents c),
       |cells AS (SELECT vec_id, cell FROM a1 WHERE rk <= $probes)""".stripMargin

  /** DuckDB twin of [[boundedCellIndex]]: [[kmeansCellsSql]] filtered to
    * the min-vec_id representative of each distinct embedding, plus
    * [[SplitRounds]] statically-unrolled midpoint-split rounds (the
    * Scala side exits early when no cell is oversized; a no-op round's
    * ×2 id remap preserves co-membership, so both engines agree on
    * every within-cell pair). Final CTE: `bcells` (vec_id, cell). Both
    * the split dimension (max−min range) and the threshold
    * ((min+max)/2 midpoint) are exact order-independent float
    * arithmetic — bit-identical across engines by construction, with
    * no dependence on aggregation order.
    */
  def boundedCellsSql(probes: Int, bound: Int = CellBound,
      rounds: Int = SplitRounds): String = {
    // MATERIALIZED: each round references its predecessor three times
    // and the embedding table twice more — inlined CTEs would re-scan
    // the parquet ~FDs × threads × rounds deep (measured: FD
    // exhaustion at 12 rounds) and re-expand the round chain.
    val blocks = (1 to rounds).map { i =>
      val p = if (i == 1) "bc0" else s"c${i - 1}"
      s"""ov$i AS MATERIALIZED (SELECT cell FROM $p GROUP BY cell HAVING count(*) > $bound),
         |st$i AS (
         | SELECT c.cell, d.dim, max(e.emb[d.dim + 1]) - min(e.emb[d.dim + 1]) AS spread,
         |  (min(e.emb[d.dim + 1]) + max(e.emb[d.dim + 1])) / 2 AS m
         | FROM $p c JOIN ov$i o ON o.cell = c.cell
         |  JOIN bemb e ON e.vec_id = c.vec_id,
         |  LATERAL (SELECT unnest(generate_series(0, 63)) AS dim) d
         | GROUP BY 1, 2),
         |bs$i AS (
         | SELECT cell, dim AS sdim, m FROM (
         |  SELECT cell, dim, m,
         |   row_number() OVER (PARTITION BY cell ORDER BY spread DESC, dim) AS rk
         |  FROM st$i) WHERE rk = 1),
         |c$i AS MATERIALIZED (
         | SELECT c.vec_id,
         |  CAST(c.cell * 2 + CASE WHEN e.emb[b.sdim + 1] > b.m THEN 1 ELSE 0 END AS INT) AS cell
         | FROM $p c JOIN bs$i b ON b.cell = c.cell
         |  JOIN bemb e ON e.vec_id = c.vec_id
         | UNION ALL
         | SELECT vec_id, CAST(cell * 2 AS INT) AS cell FROM $p
         | WHERE cell NOT IN (SELECT cell FROM ov$i))""".stripMargin
    }.mkString(",\n")
    s"""${kmeansCellsSql(probes)},
       |bemb AS MATERIALIZED (
       | SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |brep AS MATERIALIZED (
       | SELECT min(vec_id) AS vec_id FROM embeddings GROUP BY embedding),
       |bc0 AS (SELECT c.vec_id, c.cell FROM cells c JOIN brep USING (vec_id)),
       |$blocks,
       |bcells AS (SELECT vec_id, cell FROM c$rounds)""".stripMargin
  }

  /** DuckDB twin of [[embedPcaTopK]]: the embed_pca oracle's gram CTE,
    * then per component the SAME three unrolled power steps + Rayleigh
    * eigenvalue + a Hotelling deflation CTE feeding the next component
    * — generated with a loop exactly like the Scala side runs it.
    */
  private[graft] def pcaTopkSql: String = {
    // every CTE MATERIALIZED: DuckDB inlines CTEs by default, and the
    // deflation chain references each stage several times — inlined,
    // the expansion is multiplicative per component (the same plan
    // blowup the Scala side prevents by pinning)
    val comps = (1 to PcaK).map { c =>
      val steps = (1 to 3).map { s =>
        val prev = if (s == 1) "v0" else s"v${c}_${s - 1}"
        s"""mv${c}_$s AS MATERIALIZED (SELECT g.i, sum(cv * vj) AS mvi FROM g$c g JOIN $prev v ON g.j = v.j GROUP BY 1),
           |n${c}_$s AS MATERIALIZED (SELECT sqrt(sum(mvi * mvi)) AS nrm FROM mv${c}_$s),
           |v${c}_$s AS MATERIALIZED (SELECT i AS j, mvi / nrm AS vj FROM mv${c}_$s, n${c}_$s)""".stripMargin
      }.mkString(",\n")
      s"""$steps,
         |mv${c}_4 AS MATERIALIZED (SELECT g.i, sum(cv * vj) AS mvi FROM g$c g JOIN v${c}_3 v ON g.j = v.j GROUP BY 1),
         |lam$c AS MATERIALIZED (SELECT sum(vj * mvi) AS l FROM v${c}_3 v JOIN mv${c}_4 m ON v.j = m.i),
         |g${c + 1} AS MATERIALIZED (
         | SELECT g.i, g.j, g.cv - (SELECT l FROM lam$c) * a.vj * b.vj AS cv
         | FROM g$c g JOIN v${c}_3 a ON a.j = g.i JOIN v${c}_3 b ON b.j = g.j)""".stripMargin
    }.mkString(",\n")
    val union = (1 to PcaK).map(c =>
      s"SELECT $c AS comp, v.j, v.vj, (SELECT l FROM lam$c) AS l FROM v${c}_3 v")
      .mkString("\n UNION ALL ")
    s"""WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
       |e AS (SELECT vec_id, d.i AS i, CAST(embedding[d.i] AS DOUBLE) AS x
       |      FROM embeddings, dims d),
       |m AS (SELECT i, sum(x) / count(*) AS mi FROM e GROUP BY 1),
       |c AS (SELECT vec_id, e.i, x - mi AS xi FROM e JOIN m USING (i)),
       |nn AS (SELECT count(*) AS n FROM embeddings),
       |g1 AS MATERIALIZED (SELECT a.i AS i, b.i AS j, sum(a.xi * b.xi) / (SELECT n FROM nn) AS cv
       |      FROM c a JOIN c b USING (vec_id) GROUP BY 1, 2),
       |v0 AS (SELECT i AS j, 1.0 / 8.0 AS vj FROM dims),
       |$comps,
       |tr AS (SELECT sum(cv) AS t FROM g1 WHERE i = j),
       |allc AS ($union)
       |SELECT comp, CAST(j - 1 AS INT) AS i, round(vj + 1e-9, 4) AS loading,
       | round(l + 1e-9, 4) AS eigval, round(l / t + 1e-9, 4) AS var_share
       |FROM allc, tr ORDER BY comp, i""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "embed_pca_topk" -> pcaTopkSql,
    // dims hardcoded 64 (the corpus width; the Spark side derives it)
    "embed_pca" ->
      """WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
        |e AS (SELECT vec_id, d.i AS i, CAST(embedding[d.i] AS DOUBLE) AS x
        |      FROM embeddings, dims d),
        |m AS (SELECT i, sum(x) / count(*) AS mi FROM e GROUP BY 1),
        |c AS (SELECT vec_id, e.i, x - mi AS xi FROM e JOIN m USING (i)),
        |nn AS (SELECT count(*) AS n FROM embeddings),
        |g AS (SELECT a.i AS i, b.i AS j, sum(a.xi * b.xi) / (SELECT n FROM nn) AS cv
        |      FROM c a JOIN c b USING (vec_id) GROUP BY 1, 2),
        |v0 AS (SELECT i AS j, 1.0 / 8.0 AS vj FROM dims),
        |mv1 AS (SELECT g.i, sum(cv * vj) AS mvi FROM g JOIN v0 ON g.j = v0.j GROUP BY 1),
        |n1 AS (SELECT sqrt(sum(mvi * mvi)) AS nrm FROM mv1),
        |v1 AS (SELECT i AS j, mvi / nrm AS vj FROM mv1, n1),
        |mv2 AS (SELECT g.i, sum(cv * vj) AS mvi FROM g JOIN v1 ON g.j = v1.j GROUP BY 1),
        |n2 AS (SELECT sqrt(sum(mvi * mvi)) AS nrm FROM mv2),
        |v2 AS (SELECT i AS j, mvi / nrm AS vj FROM mv2, n2),
        |mv3 AS (SELECT g.i, sum(cv * vj) AS mvi FROM g JOIN v2 ON g.j = v2.j GROUP BY 1),
        |n3 AS (SELECT sqrt(sum(mvi * mvi)) AS nrm FROM mv3),
        |v3 AS (SELECT i AS j, mvi / nrm AS vj FROM mv3, n3),
        |mv4 AS (SELECT g.i, sum(cv * vj) AS mvi FROM g JOIN v3 ON g.j = v3.j GROUP BY 1),
        |lam AS (SELECT sum(vj * mvi) AS l FROM v3 JOIN mv4 ON v3.j = mv4.i),
        |tr AS (SELECT sum(cv) AS t FROM g WHERE i = j)
        |SELECT CAST(v3.j - 1 AS INT) AS i, round(vj + 1e-9, 4) AS loading,
        | round(l + 1e-9, 4) AS eigval, round(l / t + 1e-9, 4) AS var_share
        |FROM v3, lam, tr ORDER BY i""".stripMargin,
    // same CTE prefix as embed_pca (means, gram, three power steps →
    // v3 = the top component), then the ABTT transform of query and
    // corpus and the corrected cosine retrieval
    "embed_abtt" ->
      """WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
        |e AS (SELECT vec_id, d.i AS i, CAST(embedding[d.i] AS DOUBLE) AS x
        |      FROM embeddings, dims d),
        |m AS (SELECT i, sum(x) / count(*) AS mi FROM e GROUP BY 1),
        |c AS (SELECT vec_id, e.i, x - mi AS xi FROM e JOIN m USING (i)),
        |nn AS (SELECT count(*) AS n FROM embeddings),
        |g AS MATERIALIZED (SELECT a.i AS i, b.i AS j, sum(a.xi * b.xi) / (SELECT n FROM nn) AS cv
        |      FROM c a JOIN c b USING (vec_id) GROUP BY 1, 2),
        |v0 AS (SELECT i AS j, 1.0 / 8.0 AS vj FROM dims),
        |mv1 AS (SELECT g.i, sum(cv * vj) AS mvi FROM g JOIN v0 ON g.j = v0.j GROUP BY 1),
        |n1 AS (SELECT sqrt(sum(mvi * mvi)) AS nrm FROM mv1),
        |v1 AS (SELECT i AS j, mvi / nrm AS vj FROM mv1, n1),
        |mv2 AS (SELECT g.i, sum(cv * vj) AS mvi FROM g JOIN v1 ON g.j = v1.j GROUP BY 1),
        |n2 AS (SELECT sqrt(sum(mvi * mvi)) AS nrm FROM mv2),
        |v2 AS (SELECT i AS j, mvi / nrm AS vj FROM mv2, n2),
        |mv3 AS (SELECT g.i, sum(cv * vj) AS mvi FROM g JOIN v2 ON g.j = v2.j GROUP BY 1),
        |n3 AS (SELECT sqrt(sum(mvi * mvi)) AS nrm FROM mv3),
        |v3 AS MATERIALIZED (SELECT i AS j, mvi / nrm AS vj FROM mv3, n3),
        |qr AS (SELECT i, x FROM e WHERE vec_id = 0),
        |qc AS (SELECT q.i, q.x - m.mi AS xi FROM qr q JOIN m USING (i)),
        |qp AS (SELECT sum(qc.xi * v3.vj) AS p FROM qc JOIN v3 ON v3.j = qc.i),
        |qa AS (SELECT qc.i, qc.xi - (SELECT p FROM qp) * v3.vj AS xi
        |       FROM qc JOIN v3 ON v3.j = qc.i),
        |qn AS (SELECT sqrt(sum(x * x)) AS nr FROM qr),
        |qan AS (SELECT sqrt(sum(xi * xi)) AS na FROM qa),
        |cons AS (SELECT
        |  (SELECT sum(m.mi * v3.vj) FROM m JOIN v3 ON v3.j = m.i) AS c1,
        |  (SELECT sum(m.mi * q.xi) FROM m JOIN qc q ON q.i = m.i) AS c2,
        |  (SELECT sum(mi * mi) FROM m) AS nmu2,
        |  (SELECT p FROM qp) AS pq,
        |  (SELECT na FROM qan) AS nqa),
        |dots AS (
        | SELECT e.vec_id,
        |  sum(e.x * e.x) AS dxx,
        |  sum(e.x * v.vj) AS dxv,
        |  sum(e.x * q.xi) AS dxq,
        |  sum(e.x * m.mi) AS dxm,
        |  sum(e.x * r.x) AS dxr
        | FROM e JOIN v3 v ON v.j = e.i JOIN qc q ON q.i = e.i
        |  JOIN m ON m.i = e.i JOIN qr r ON r.i = e.i
        | WHERE e.vec_id <> 0 GROUP BY 1),
        |cosd AS (
        | SELECT d.vec_id,
        |  d.dxr / (sqrt(d.dxx) * (SELECT nr FROM qn)) AS cr,
        |  ((d.dxq - n.c2) - (d.dxv - n.c1) * n.pq)
        |   / (sqrt(greatest(d.dxx - 2.0 * d.dxm + n.nmu2
        |        - (d.dxv - n.c1) * (d.dxv - n.c1), 0.0)) * n.nqa) AS ca
        | FROM dots d, cons n)
        |SELECT c0.vec_id, l.label,
        | round(cr + 1e-9, 4) AS cos_raw,
        | round(ca + 1e-9, 4) AS cos_abtt
        |FROM cosd c0
        | JOIN (SELECT vec_id, label FROM embeddings) l USING (vec_id)
        |ORDER BY cos_abtt DESC, c0.vec_id LIMIT 10""".stripMargin,
    "ann_pq" ->
      s"""WITH sub AS (
         | SELECT vec_id, m.m AS m,
         |   list_transform(embedding[m.m*$PqSubDim+1 : m.m*$PqSubDim+$PqSubDim], x -> x::DOUBLE) AS sv
         | FROM embeddings, (SELECT unnest(generate_series(0, ${PqM - 1})) AS m) m),
         |seeds AS (SELECT m, CAST(vec_id AS INT) AS cell, sv AS centroid FROM sub WHERE vec_id < $PqK),
         |a0 AS (
         | SELECT s.vec_id, s.m, s.sv, c.cell,
         |  row_number() OVER (PARTITION BY s.vec_id, s.m
         |    ORDER BY list_distance(s.sv, c.centroid), c.cell) AS rk
         | FROM sub s JOIN seeds c USING (m)),
         |asg0 AS (SELECT m, cell, sv FROM a0 WHERE rk = 1),
         |dims AS (
         | SELECT m, cell, i.i AS dim, avg(sv[i.i + 1]) AS v
         | FROM asg0, (SELECT unnest(generate_series(0, ${PqSubDim - 1})) AS i) i
         | GROUP BY 1, 2, 3),
         |cents AS (SELECT m, cell, list(v ORDER BY dim) AS centroid FROM dims GROUP BY 1, 2),
         |a1 AS (
         | SELECT s.vec_id, s.m, c.cell,
         |  row_number() OVER (PARTITION BY s.vec_id, s.m
         |    ORDER BY list_distance(s.sv, c.centroid), c.cell) AS rk
         | FROM sub s JOIN cents c USING (m)),
         |codes AS (SELECT vec_id, m, cell FROM a1 WHERE rk = 1),
         |q AS (SELECT m, sv FROM sub WHERE vec_id = $QueryVecId),
         |dtab AS (
         | SELECT c.m, c.cell, list_distance(q.sv, c.centroid) * list_distance(q.sv, c.centroid) AS qd2
         | FROM cents c JOIN q USING (m)),
         |adc AS (
         | SELECT vec_id, round(sum(qd2) + 1e-9, 4) AS adc_d2
         | FROM codes JOIN dtab USING (m, cell)
         | WHERE vec_id != $QueryVecId GROUP BY vec_id)
         |SELECT a.vec_id, e.label, a.adc_d2
         |FROM adc a JOIN embeddings e USING (vec_id)
         |ORDER BY a.adc_d2, a.vec_id LIMIT 10""".stripMargin,
    "ann_ivfpq" ->
      s"""WITH ${kmeansCellsSql(probes = 1)},
         |q AS (SELECT embedding FROM embeddings WHERE vec_id = $QueryVecId),
         |probed AS (
         | SELECT c.cell FROM cents c, q
         | ORDER BY list_cosine_similarity(c.centroid, q.embedding::DOUBLE[]) DESC, c.cell
         | LIMIT 2),
         |cand AS (
         | SELECT vec_id FROM cells JOIN probed USING (cell)
         | WHERE vec_id <> $QueryVecId),
         |psub AS (
         | SELECT vec_id, m.m AS m,
         |   list_transform(embedding[m.m*$PqSubDim+1 : m.m*$PqSubDim+$PqSubDim], x -> x::DOUBLE) AS sv
         | FROM embeddings, (SELECT unnest(generate_series(0, ${PqM - 1})) AS m) m),
         |pseeds AS (SELECT m, CAST(vec_id AS INT) AS cell, sv AS centroid FROM psub WHERE vec_id < $PqK),
         |pa0 AS (
         | SELECT s.vec_id, s.m, s.sv, c.cell,
         |  row_number() OVER (PARTITION BY s.vec_id, s.m
         |    ORDER BY list_distance(s.sv, c.centroid), c.cell) AS rk
         | FROM psub s JOIN pseeds c USING (m)),
         |pasg0 AS (SELECT m, cell, sv FROM pa0 WHERE rk = 1),
         |pdims AS (
         | SELECT m, cell, i.i AS dim, avg(sv[i.i + 1]) AS v
         | FROM pasg0, (SELECT unnest(generate_series(0, ${PqSubDim - 1})) AS i) i
         | GROUP BY 1, 2, 3),
         |pcents AS (SELECT m, cell, list(v ORDER BY dim) AS centroid FROM pdims GROUP BY 1, 2),
         |pa1 AS (
         | SELECT s.vec_id, s.m, c.cell,
         |  row_number() OVER (PARTITION BY s.vec_id, s.m
         |    ORDER BY list_distance(s.sv, c.centroid), c.cell) AS rk
         | FROM psub s JOIN pcents c USING (m)),
         |pcodes AS (SELECT vec_id, m, cell FROM pa1 WHERE rk = 1),
         |pquery AS (SELECT m, sv FROM psub WHERE vec_id = $QueryVecId),
         |dtab AS (
         | SELECT c.m, c.cell, list_distance(q.sv, c.centroid) * list_distance(q.sv, c.centroid) AS qd2
         | FROM pcents c JOIN pquery q USING (m)),
         |adc AS (
         | SELECT vec_id, round(sum(qd2) + 1e-9, 4) AS adc_d2
         | FROM pcodes JOIN cand USING (vec_id) JOIN dtab USING (m, cell)
         | GROUP BY vec_id)
         |SELECT a.vec_id, e.label, a.adc_d2
         |FROM adc a JOIN embeddings e USING (vec_id)
         |ORDER BY a.adc_d2, a.vec_id LIMIT 10""".stripMargin,
    "ann_filtered" ->
      s"""WITH ${kmeansCellsSql(probes = 1)},
         |q AS (SELECT embedding FROM embeddings WHERE vec_id = $QueryVecId),
         |probed AS (
         | SELECT c.cell FROM cents c, q
         | ORDER BY list_cosine_similarity(c.centroid, q.embedding::DOUBLE[]) DESC, c.cell
         | LIMIT 4)
         |SELECT e.vec_id, e.label,
         | round(list_cosine_similarity(e.embedding::DOUBLE[], qq.embedding::DOUBLE[]), 4) AS cos
         |FROM embeddings e JOIN cells USING (vec_id) JOIN probed USING (cell), q qq
         |WHERE e.vec_id <> $QueryVecId AND e.label = 1
         |ORDER BY cos DESC, e.vec_id LIMIT 10""".stripMargin,
    "ann_recall" ->
      s"""WITH ${kmeansCellsSql(probes = 1)},
         |q AS (SELECT embedding FROM embeddings WHERE vec_id = $QueryVecId),
         |probed AS (
         | SELECT c.cell FROM cents c, q
         | ORDER BY list_cosine_similarity(c.centroid, q.embedding::DOUBLE[]) DESC, c.cell
         | LIMIT 2),
         |ivf AS (
         | SELECT e.vec_id
         | FROM embeddings e JOIN cells USING (vec_id) JOIN probed USING (cell), q qq
         | WHERE e.vec_id <> $QueryVecId
         | ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], qq.embedding::DOUBLE[]), 4) DESC, e.vec_id
         | LIMIT 10),
         |brute AS (
         | SELECT e.vec_id
         | FROM embeddings e, q qq
         | WHERE e.vec_id <> $QueryVecId
         | ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], qq.embedding::DOUBLE[]), 4) DESC, e.vec_id
         | LIMIT 10)
         |SELECT 10 AS k, count(*) AS n_common,
         |  round(count(*) / 10.0 + 1e-9, 2) AS recall_at_k
         |FROM ivf JOIN brute USING (vec_id)""".stripMargin,
    "ann_bruteforce_topk" ->
      s"""SELECT e.vec_id, e.label,
         | round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS cos
         |FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = $QueryVecId) q
         |WHERE e.vec_id <> $QueryVecId
         |ORDER BY cos DESC, e.vec_id LIMIT 10""".stripMargin,
    "ann_int8_topk" ->
      s"""WITH sc AS (
         | SELECT vec_id, label, embedding,
         |  list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0 AS scale
         | FROM embeddings),
         |qz AS (
         | SELECT vec_id, label,
         |  list_transform(embedding, x -> floor(x::DOUBLE / scale + 0.5)) AS c
         | FROM sc WHERE scale > 0),
         |q AS (SELECT c AS qc FROM qz WHERE vec_id = $QueryVecId)
         |SELECT z.vec_id, z.label, round(list_cosine_similarity(z.c, q.qc), 4) AS cos8
         |FROM qz z, q
         |WHERE z.vec_id <> $QueryVecId
         |ORDER BY cos8 DESC, z.vec_id LIMIT 10""".stripMargin,
    "ann_range" ->
      s"""WITH ${kmeansCellsSql(probes = 1)},
         |q AS (SELECT embedding FROM embeddings WHERE vec_id = $QueryVecId),
         |probed AS (
         | SELECT c.cell FROM cents c, q
         | ORDER BY list_cosine_similarity(c.centroid, q.embedding::DOUBLE[]) DESC, c.cell
         | LIMIT 4)
         |SELECT e.vec_id, e.label,
         | round(list_cosine_similarity(e.embedding::DOUBLE[], qq.embedding::DOUBLE[]), 4) AS cos
         |FROM embeddings e JOIN cells USING (vec_id) JOIN probed USING (cell), q qq
         |WHERE e.vec_id <> $QueryVecId
         | AND round(list_cosine_similarity(e.embedding::DOUBLE[], qq.embedding::DOUBLE[]), 4) >= 0.25
         |ORDER BY cos DESC, e.vec_id""".stripMargin,
    "ann_multiquery" ->
      s"""WITH ${kmeansCellsSql(probes = 1)},
         |qs AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 8),
         |pr AS (
         | SELECT q.query_id, c.cell,
         |  row_number() OVER (PARTITION BY q.query_id
         |    ORDER BY list_cosine_similarity(c.centroid, q.qv) DESC, c.cell) AS rk
         | FROM cents c, qs q),
         |probed AS (SELECT query_id, cell FROM pr WHERE rk <= 2),
         |cand AS (
         | SELECT p.query_id, e.vec_id, e.label,
         |  round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 4) AS cos
         | FROM cells JOIN probed p USING (cell)
         |  JOIN embeddings e USING (vec_id)
         |  JOIN qs q ON q.query_id = p.query_id
         | WHERE e.vec_id <> p.query_id),
         |rk AS (
         | SELECT query_id, vec_id, label, cos,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         | FROM cand)
         |SELECT query_id, vec_id, label, cos, rank FROM rk
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "ann_ivf" ->
      s"""WITH ${kmeansCellsSql(probes = 1)},
         |q AS (SELECT embedding FROM embeddings WHERE vec_id = $QueryVecId),
         |probed AS (
         | SELECT c.cell FROM cents c, q
         | ORDER BY list_cosine_similarity(c.centroid, q.embedding::DOUBLE[]) DESC, c.cell
         | LIMIT 2)
         |SELECT e.vec_id, e.label,
         | round(list_cosine_similarity(e.embedding::DOUBLE[], qq.embedding::DOUBLE[]), 4) AS cos
         |FROM embeddings e JOIN cells USING (vec_id) JOIN probed USING (cell), q qq
         |WHERE e.vec_id <> $QueryVecId
         |ORDER BY cos DESC, e.vec_id LIMIT 10""".stripMargin,
    // the persisted-layout probe computes the identical ranking, so the
    // oracle is the in-memory probe's SQL verbatim
    "ann_ivf_persisted" ->
      s"""WITH ${kmeansCellsSql(probes = 1)},
         |q AS (SELECT embedding FROM embeddings WHERE vec_id = $QueryVecId),
         |probed AS (
         | SELECT c.cell FROM cents c, q
         | ORDER BY list_cosine_similarity(c.centroid, q.embedding::DOUBLE[]) DESC, c.cell
         | LIMIT 2)
         |SELECT e.vec_id, e.label,
         | round(list_cosine_similarity(e.embedding::DOUBLE[], qq.embedding::DOUBLE[]), 4) AS cos
         |FROM embeddings e JOIN cells USING (vec_id) JOIN probed USING (cell), q qq
         |WHERE e.vec_id <> $QueryVecId
         |ORDER BY cos DESC, e.vec_id LIMIT 10""".stripMargin,
    "ann_lsh_bucket" -> {
      s"""WITH dims AS (
         | SELECT vec_id, i.i AS dim, embedding[i.i + 1]::DOUBLE AS x
         | FROM embeddings, (SELECT unnest(generate_series(0, 63)) AS i) i),
         |planes AS (
         | SELECT p.p AS plane, d.d AS dim,
         |  (('0x'||substring(md5(p.p || '_' || d.d), 1, 4))::BIGINT - 32768) / 32768.0 AS w
         | FROM (SELECT unnest(generate_series(0, ${Planes - 1})) AS p) p,
         |      (SELECT unnest(generate_series(0, 63)) AS d) d),
         |bits AS (
         | SELECT vec_id, plane, CASE WHEN sum(x * w) >= 0 THEN 1 ELSE 0 END AS bit
         | FROM dims JOIN planes USING (dim) GROUP BY vec_id, plane),
         |buckets AS (
         | SELECT vec_id, CAST(sum(bit * (1 << plane)) AS BIGINT) AS bucket FROM bits GROUP BY vec_id)
         |SELECT vec_id, bucket, count(*) OVER (PARTITION BY bucket) AS bucket_size
         |FROM buckets ORDER BY vec_id""".stripMargin
    },
    "ann_incremental" ->
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 0),
         |kp AS (SELECT greatest(8, CAST(ceil(sqrt(count(*) / 16.0)) AS BIGINT)) AS k FROM corpus),
         |seeds AS (SELECT vec_id AS cell, embedding FROM corpus ORDER BY vec_id LIMIT (SELECT k FROM kp)),
         |a0 AS (
         |  SELECT e.vec_id, s.cell, e.embedding,
         |   row_number() OVER (PARTITION BY e.vec_id
         |     ORDER BY list_distance(e.embedding::DOUBLE[], s.embedding::DOUBLE[]), s.cell) AS rk
         |  FROM corpus e, seeds s),
         |asg0 AS (SELECT vec_id, cell, embedding FROM a0 WHERE rk = 1),
         |dims AS (
         |  SELECT cell, i.i AS dim, avg(embedding[i.i + 1]::DOUBLE) AS m
         |  FROM asg0, (SELECT unnest(generate_series(0, 63)) AS i) i
         |  GROUP BY cell, i.i),
         |cents AS (SELECT cell, list(m ORDER BY dim) AS centroid FROM dims GROUP BY cell),
         |a1 AS (
         |  SELECT e.vec_id, c.cell,
         |   row_number() OVER (PARTITION BY e.vec_id
         |     ORDER BY list_distance(e.embedding::DOUBLE[], c.centroid), c.cell) AS rk
         |  FROM embeddings e, cents c),
         |cells AS (SELECT vec_id, cell FROM a1 WHERE rk <= 1),
         |q AS (SELECT embedding FROM embeddings WHERE vec_id = $QueryVecId),
         |probed AS (
         | SELECT c.cell FROM cents c, q
         | ORDER BY list_cosine_similarity(c.centroid, q.embedding::DOUBLE[]) DESC, c.cell
         | LIMIT 2)
         |SELECT e.vec_id, e.label,
         | round(list_cosine_similarity(e.embedding::DOUBLE[], qq.embedding::DOUBLE[]), 4) AS cos
         |FROM embeddings e JOIN cells USING (vec_id) JOIN probed USING (cell), q qq
         |WHERE e.vec_id <> $QueryVecId
         |ORDER BY cos DESC, e.vec_id LIMIT 10""".stripMargin,
    "knn_join" ->
      s"""WITH ${kmeansCellsSql(probes = 2)},
         |cand AS (
         | SELECT DISTINCT cq.vec_id AS q, cn.vec_id AS n
         | FROM cells cq JOIN cells cn ON cn.cell = cq.cell
         | WHERE cq.vec_id < 20 AND cq.vec_id <> cn.vec_id),
         |scored AS (
         | SELECT c.q, c.n,
         |  round(list_cosine_similarity(eq.embedding::DOUBLE[], en.embedding::DOUBLE[]), 4) AS cos
         | FROM cand c
         |  JOIN embeddings eq ON eq.vec_id = c.q
         |  JOIN embeddings en ON en.vec_id = c.n),
         |ranked AS (
         | SELECT *, row_number() OVER (PARTITION BY q ORDER BY cos DESC, n) AS rk FROM scored)
         |SELECT q, n, cos, rk FROM ranked WHERE rk <= 5 ORDER BY q, rk""".stripMargin,
    "knn_classify" ->
      s"""WITH ${kmeansCellsSql(probes = 2)},
         |cand AS (
         | SELECT DISTINCT cq.vec_id AS q, cn.vec_id AS n
         | FROM cells cq JOIN cells cn ON cn.cell = cq.cell
         | WHERE cq.vec_id < 20 AND cq.vec_id <> cn.vec_id),
         |scored AS (
         | SELECT c.q, c.n,
         |  round(list_cosine_similarity(eq.embedding::DOUBLE[], en.embedding::DOUBLE[]), 4) AS cos
         | FROM cand c
         |  JOIN embeddings eq ON eq.vec_id = c.q
         |  JOIN embeddings en ON en.vec_id = c.n),
         |ranked AS (
         | SELECT *, row_number() OVER (PARTITION BY q ORDER BY cos DESC, n) AS rk FROM scored),
         |top5 AS (SELECT q, n FROM ranked WHERE rk <= 5),
         |votes AS (
         | SELECT t.q, e.label AS nl, count(*) AS votes
         | FROM top5 t JOIN embeddings e ON e.vec_id = t.n GROUP BY 1, 2),
         |pred AS (
         | SELECT q, nl AS pred_label, votes,
         |  row_number() OVER (PARTITION BY q ORDER BY votes DESC, nl) AS vrk
         | FROM votes)
         |SELECT p.q, e.label AS true_label, p.pred_label, p.votes
         |FROM pred p JOIN embeddings e ON e.vec_id = p.q
         |WHERE p.vrk = 1 ORDER BY p.q""".stripMargin)
}
