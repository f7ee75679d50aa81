package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  // private[graft] so EntrySpec validates the REAL pack list (round-15
  // advice: a hand-duplicated copy in the test skipped validation for
  // any pack added here but not there).
  private[graft] val packs: Seq[QueryPack] = Seq(
    operators.Analytics,
    operators.PathIndexOps,
    operators.IndexerOps,
    operators.Search,
    operators.TemporalJoins,
    operators.Sketches,
    operators.Dedup,
    operators.Similarity,
    operators.TextAnalysis,
    operators.Multimodal,
    streaming.StreamingOps)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.IndexerOps.incrementalRun(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.flatMap(_.queries).toMap

  /** The queries named in `names`, in that order (every key, name-sorted,
    * when `names` is empty). A misspelt name would silently drop its key
    * from a run, so any unknown name exits 1 before a query runs. */
  def select(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val qs = queries
    val unknown = names.filterNot(qs.contains).distinct
    if (unknown.nonEmpty) {
      System.err.println(s"unknown query keys: ${unknown.sorted.mkString(", ")}"); sys.exit(1)
    }
    if (names.isEmpty) qs.toSeq.sortBy(_._1) else names.distinct.map(k => k -> qs(k))
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    packs.flatMap(_.oracles).toMap

  /** Declared scale band per key (see [[QueryPack.bands]]) — every
    * registered key resolves, undeclared keys default to linear. The
    * cert harness exports this via `ListKeys bands` and
    * tools/adjudicate_sf10.py grades against it; RegistrySpec pins
    * that declared bands reference real keys with legal band names.
    */
  def bands: Map[String, String] = {
    val declared = packs.flatMap(_.bands).toMap
    queries.keys.map(k => k -> declared.getOrElse(k, Band.Linear)).toMap
  }
}
