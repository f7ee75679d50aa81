package graft.operators

import graft.Tables
import graft.functions.ODataFilter
import graft.model.RunMetrics
import graft.sources.IndexStore
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** The complete reference workflow as one callable: list delta paths
  * since the last successful run → read + map documents → merge-or-
  * upload into the data index → record the new watermark. This is
  * RunDocumentIndexerOnPathsAsync + the function host's scheduling
  * state (reference: AzureSearchIndexer/DataLakeIndexer.cs:22,
  * DatalakePathIndexerFunc/DatalakeIndexerFunc.cs:40-46 "this should
  * actually be the time of the last successful run").
  *
  * The watermark is a tiny text file beside the index (on a cluster:
  * the same object store); reruns with no new events are no-ops, so
  * the indexer is idempotent and restartable.
  */
object Indexer {

  final case class IncrementalResult(metrics: RunMetrics, newWatermarkNs: Long)

  // Watermark state goes through the Hadoop FileSystem API (like
  // IndexStore), so stateDir may live on the same object store as the
  // index — on a cluster a local-FS watermark would silently reset to
  // MinValue on every new driver and re-index the world. The
  // Configuration is REQUIRED and must be the session's
  // (spark.sparkContext.hadoopConfiguration — spark.hadoop.* carries
  // the store credentials/impl classes); a bare `new Configuration()`
  // would silently drop them.
  def readWatermark(stateDir: String,
                    conf: org.apache.hadoop.conf.Configuration): Long = {
    val dir = new org.apache.hadoop.fs.Path(stateDir)
    val fs = dir.getFileSystem(conf)
    def parse(p: org.apache.hadoop.fs.Path): Long = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    }
    val dst = new org.apache.hadoop.fs.Path(dir, "last_run_ns")
    val tmp = new org.apache.hadoop.fs.Path(dir, "last_run_ns.tmp")
    if (fs.exists(dst)) parse(dst)
    // crash-window fallback: writeWatermark deletes dst before the
    // rename (rename-onto-existing is not portable across object
    // stores), so "dst missing but a complete tmp exists" means the
    // crash hit between delete and rename — the tmp IS the watermark
    // (it is always fully written and closed before dst is touched).
    // Without this fallback that crash silently re-indexes the lake.
    else if (fs.exists(tmp)) parse(tmp)
    else Long.MinValue
  }

  /** Write-temp-then-rename: a crash mid-write can never leave a
    * truncated watermark that poisons every later run's parse, and the
    * delete→rename window is covered by readWatermark's tmp fallback.
    */
  def writeWatermark(stateDir: String, ns: Long,
                     conf: org.apache.hadoop.conf.Configuration): Unit = {
    val dir = new org.apache.hadoop.fs.Path(stateDir)
    val fs = dir.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(dir, s"last_run_ns.tmp")
    val dst = new org.apache.hadoop.fs.Path(dir, "last_run_ns")
    val out = fs.create(tmp, true)
    try out.write(ns.toString.getBytes("UTF-8"))
    finally out.close()
    if (fs.exists(dst)) fs.delete(dst, false)
    require(fs.rename(tmp, dst), s"watermark rename failed: $tmp -> $dst")
  }

  /** One incremental run against the synthetic change-log + documents.
    *
    * The run shuffles and joins its delta once: the watermark-filtered
    * log is deduplicated to each key's latest event (deletes kept),
    * left-joined to the documents, and persisted. Two actions read that
    * frame. The first is one aggregate: the new watermark (`max(ts_ns)`;
    * each key's winner carries that key's largest `ts_ns`, so this is
    * the max over the whole log), the live-key count and the
    * read-failed and too-large counts. The second is the merge of the
    * uploadable rows, whose write job observes the created, modified
    * and failed counts. A null watermark means no event since the last
    * run: the run is a complete no-op — no merge, no new store version,
    * the watermark stays. The merge is a separate action so that an idle
    * run commits nothing. The watermark is written only after the merge
    * commits, and the persisted frame is released whether or not the run
    * succeeds.
    *
    * @param odataFilter optional OData partition filter applied to the
    *   change-log BEFORE the watermark cutoff — the reference's
    *   scheduled runs each pass one
    *   (`"filesystem eq 'x' and search.ismatch('partition_N*')"`,
    *   DatalakeIndexerFunc.cs:44-49). `search.ismatch` patterns match
    *   against the url-encoded path (keyword-analyzer prefix).
    * @param uploadReject failure-injection predicate forwarded to the
    *   store: matching rows are not uploaded and are counted in
    *   `uploadFailedCount` (DataLakeIndexer.cs:120-141).
    */
  def runIncremental(spark: SparkSession, dir: String, store: IndexStore, stateDir: String,
                     odataFilter: Option[String] = None,
                     uploadReject: Option[Column] = None): IncrementalResult = {
    val conf = spark.sparkContext.hadoopConfiguration
    val since = readWatermark(stateDir, conf)
    val log = odataFilter.foldLeft(PathIndexOps.changeLog(spark, dir))((l, f) =>
      l.filter(ODataFilter.compile(f, searchField = "pathUrlEncoded")))
      .filter(Tables.tsAfterNs(since))
    // documents.doc_id is unique, so the left join keeps one row per key
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"), col("n_chars"))
    val delta = PathIndexOps.upsertState(log)
      .select(col("key"), (col("event_id") % 500).as("doc_id"), col("filesystem"),
        col("ts_ns"), col("is_delete"))
      .join(docs, Seq("doc_id"), "left")
      .persist()
    try {
      val live = !col("is_delete")
      val n = col("n_chars")
      val agg = delta.agg(max(col("ts_ns")), count_if(live),
        count_if(live && IndexerOps.readFails(n)), count_if(live && IndexerOps.tooLarge(n))).head()
      if (agg.isNullAt(0)) IncrementalResult(RunMetrics(0, 0, 0, 0, 0, 0, 0), since)
      else {
        val uploadable = delta.filter(live && IndexerOps.uploadable(n))
          .select(col("key"), col("doc_id"), col("filesystem"),
            substring(col("text"), 1, 100).as("stringvalue"),
            n.as("numbervalue"),
            md5(col("text").cast("binary")).as("eTag"))
        val merge = store.mergeOrUpload(uploadable, reject = uploadReject)
        val (watermark, readFailed) = (agg.getLong(0), agg.getLong(2))
        val metrics = RunMetrics(
          readCount = agg.getLong(1) - readFailed,
          readFailedCount = readFailed,
          processedCount = merge.created + merge.modified,
          uploadCreatedCount = merge.created,
          uploadModifiedCount = merge.modified,
          uploadFailedCount = merge.failed,
          uploadFailedTooLargeCount = agg.getLong(3))
        writeWatermark(stateDir, watermark, conf)
        IncrementalResult(metrics, watermark)
      }
    } finally delta.unpersist()
  }

  /** The reference's actual operating mode: N staggered scheduled
    * indexer runs, each filtered to one partition of the lake by an
    * OData `search.ismatch('<prefix>*')` over the path, each with its
    * OWN watermark state so partitions progress (and fail, and retry)
    * independently (reference:
    * DatalakePathIndexerFunc/DatalakeIndexerFunc.cs:21-49 — five
    * functions, `partition_{0..4}*`, separate schedules).
    *
    * The synthetic lake's folders are `data/part_0..49`, so the decimal
    * prefixes `part_0*`..`part_9*` partition them exactly (disjoint,
    * complete). All partitions merge into the SAME store — exactly like
    * the reference's five indexers writing one search index.
    */
  def runPartitioned(spark: SparkSession, dir: String, store: IndexStore, stateRoot: String,
                     partitions: Seq[Int] = 0 until 10,
                     uploadReject: Option[Column] = None): Map[Int, IncrementalResult] =
    partitions.map { p =>
      val filter = s"search.ismatch('data%2fpart_$p*')"
      p -> runIncremental(spark, dir, store, s"$stateRoot/part_$p",
        odataFilter = Some(filter), uploadReject = uploadReject)
    }.toMap
}
