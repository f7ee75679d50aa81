package graft.sources

import org.apache.hadoop.fs.{FileContext, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import java.nio.charset.StandardCharsets.UTF_8

/** Counts of one merge, all observed on its snapshot-write job, and the
  * version it committed. */
final case class MergeResult(created: Long, modified: Long, failed: Long, version: Long,
                             deleted: Long = 0L)

/** Parquet-backed search-index store with merge-or-upload semantics.
  *
  * This is the engine's stand-in for the reference's Azure Search
  * indexes (both the path index and the data index): a keyed table
  * where a batch write merges by key — latest write wins, tombstones
  * delete — and reports created/modified/deleted/failed counts, exactly
  * the semantics of MergeOrUploadDocumentsAsync
  * (reference: AzureSearchIndexer/PathIndexClient.cs:24,
  * BatchingUploader.cs:35, DataLakeIndexer.cs:120-141 for the
  * failed-upload accounting).
  *
  * Storage layout: snapshot directories `v=N` under the index root;
  * a merge reads the live snapshot, unions the batch, window-dedups on
  * the key and writes `v=N+1`. A version counts only once its commit
  * marker exists: the marker is written after Spark's job commit and
  * holds the snapshot's schema, so readers never see an in-flight
  * snapshot, a read needs no footer-reading job, and a snapshot with
  * zero rows (a partitioned write of nothing leaves no data file) still
  * reads back with its columns. A committed `v=N` never changes until
  * `compact` deletes it, so the store resolves the newest version once
  * (analysis and file listing) and every later read or merge of it
  * reuses that frame; an unchanged store's read costs only the marker
  * glob. Two writers on the same base both pick `v=N+1`; exactly one
  * commits it and the other fails (see `writeObserving`). At cluster
  * scale the merge shuffles snapshot and batch once, on the key.
  *
  * Every write's counts are `observe(...)` aggregates of the write job
  * itself, taken by a listener on the written frame's own session (see
  * `writeObserving`) — inside a streaming micro-batch too.
  *
  * All filesystem access goes through the Hadoop FileSystem API, so the
  * root may live on any supported store (local, HDFS, ABFS/ADLS, S3) —
  * the same deployment surface as the engine's scans.
  *
  * @param seqCol optional caller-supplied sequence column: when a batch
  *   contains the same key more than once, the row with the LARGEST
  *   seqCol value wins (then, rows from the batch always beat rows from
  *   the snapshot). Without it, within-batch duplicate keys would be
  *   resolved arbitrarily — "latest write wins" is only well-defined if
  *   the caller says what "latest" means inside one batch.
  */
class IndexStore(spark: SparkSession, root: String, keyCol: String,
                 partitionCol: Option[String] = None,
                 seqCol: Option[String] = None) {

  private def hadoopFs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dir(v: Long): String = s"$root/v=$v"

  private def marker(v: Long): Path = new Path(dir(v), "_graft_commit")

  /** Committed versions, oldest first. */
  private def versions: Seq[Long] =
    Option(hadoopFs.globStatus(new Path(root, "v=*/_graft_commit"))).toSeq.flatten
      .map(_.getPath.getParent.getName.stripPrefix("v=").toLong)
      .sorted

  def currentVersion: Option[Long] = versions.lastOption

  /** The resolved snapshot of the version this store last wrote or read. */
  @volatile private var resolved: Option[(Long, DataFrame)] = None

  private def resolve(v: Long, schema: StructType): DataFrame = {
    val df = spark.read.schema(schema).parquet(dir(v))
    resolved = Some(v -> df)
    df
  }

  private def snapshot(v: Long): DataFrame = resolved.collect { case (`v`, df) => df }.getOrElse {
    val in = hadoopFs.open(marker(v))
    resolve(v, try DataType.fromJson(new String(in.readAllBytes(), UTF_8)).asInstanceOf[StructType]
      finally in.close())
  }

  def read(): Option[DataFrame] = currentVersion.map(snapshot)

  /** Write `df` as snapshot `v` — one action — commit it, and return
    * the metrics `df` observes under `name` in that same job.
    *
    * Every snapshot writer goes through here so the hive-partitioned
    * layout (→ partition pruning for "filesystem eq 'x'" reads) survives
    * merges and compactions alike. The commit marker holds the schema
    * a read returns: data columns, then the partition column. The
    * observation must be the top of `df`: AQE drops the subtree under
    * an exchange that turns out empty, observations included.
    *
    * The write and its marker land in a private `_attempt-<uuid>`
    * directory under the root, published by one rename to `v=N` that
    * fails if `v=N` exists: of two writers that both picked `v=N`, the
    * later one deletes its attempt and throws, and the committed `v=N`
    * is never touched. It does not retry on the new base: only the
    * caller knows whether re-running its batch plan is safe.
    *
    * The listener is registered on `df.sparkSession`, the session the
    * write executes in: a QueryExecutionListener hears only executions
    * of the session it is registered on, and inside a streaming
    * foreachBatch the batch frame belongs to the session the stream
    * cloned at start, not to the one the caller holds. Metrics that
    * never arrive are an error; the snapshot then stays uncommitted.
    */
  private def writeObserving(df: DataFrame, v: Long, name: String): Row = {
    val observed = new java.util.concurrent.CompletableFuture[Row]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        qe.observedMetrics.get(name).foreach(observed.complete)
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    val attempt = new Path(root, s"_attempt-${java.util.UUID.randomUUID()}")
    val fs = hadoopFs
    val session = df.sparkSession
    session.listenerManager.register(listener)
    try {
      val metrics = try {
        val writer = df.write
        partitionCol.fold(writer)(c => writer.partitionBy(c)).parquet(attempt.toString)
        try observed.get(60, java.util.concurrent.TimeUnit.SECONDS)
        catch { case _: java.util.concurrent.TimeoutException =>
          throw new IllegalStateException(s"no observed metrics for ${dir(v)}: left uncommitted") }
      } finally session.listenerManager.unregister(listener)
      val (part, data) = df.schema.fields.partition(f => partitionCol.contains(f.name))
      val schema = StructType(data ++ part)
      val out = fs.create(new Path(attempt, marker(v).getName), false)
      try out.write(schema.json.getBytes(UTF_8)) finally out.close()
      try FileContext.getFileContext(fs.getUri, spark.sparkContext.hadoopConfiguration)
        .rename(attempt, new Path(dir(v)))
      catch { case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"${dir(v)} was committed by another writer: this write was not applied", e) }
      resolve(v, schema)
      metrics
    } catch { case e: Throwable =>
      fs.delete(attempt, true)
      throw e
    }
  }

  /** Unwrap an observed aggregate (null on zero rows → 0). */
  private def metric(m: Row, name: String): Long = {
    val i = m.fieldIndex(name)
    if (m.isNullAt(i)) 0L else m.getLong(i)
  }

  /** Precedence for the merge window: accepted rows first (a rejected
    * row never displaces one), then highest `_seq` (batch=1 beats
    * snapshot=0), then the caller's sequence column descending when
    * configured.
    */
  private def mergeOrder: Seq[Column] =
    Seq(col("_rej").asc, col("_seq").desc) ++ seqCol.map(c => col(c).desc)

  /** Merge-or-upload a batch: batch rows override snapshot rows per
    * key; ties within the batch resolved by `seqCol` (see class doc).
    * Returns created/modified/deleted/failed counts like
    * UpsertPathsResult (reference: Models/UpsertPathsResult.cs).
    *
    * @param reject failure injection: rows matching this predicate are
    *   NOT merged and are counted in `MergeResult.failed` — the analog
    *   of per-document upload failures in the service response
    *   (reference: DataLakeIndexer.cs:120-141 UploadFailedCount).
    * @param tombstone optional boolean column of `batch` marking
    *   tombstone rows (the deleted-paths flow); it is dropped before
    *   the write. A key's winning row decides its fate: an upsert
    *   survives, a tombstone removes the key — counted in `deleted` if
    *   the snapshot held it, a no-op otherwise.
    */
  def mergeOrUpload(batch: DataFrame, reject: Option[Column] = None,
                    tombstone: Option[String] = None): MergeResult = {
    val prevV = currentVersion
    val nextV = prevV.getOrElse(-1L) + 1

    // ALL metrics are one observation over the merge window's winners,
    // taken by the snapshot-write job itself: no snapshot re-counts, and
    // — because the batch plan executes exactly once — the failed count
    // can never disagree with what was written, even for a
    // nondeterministic batch frame. A NULL reject result counts as
    // rejected: under three-valued logic filter(p) and filter(!p) would
    // BOTH drop the row — it would vanish from the merge and the
    // failure count alike.
    val incoming = batch
      .withColumn("_rej", reject.fold(lit(false))(p => coalesce(p, lit(true))))
      .withColumn("_del", tombstone.fold(lit(false))(c => coalesce(col(c), lit(false))))
      .drop(tombstone.toSeq: _*)
      .withColumn("_seq", lit(1))
    // allowMissingColumns: batches may add columns over time (schema
    // evolution); absent columns null-fill on either side
    val tagged = prevV.map(snapshot).fold(incoming)(cur =>
      cur.withColumn("_rej", lit(false)).withColumn("_del", lit(false)).withColumn("_seq", lit(0))
        .unionByName(incoming, allowMissingColumns = true))
    // the per-key flags share the row_number window's partitioning — no
    // extra shuffle. _had: the snapshot held the key; _nrej: the key's
    // rejected rows, counted once on its winner. The winning row of any
    // key the batch touched with an accepted row is a batch row, so its
    // _del and _had decide created, modified or deleted. Catalyst does
    // not push filters through CollectMetrics: the observation sees the
    // tombstoned and rejected winners the last filter drops.
    val byKey = Window.partitionBy(col(keyCol))
    val won = col("_seq") === 1 && !col("_rej")
    val name = s"graft_merge_${java.util.UUID.randomUUID()}"
    val merged = tagged
      .withColumn("_rn", row_number().over(byKey.orderBy(mergeOrder: _*)))
      .withColumn("_had", min(col("_seq")).over(byKey) === 0)
      .withColumn("_nrej", count_if(col("_rej")).over(byKey))
      .filter(col("_rn") === 1)
      .observe(name,
        count_if(won && !col("_del") && !col("_had")).as("created"),
        count_if(won && !col("_del") && col("_had")).as("modified"),
        count_if(won && col("_del") && col("_had")).as("deleted"),
        sum(col("_nrej")).as("failed"))
      .filter(!col("_rej") && !col("_del"))
      .drop("_rn", "_seq", "_had", "_nrej", "_rej", "_del")

    val m = writeObserving(merged, nextV, name)
    MergeResult(metric(m, "created"), metric(m, "modified"), metric(m, "failed"), nextV,
      metric(m, "deleted"))
  }

  /** Rewrite the live snapshot into `numFiles` part files — the
    * small-files compaction every lake index needs after many
    * incremental merges (thousands of tiny parquet files kill scan
    * throughput; the optimize pass restores fat, scan-friendly files).
    */
  def optimize(numFiles: Int = 1): Long = currentVersion match {
    case None => 0L
    case Some(v) =>
      val name = s"graft_opt_${java.util.UUID.randomUUID()}"
      metric(writeObserving(
        snapshot(v).repartition(numFiles).observe(name, count(lit(1)).as("n")), v + 1, name), "n")
  }

  /** Drop all but the newest `keepLast` snapshot versions (vacuum).
    * Returns the number of versions removed. Readers of the live
    * snapshot are unaffected — only superseded `v=N` dirs are deleted.
    */
  def compact(keepLast: Int = 1): Int = {
    require(keepLast >= 1, "must keep at least the live snapshot")
    val fs = hadoopFs
    val old = versions.dropRight(keepLast)
    old.foreach(v => fs.delete(new Path(dir(v)), true))
    old.length
  }

  /** Delete-by-key (the deleted-paths flow): the keys merge in as
    * tombstones. Returns how many keys the snapshot held; a no-op on an
    * empty store.
    */
  def deleteKeys(keys: DataFrame): Long =
    if (currentVersion.isEmpty) 0L
    else mergeOrUpload(keys.select(col(keyCol)).withColumn("_tombstone", lit(true)),
      tombstone = Some("_tombstone")).deleted
}
