package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Session-scoped cache for DETERMINISTIC derived index structures —
  * LSH band tables, k-means cell assignments — built once per corpus
  * snapshot and reused by every query that probes them.
  *
  * This is the operational model of every ANN/near-dup system at scale:
  * the index (IVF lists, LSH buckets) is built ONCE over a corpus
  * snapshot and amortized across all queries; rebuilding it per query
  * would be like rebuilding a B-tree per lookup. The reference encodes
  * the same idea as its persisted path/search indexes (the Azure Search
  * index IS a prebuilt structure the indexer merely probes and merges
  * into).
  *
  * Rules for cached builders:
  *  - the built frame MUST be deterministic for (kind, dir) — the
  *    engine's index builders are (md5-derived hashes, first-k seeds,
  *    no RNG);
  *  - the built frame MUST already be pinned ([[Pin.pin]]: a reliable
  *    checkpoint when the context has a checkpoint directory, else an
  *    executor-local one on a local master) so the cached value replays
  *    pinned blocks, never the build lineage;
  *  - `dir` must reference an immutable snapshot (the testdata
  *    contract; at cluster scale, a versioned IndexStore snapshot). A
  *    mutated corpus needs [[invalidate]] — or better, a new snapshot
  *    path.
  *
  * Keyed by applicationId so entries can never leak across
  * SparkContexts (local pins die with their executors).
  *
  * Derived on-disk indexes (IVF cell lists, LSH bands, prefix- and
  * length-partitioned postings and vocabulary, the Z-order and
  * compaction copies) are written by [[layout]], and scratch stores
  * such as the bitmap store's IndexStore live in a [[scratchDir]]. Both
  * place their files by the pin decision: under the checkpoint
  * directory when one is set, under `/tmp` on a local master without
  * one, nowhere on a cluster without one. Each per-app root is deleted
  * by its Hadoop FileSystem's `deleteOnExit` when the JVM exits.
  */
object IndexCache {
  /** `df.pin()`: materialize `df` now and cut its lineage, so every
    * later plan over the result replays the stored blocks instead of
    * re-running the build. The one pinning primitive of the engine;
    * its branch follows what the SparkContext reports:
    *  - a checkpoint directory is set: a reliable checkpoint (files that
    *    survive the loss of an executor);
    *  - none, on a local master: an executor-local checkpoint;
    *  - none, on a cluster: fails, since local blocks die with their
    *    executor and the query could not recompute them.
    * Both branches are legal because what is pinned is deterministic:
    * builders by the rule above, and `Ranks` over a persisted placement.
    */
  implicit final class Pin(private val df: DataFrame) extends AnyVal {
    def pin(): DataFrame = {
      val sc = df.sparkSession.sparkContext
      if (reliablePin(sc.getCheckpointDir, sc.isLocal)) {
        // Spark never deletes reliable checkpoint files of live RDDs:
        // the context's checkpoint directory goes at JVM exit, as a
        // scratch root does
        val ck = new Path(sc.getCheckpointDir.get)
        ck.getFileSystem(sc.hadoopConfiguration).deleteOnExit(ck)
        df.checkpoint(eager = true)
      } else df.localCheckpoint(eager = true)
    }
  }

  /** True for a reliable pin, false for a local one; no pin on a
    * cluster without a checkpoint directory. */
  private[graft] def reliablePin(checkpointDir: Option[String], isLocal: Boolean): Boolean = {
    require(checkpointDir.isDefined || isLocal, "pins and scratch files on a non-local master " +
      "need a reliable checkpoint directory: call SparkContext.setCheckpointDir first")
    checkpointDir.isDefined
  }

  /** Per-key build cell: the monitor same-key builds serialize on. */
  private final class Holder { @volatile var value: AnyRef = null }

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Holder]()

  def getOrBuild[T <: AnyRef](spark: SparkSession, kind: String, dir: String)(build: => T): T = {
    val key = s"${spark.sparkContext.applicationId}|$kind|$dir"
    // Builders NEST (the embedding near-pair index builds on the
    // bounded cell index, which builds on the k-means base; shingle
    // sets build on the shingle index), and
    // ConcurrentHashMap.computeIfAbsent is non-reentrant — running
    // `build` inside it throws IllegalStateException("Recursive
    // update") whenever a nested key lands in the same hash bin
    // (nondeterministic by key strings/table size; observed as
    // sporadic single-query bench failures at new snapshot dirs). So
    // the map only ever computes a trivial Holder, and `build` runs
    // under the HOLDER's monitor instead: same-key builds are
    // serialized (two threads racing a builder that writes one
    // [[layout]] directory would otherwise race on it), while nested builds
    // take different holders' monitors in build-nesting order (acyclic
    // by construction), so reentrancy stays deadlock-free.
    val h = cache.computeIfAbsent(key, _ => new Holder)
    val hit = h.value
    if (hit != null) hit.asInstanceOf[T]
    else h.synchronized {
      if (h.value == null) h.value = build
      h.value.asInstanceOf[T]
    }
  }

  /** Drop every cached index (all snapshots, all kinds). */
  def invalidate(): Unit = cache.clear()

  /** Where a derived on-disk index or scratch store of this application
    * lives: `<base>/<family>/<appId>/<sanitized dir>`, with the base
    * chosen by the same decision as [[Pin.pin]]:
    *  - a checkpoint directory is set: under it, so executors on any
    *    node read and write one shared filesystem;
    *  - none, on a local master: under `/tmp`, which every task of the
    *    one JVM shares;
    *  - none, on a cluster: fails, since `/tmp` resolves against
    *    `fs.defaultFS` and need not be shared by the executors.
    * The applicationId component keeps two JVMs building against one
    * snapshot from overwriting or deleting each other's files.
    */
  private[graft] def scratchPath(spark: SparkSession, family: String, dir: String): Path = {
    val sc = spark.sparkContext
    // no leading '_' or '.': Spark and Hadoop readers treat such names as hidden
    def clean(s: String) = s.replaceAll("[^A-Za-z0-9.]", "_").dropWhile(c => c == '_' || c == '.')
    val base = scratchBase(sc.getCheckpointDir, sc.isLocal)
    new Path(new Path(new Path(base, family), clean(sc.applicationId)), clean(dir))
  }

  /** The base directory of [[scratchPath]]; no base on a cluster without
    * a checkpoint directory. */
  private[graft] def scratchBase(checkpointDir: Option[String], isLocal: Boolean): String =
    if (reliablePin(checkpointDir, isLocal)) checkpointDir.get else "/tmp"

  /** An empty directory at [[scratchPath]], returned fully qualified.
    * Its per-app root is registered with its own Hadoop FileSystem's
    * `deleteOnExit`, so the FileSystem deletes it when it closes at JVM
    * exit, on whatever store it lives. A killed JVM leaves its root
    * behind: deleting sibling appIds' roots at start would race a live
    * sibling, whose files look like a crashed one's.
    */
  def scratchDir(spark: SparkSession, family: String, dir: String): String = {
    val out = scratchPath(spark, family, dir)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(out, true)
    fs.mkdirs(out)
    fs.deleteOnExit(out.getParent)
    fs.makeQualified(out).toString
  }

  /** Write `data` as the derived on-disk index `name` of snapshot `dir`
    * in [[scratchDir]]`(family, dir/name)`, and return the frame that
    * reads the files. Hash repartitioning on `partitionBy` puts each
    * partition value on one task, so each partition directory holds one
    * file; `sortBy` orders rows within each task, so row groups carry
    * tight min/max stats. The read uses `data.schema`: partition
    * discovery cannot infer types from an empty write, and the read
    * must not scan footers to infer them.
    */
  def layout(spark: SparkSession, family: String, dir: String, name: String, data: DataFrame,
      partitionBy: Seq[String], sortBy: Seq[String]): DataFrame = {
    val out = scratchDir(spark, family, s"$dir/$name")
    data.repartition(partitionBy.map(col): _*)
      .sortWithinPartitions(sortBy.map(col): _*)
      .write.mode("overwrite").partitionBy(partitionBy: _*).parquet(out)
    spark.read.schema(data.schema).parquet(out)
  }
}
