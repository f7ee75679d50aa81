package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

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
      if (reliablePin(sc.getCheckpointDir, sc.isLocal)) df.checkpoint(eager = true)
      else df.localCheckpoint(eager = true)
    }
  }

  /** True for a reliable pin, false for a local one; no pin on a
    * cluster without a checkpoint directory. */
  private[graft] def reliablePin(checkpointDir: Option[String], isLocal: Boolean): Boolean = {
    require(checkpointDir.isDefined || isLocal, "pinning on a non-local master needs a " +
      "reliable checkpoint directory: call SparkContext.setCheckpointDir first")
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
    // serialized (two threads racing a builder that writes a shared
    // /tmp layout path with mode=overwrite — ivfLayout, persistByPrefix
    // — would otherwise race on the directory), while nested builds
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

  /** Per-JVM disk root for a derived layout family
    * (`/tmp/<family>/<appId>/<sanitized dir>`): the applicationId
    * component guarantees two JVMs building against the same snapshot
    * can never overwrite — or rm -rf — each other's files mid-build.
    * Cross-JVM disk reuse was never exploited anyway: IndexCache is
    * empty at JVM start, so every session rebuilt its layouts
    * (mode=overwrite) regardless.
    *
    * GC: every per-app root is registered with [[registerGcPath]] and
    * deleted by a JVM shutdown hook — normal exits leave nothing
    * behind, so repeated sessions don't accumulate dead layout trees.
    * A kill -9 still leaks its root (deliberately: pruning SIBLING
    * appIds at startup would reintroduce the exact cross-JVM rm -rf
    * race the per-app naming closed — a live sibling's layouts look
    * identical to a crashed one's), bounded by /tmp's host lifetime.
    */
  def layoutRoot(spark: SparkSession, family: String, dir: String): String = {
    val app = spark.sparkContext.applicationId.replaceAll("[^A-Za-z0-9.-]", "_")
    val d = dir.replaceAll("[^A-Za-z0-9.]", "_")
    registerGcPath(s"/tmp/$family/$app")
    s"/tmp/$family/$app/$d"
  }

  /** Register a LOCAL filesystem path (this JVM's own scratch — layout
    * roots, per-app bucketed-table locations) for recursive deletion at
    * JVM exit. Idempotent; safe to call from executor-side-free driver
    * code only.
    */
  def registerGcPath(path: String): Unit = {
    gcPaths.add(path)
    gcHookInstalled // force the lazy registration exactly once
  }

  private val gcPaths = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private lazy val gcHookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      gcPaths.forEach(p => deleteRecursively(new java.io.File(p)))
    }, "graft-layout-gc"))

  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(): Unit
  }
}
