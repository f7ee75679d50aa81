package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

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
  * Storage layout: version directories `v=N` under the index root. A
  * version is a base plus one cumulative delta. A base version's files
  * hold every live row. A delta version's files hold the winning rows of
  * the keys upserted since its base, and its commit marker (the
  * manifest) names the base and every key upserted or deleted since it.
  * A read is the base minus those keys, unioned with the delta's rows:
  * one scan with no join and no exchange (see `graft.expressions.NotInKeySet`). A merge
  * costs the keys it touches: it shuffles the base's key column only,
  * to learn which batch keys the base holds, and rewrites the delta,
  * not the base. Once the delta covers more than `1/FoldDenominator` of
  * the base's rows, the next merge writes a full base instead.
  *
  * A version counts only once its commit marker exists: the marker is
  * written after Spark's job commit and holds the schema a read
  * returns, so readers never see an in-flight version, a read needs no
  * footer-reading job, and a version with zero rows (a partitioned write
  * of nothing leaves no data file) still reads back with its columns. A
  * committed `v=N` never changes until `compact` retires it, so the
  * store resolves the newest version once (analysis, file listing and
  * key set) and every later read or merge of it reuses that frame; an
  * unchanged store's read costs only the marker glob. Two writers on
  * the same base both pick `v=N+1`; exactly one commits it and the
  * other fails (see `writeObserving`).
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
  *   the caller says what "latest" means inside one batch. A merge can
  *   name its own order instead (`mergeOrUpload`'s `seq`).
  */
class IndexStore(spark: SparkSession, root: String, keyCol: String,
                 partitionCol: Option[String] = None,
                 seqCol: Option[String] = None) {
  import IndexStore._

  private def hadoopFs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dir(v: Long): String = s"$root/v=$v"

  private def marker(v: Long): Path = new Path(dir(v), Marker)

  /** Committed versions, oldest first. */
  private def versions: Seq[Long] =
    Option(hadoopFs.globStatus(new Path(root, s"v=*/$Marker"))).toSeq.flatten
      .map(_.getPath.getParent.getName.stripPrefix("v=").toLong)
      .sorted

  def currentVersion: Option[Long] = versions.lastOption

  /** The resolved snapshot of the version this store last wrote or read. */
  @volatile private var resolved: Option[Snapshot] = None

  /** Version `v` as its two parts: the base rows whose keys the delta
    * does not hold, and the delta's rows (none on a base version). */
  private final class Snapshot(val version: Long, val manifest: Manifest, val base: DataFrame,
                               val delta: Option[DataFrame], val live: DataFrame)

  /** A base version is one relation over its directory. A delta version
    * is one relation over the base's and the delta's directories, read
    * as partitions `v=B` and `v=N` of the root: a read of it is one scan
    * (one file listing, one reader set-up), where a union of two
    * relations reads 12–15 ms slower a page on a 4-core host. A base row
    * is live unless the delta holds its key; every delta row is live. A
    * store with its own column `v` cannot see the version as a
    * partition, so it reads the union.
    */
  private def resolve(v: Long, m: Manifest): Snapshot = {
    def files(u: Long) = spark.read.schema(m.schema).parquet(dir(u))
    val s = if (m.base == v) { val all = files(v); new Snapshot(v, m, all, None, all) } else {
      val keys = spark.sparkContext.broadcast[java.util.Set[Any]](
        new java.util.HashSet[Any](m.keys.toSeq.map(UTF8String.fromString).asJava))
      val untouched = Bridge.column(graft.expressions.NotInKeySet(
        Bridge.expression(col(keyCol).cast("string")), keys, m.keys.size))
      if (m.schema.fieldNames.exists(_.equalsIgnoreCase(VersionCol))) {
        val (base, delta) = (files(m.base).filter(untouched), files(v))
        new Snapshot(v, m, base, Some(delta), base.unionByName(delta))
      } else {
        val both = spark.read.option("basePath", root).schema(m.schema.add(VersionCol, LongType))
          .parquet(dir(m.base), dir(v))
        def at(u: Long) = col(VersionCol) === u
        // the live filter tests the base's version, not the delta's, so
        // a read's generated code stays the same from delta to delta
        new Snapshot(v, m, both.filter(at(m.base) && untouched).drop(VersionCol),
          Some(both.filter(at(v)).drop(VersionCol)), both.filter(!at(m.base) || untouched).drop(VersionCol))
      }
    }
    resolved = Some(s)
    s
  }

  private def readManifest(v: Long): Manifest = {
    val in = hadoopFs.open(marker(v))
    try Manifest.parse(Json.readTree(in), v) finally in.close()
  }

  private def snapshot(v: Long): Snapshot =
    resolved.filter(_.version == v).getOrElse(resolve(v, readManifest(v)))

  def read(): Option[DataFrame] = currentVersion.map(snapshot(_).live)

  /** Write `df` as version `v` — one action — commit it with the
    * manifest `commit` builds from the written schema and the metrics
    * `df` observes under `name` in that same job, and return those
    * metrics.
    *
    * Every version writer goes through here so the hive-partitioned
    * layout (→ partition pruning for "filesystem eq 'x'" reads) survives
    * merges and compactions alike. The manifest's schema is the one a
    * read returns: data columns, then the partition column. The
    * observation must be the top of `df`: AQE drops the subtree under
    * an exchange that turns out empty, observations included.
    *
    * The write and its marker land in a private `_attempt-<uuid>`
    * directory under the root, published to `v=N` by [[IndexStore.publish]]:
    * of two writers that both picked `v=N`, exactly one commits it, the
    * other deletes its attempt and throws, and the committed `v=N`'s
    * files are never touched. It does not retry on the new base: only
    * the caller knows whether re-running its batch plan is safe.
    *
    * The listener is registered on `df.sparkSession`, the session the
    * write executes in: a QueryExecutionListener hears only executions
    * of the session it is registered on, and inside a streaming
    * foreachBatch the batch frame belongs to the session the stream
    * cloned at start, not to the one the caller holds. Metrics that
    * never arrive are an error; the version then stays uncommitted.
    */
  private def writeObserving(df: DataFrame, v: Long, name: String)
                            (commit: (StructType, Row) => Manifest): Row = {
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
      val m = commit(StructType(data ++ part), metrics).copy(attempt = Some(attempt.getName))
      val out = fs.create(new Path(attempt, Marker), false)
      try out.write(m.toJson) finally out.close()
      publish(fs, attempt, new Path(dir(v)))
      resolve(v, m)
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

  /** The manifest of a base written as version `v`: `rows` observed. */
  private def baseManifest(v: Long)(schema: StructType, m: Row): Manifest =
    Manifest(schema, v, Some(metric(m, "rows")), Set.empty)

  /** Precedence for the merge window: accepted rows first (a rejected
    * row never displaces one), then highest `_seq` (batch=1 beats
    * snapshot=0), then the merge's sequence column descending when
    * there is one.
    */
  private def mergeOrder(seq: Option[String]): Seq[Column] =
    Seq(col("_rej").asc, col("_seq").desc) ++ seq.map(c => col(c).desc)

  /** Merge-or-upload a batch: batch rows override snapshot rows per
    * key; ties within the batch resolved by `seq`, else by the store's
    * `seqCol` (see class doc). Returns created/modified/deleted/failed
    * counts like UpsertPathsResult (reference:
    * Models/UpsertPathsResult.cs).
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
    * @param seq optional column of `batch` that orders one key's batch
    *   rows for this merge, largest first (any orderable type, such as
    *   a struct); like `tombstone` it is dropped before the write.
    */
  def mergeOrUpload(batch: DataFrame, reject: Option[Column] = None,
                    tombstone: Option[String] = None, seq: Option[String] = None): MergeResult = {
    val prev = currentVersion.map(snapshot)
    val nextV = prev.fold(0L)(_.version + 1)
    // the snapshot a delta merge builds on: one whose delta is under the
    // fold fraction; without one the merge writes a base
    val onto = prev.filterNot(p => folds(p.manifest))

    // ALL metrics are one observation over the merge window's winners,
    // taken by the write job itself: no snapshot re-counts, and —
    // because the batch plan executes exactly once — the failed count
    // can never disagree with what was written, even for a
    // nondeterministic batch frame. A NULL reject result counts as
    // rejected: under three-valued logic filter(p) and filter(!p) would
    // BOTH drop the row — it would vanish from the merge and the
    // failure count alike.
    val incoming = batch.select(col("*"),
      reject.fold(lit(false))(p => coalesce(p, lit(true))).as("_rej"),
      tombstone.fold(lit(false))(c => coalesce(col(c), lit(false))).as("_del"),
      lit(1).as("_seq"), lit(false).as("_probe")).drop(tombstone.toSeq: _*)
    // The prior rows: a base merge (fold) takes the whole live snapshot.
    // A delta merge takes the previous delta's rows and, from the base,
    // only the key column of the keys the delta does not hold (_probe):
    // those rows exist to tell _had and are never written.
    val prior = prev.map { p =>
      def tag(df: DataFrame, probe: Boolean) = df.select((if (!probe) Seq(col("*"))
        else p.manifest.schema.fields.toSeq.map(f =>
          if (f.name == keyCol) col(keyCol) else lit(null).cast(f.dataType).as(f.name))) ++ Seq(
        lit(false).as("_rej"), lit(false).as("_del"), lit(0).as("_seq"), lit(probe).as("_probe")): _*)
      val rows = if (onto.isEmpty) Some(p.live) else p.delta
      (onto.map(b => tag(b.base, probe = true)) ++ rows.map(tag(_, probe = false))).reduce(_ unionByName _)
    }
    // allowMissingColumns: batches may add columns over time (schema
    // evolution); absent columns null-fill on either side
    val tagged = prior.fold(incoming)(_.unionByName(incoming, allowMissingColumns = true))
    // One window operator: the three window functions share the key's
    // partitioning and the merge order. _rn picks the winner; over the
    // whole partition, _had: the snapshot held the key (a probe or
    // delta row exists), and _nrej: the key's rejected rows, counted
    // once on its winner. The winning row of any key the batch touched
    // with an accepted row is a batch row, so its _del and _had decide
    // created, modified or deleted. Catalyst does not push filters
    // through CollectMetrics: the observation sees the tombstoned,
    // rejected and probe winners the last filter drops.
    val byKey = Window.partitionBy(col(keyCol)).orderBy(mergeOrder(seq.orElse(seqCol)): _*)
    val whole = byKey.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val won = col("_seq") === 1 && !col("_rej")
    val kept = !col("_rej") && !col("_del") && !col("_probe")
    val name = s"graft_merge_${java.util.UUID.randomUUID()}"
    val counts = Seq(
      count_if(won && !col("_del") && !col("_had")).as("created"),
      count_if(won && !col("_del") && col("_had")).as("modified"),
      count_if(won && col("_del") && col("_had")).as("deleted"),
      sum(col("_nrej")).as("failed"),
      count_if(kept).as("rows"))
    // a delta merge's new keys: every key the batch upserted or deleted
    // (a tombstone of a key the snapshot did not hold changes nothing)
    val touched = collect_set(when(won && (!col("_del") || col("_had")), col(keyCol).cast("string")))
    val merged = tagged
      .select(col("*"), row_number().over(byKey).as("_rn"),
        (min(col("_seq")).over(whole) === 0).as("_had"), count_if(col("_rej")).over(whole).as("_nrej"))
      .filter(col("_rn") === 1)
      .observe(name, counts.head, counts.tail ++ onto.map(_ => touched.as("keys")): _*)
      .filter(kept)
      .drop(Seq("_rn", "_seq", "_had", "_nrej", "_rej", "_del", "_probe") ++ seq: _*)

    val m = writeObserving(merged, nextV, name) { (schema, observed) =>
      onto.fold(baseManifest(nextV)(schema, observed)) { p =>
        p.manifest.copy(schema = schema,
          keys = p.manifest.keys ++ observed.getSeq[String](observed.fieldIndex("keys")))
      }
    }
    MergeResult(metric(m, "created"), metric(m, "modified"), metric(m, "failed"), nextV,
      metric(m, "deleted"))
  }

  /** Fold the live snapshot into a new base of `numFiles` part files —
    * the small-files compaction every lake index needs after many
    * incremental merges (thousands of tiny parquet files kill scan
    * throughput; the optimize pass restores fat, scan-friendly files).
    */
  def optimize(numFiles: Int = 1): Long = currentVersion match {
    case None => 0L
    case Some(v) =>
      val name = s"graft_opt_${java.util.UUID.randomUUID()}"
      metric(writeObserving(
        snapshot(v).live.repartition(numFiles).observe(name, count(lit(1)).as("rows")), v + 1, name)(
        baseManifest(v + 1)), "rows")
  }

  /** Retire all but the newest `keepLast` versions (vacuum). Returns
    * the number of versions retired. Readers of the live snapshot are
    * unaffected: a retired version that a kept one reads as its base
    * loses only its marker, and its files go once no kept version
    * reads them.
    */
  def compact(keepLast: Int = 1): Int = {
    require(keepLast >= 1, "must keep at least the live snapshot")
    val fs = hadoopFs
    val all = versions
    val (old, kept) = all.splitAt(all.length - keepLast)
    val bases = kept.map(v => resolved.filter(_.version == v).fold(readManifest(v))(_.manifest).base).toSet
    old.foreach(v => if (bases(v)) fs.delete(marker(v), false) else fs.delete(new Path(dir(v)), true))
    // bases retired earlier that no kept version reads any more
    Option(fs.globStatus(new Path(root, "v=*"))).toSeq.flatten.map(_.getPath)
      .filter(p => !bases(p.getName.stripPrefix("v=").toLong) && !fs.exists(new Path(p, Marker)))
      .foreach(fs.delete(_, true))
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

object IndexStore {
  /** A delta read filters every base row against the delta's key set,
    * and a delta merge rewrites every delta row, so both costs grow with
    * the delta. Once it covers more than 1/8 of the base's rows, the
    * next merge writes a full base instead: a delta merge then writes at
    * most about 1/8 of what a full rewrite writes, and the live files
    * hold at most about 9/8 of the live rows.
    */
  val FoldDenominator = 8

  private val Marker = "_graft_commit"

  /** The partition column a delta read sees for the version directories. */
  private val VersionCol = "v"

  private val Json = new ObjectMapper()

  /** Publish `attempt`, a finished write holding a marker that names the
    * attempt, as `target` by one rename, and throw unless `target` then
    * holds this attempt. The rename fails when `target` exists, except on
    * the local filesystem: it checks for `target`, then renames, and
    * when another writer's `target` appears in between, it copies the
    * attempt INTO that `target` and reports success. So the marker at
    * `target` decides, on every filesystem: a writer whose attempt it
    * does not name lost the race, deletes its nested copy and throws.
    */
  private[graft] def publish(fs: FileSystem, attempt: Path, target: Path): Unit = {
    def lost(cause: Throwable) = new IllegalStateException(
      s"$target was committed by another writer: this write was not applied", cause)
    try FileContext.getFileContext(fs.getUri, fs.getConf).rename(attempt, target)
    catch { case e: FileAlreadyExistsException => throw lost(e) }
    val in = fs.open(new Path(target, Marker))
    val committed = try Json.readTree(in).path("attempt").asText() finally in.close()
    if (committed != attempt.getName) {
      fs.delete(new Path(target, attempt.getName), true)
      throw lost(null)
    }
  }

  /** A committed version's marker: the schema a read returns, the
    * version whose files hold the base, the base's row count, the keys
    * (cast to string) upserted or deleted since the base, and the
    * attempt directory that wrote it (see [[publish]]). A base is its
    * own base with no keys. A marker that holds only a schema, as older
    * code wrote it, reads as a base of unknown size.
    */
  private[sources] final case class Manifest(schema: StructType, base: Long, baseRows: Option[Long],
                                             keys: Set[String], attempt: Option[String] = None) {
    def toJson: Array[Byte] = {
      val o = Json.createObjectNode()
      o.set[JsonNode]("schema", Json.readTree(schema.json))
      o.put("base", base)
      baseRows.foreach(n => o.put("baseRows", n))
      attempt.foreach(a => o.put("attempt", a))
      val ks = o.putArray("keys")
      keys.toSeq.sorted.foreach(k => ks.add(k))
      Json.writeValueAsBytes(o)
    }
  }

  private[sources] object Manifest {
    def parse(node: JsonNode, v: Long): Manifest = {
      def schema(n: JsonNode) = DataType.fromJson(n.toString).asInstanceOf[StructType]
      if (!node.has("schema")) Manifest(schema(node), v, None, Set.empty)
      else Manifest(schema(node.get("schema")), node.get("base").asLong,
        Option(node.get("baseRows")).map(_.asLong), node.get("keys").asScala.map(_.asText).toSet)
    }
  }

  /** Whether a merge onto `m` writes a full base: its delta covers more
    * than 1/[[FoldDenominator]] of the base's rows, or it has a delta on
    * a base of unknown size. */
  private[sources] def folds(m: Manifest): Boolean =
    m.keys.nonEmpty && m.baseRows.forall(n => m.keys.size.toLong * FoldDenominator > n)
}
