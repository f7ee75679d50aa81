package graft

import graft.operators.Indexer
import graft.sources.IndexStore

/** End-to-end incremental indexer: run → state advances → rerun is a
  * no-op → new events produce a delta-only merge.
  */
class IndexerE2ESpec extends SparkSpec {

  private def hconf = spark.sparkContext.hadoopConfiguration

  test("a crash between watermark delete and rename is recoverable from the tmp file") {
    val stateDir = tempDir("graft_wm_crash").toString
    Indexer.writeWatermark(stateDir, 42L, hconf)
    assert(Indexer.readWatermark(stateDir, hconf) == 42L)
    // simulate writeWatermark(99) crashing after delete(dst), before
    // rename: tmp holds the new value, dst is gone
    val fs = new org.apache.hadoop.fs.Path(stateDir).getFileSystem(hconf)
    val tmp = new org.apache.hadoop.fs.Path(stateDir, "last_run_ns.tmp")
    val out = fs.create(tmp, true)
    try out.write("99".getBytes("UTF-8")) finally out.close()
    fs.delete(new org.apache.hadoop.fs.Path(stateDir, "last_run_ns"), false)
    assert(Indexer.readWatermark(stateDir, hconf) == 99L) // not MinValue: no full re-index
  }

  test("incremental runs are watermarked, idempotent, and mergeable") {
    val idxDir = tempDir("graft_e2e_idx").toString
    val stateDir = tempDir("graft_e2e_state").toString
    val store = new IndexStore(spark, idxDir, "key")

    // first run: everything since epoch
    val r1 = Indexer.runIncremental(spark, sf, store, stateDir)
    assert(r1.metrics.uploadCreatedCount > 0)
    assert(r1.metrics.uploadModifiedCount == 0)
    assert(r1.metrics.readCount ==
      r1.metrics.uploadCreatedCount + r1.metrics.uploadFailedTooLargeCount)
    val state1 = store.read().get.count()
    assert(state1 == r1.metrics.uploadCreatedCount)
    assert(Indexer.readWatermark(stateDir, hconf) == r1.newWatermarkNs)

    // second run with no new events: complete no-op
    val r2 = Indexer.runIncremental(spark, sf, store, stateDir)
    assert(r2.metrics.readCount == 0 && r2.metrics.processedCount == 0)
    assert(store.currentVersion.contains(0L)) // no new snapshot version
    assert(store.read().get.count() == state1)

    // simulate catching up from a mid-stream watermark (5 days earlier)
    Indexer.writeWatermark(stateDir, r1.newWatermarkNs - 5L * 24 * 3600 * 1000000000L, hconf)
    val r3 = Indexer.runIncremental(spark, sf, store, stateDir)
    assert(r3.metrics.readCount > 0)
    assert(r3.metrics.uploadModifiedCount > 0) // overlapping keys merged, not duplicated
    assert(store.read().get.select("key").distinct().count() == store.read().get.count())
  }

  test("partitioned scheduled runs progress independently with per-partition watermarks") {
    val idxDir = tempDir("graft_part_idx").toString
    val stateRoot = tempDir("graft_part_state").toString
    val store = new IndexStore(spark, idxDir, "key")

    // run ONLY partition 1 first: its watermark advances, others untouched
    val first = Indexer.runPartitioned(spark, sf, store, stateRoot, partitions = Seq(1))
    val r1 = first(1)
    assert(r1.metrics.uploadCreatedCount > 0)
    assert(Indexer.readWatermark(s"$stateRoot/part_1", hconf) == r1.newWatermarkNs)
    assert(Indexer.readWatermark(s"$stateRoot/part_2", hconf) == Long.MinValue)
    // everything indexed so far is partition-1 paths (data%2fpart_1…)
    val keys1 = store.read().get.select("key").collect().map(_.getString(0))
    val decoded = keys1.map(k => new String(java.util.Base64.getDecoder.decode(k), "UTF-8"))
    assert(decoded.nonEmpty && decoded.forall(_.contains("%2fdata%2fpart_1")))

    // partition 2 then runs against the same store without disturbing p1
    val second = Indexer.runPartitioned(spark, sf, store, stateRoot, partitions = Seq(2))
    val r2 = second(2)
    assert(r2.metrics.uploadCreatedCount > 0)
    assert(r2.metrics.uploadModifiedCount == 0) // disjoint prefixes never collide
    assert(store.read().get.count() ==
      r1.metrics.uploadCreatedCount + r2.metrics.uploadCreatedCount)

    // idempotent: rerunning both with no new events is a complete no-op
    val rerun = Indexer.runPartitioned(spark, sf, store, stateRoot, partitions = Seq(1, 2))
    assert(rerun.values.forall(r => r.metrics.readCount == 0 && r.metrics.processedCount == 0))
    assert(store.read().get.count() ==
      r1.metrics.uploadCreatedCount + r2.metrics.uploadCreatedCount)
  }

  test("indexer_run_history rows equal the imperative runPartitioned metrics") {
    // the queryable history table must agree with what the actual
    // partitioned runs record: seed each partition's watermark just
    // below the history key's cutoff (tsAfterNs(cutoff-1) ≡
    // tsSinceNs(cutoff) on int64 nanos) and cross-foot per run.
    val idxDir = tempDir("graft_hist_idx").toString
    val stateRoot = tempDir("graft_hist_state").toString
    val store = new IndexStore(spark, idxDir, "key")
    val cutoff = graft.operators.PathIndexOps.CutoffNs
    Seq(1, 3).foreach(p => Indexer.writeWatermark(s"$stateRoot/part_$p", cutoff - 1, hconf))
    val runs = Indexer.runPartitioned(spark, sf, store, stateRoot, partitions = Seq(1, 3))
    val hist = graft.operators.IndexerOps.indexerRunHistory(spark, sf)
      .collect().map(r => r.getAs[Long]("run_id") -> r).toMap
    assert(hist.keySet == (0L to 9L).toSet)
    Seq(1, 3).foreach { p =>
      val (m, h) = (runs(p).metrics, hist(p.toLong))
      assert(h.getAs[Long]("read_count") == m.readCount, s"p$p readCount")
      assert(h.getAs[Long]("read_failed_count") == m.readFailedCount, s"p$p readFailed")
      assert(h.getAs[Long]("upload_count") == m.uploadCreatedCount + m.uploadModifiedCount, s"p$p upload")
      assert(h.getAs[Long]("upload_failed_too_large_count") == m.uploadFailedTooLargeCount, s"p$p tooLarge")
    }
  }

  test("upload failure injection surfaces in uploadFailedCount") {
    import org.apache.spark.sql.functions.col
    val idxDir = tempDir("graft_fail_idx").toString
    val stateDir = tempDir("graft_fail_state").toString
    val store = new IndexStore(spark, idxDir, "key")
    val r = Indexer.runIncremental(spark, sf, store, stateDir,
      uploadReject = Some(col("numbervalue") % 10 === 3))
    assert(r.metrics.uploadFailedCount > 0)
    assert(store.read().get.filter(col("numbervalue") % 10 === 3).count() == 0)
  }

  /** Runs `body` and returns its result with the number of Spark actions
    * (QueryExecutionListener successes) it ran. */
  private def countingActions[T](body: => T): (T, Int) = {
    val executions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = executions.incrementAndGet()
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = executions.incrementAndGet()
    }
    spark.listenerManager.register(listener)
    try {
      val r = body
      // listener events are posted asynchronously: settle before reading
      Thread.sleep(1000)
      (r, executions.get())
    } finally spark.listenerManager.unregister(listener)
  }

  test("a full run and a 5-day catch-up return the pinned sf0.001 RunMetrics") {
    val store = new IndexStore(spark, tempDir("graft_pin_idx").toString,
      "key", partitionCol = Some("filesystem"))
    val stateDir = tempDir("graft_pin_state").toString
    val r1 = Indexer.runIncremental(spark, sf, store, stateDir)
    assert(r1.metrics == graft.model.RunMetrics(694, 12, 637, 637, 0, 0, 57))
    assert(store.read().get.count() == 637)
    Indexer.writeWatermark(stateDir, r1.newWatermarkNs - 5L * 24 * 3600 * 1000000000L, hconf)
    val r2 = Indexer.runIncremental(spark, sf, store, stateDir)
    assert(r2.metrics == graft.model.RunMetrics(116, 3, 105, 0, 105, 0, 11))
    assert(r2.newWatermarkNs == r1.newWatermarkNs)
    assert(Indexer.readWatermark(stateDir, hconf) == r1.newWatermarkNs)
  }

  test("a run is two actions, an idle rerun one action that commits no version") {
    val store = new IndexStore(spark, tempDir("graft_budget_idx").toString, "key")
    val stateDir = tempDir("graft_budget_state").toString
    val (r1, actions1) = countingActions(Indexer.runIncremental(spark, sf, store, stateDir))
    assert(r1.metrics.uploadCreatedCount > 0)
    assert(actions1 == 2, s"a run with new events should be 2 actions, saw $actions1")
    assert(store.currentVersion.contains(0L))

    val (r2, actions2) = countingActions(Indexer.runIncremental(spark, sf, store, stateDir))
    assert(r2.metrics == graft.model.RunMetrics(0, 0, 0, 0, 0, 0, 0))
    assert(r2.newWatermarkNs == r1.newWatermarkNs)
    assert(actions2 == 1, s"an idle rerun should be 1 action, saw $actions2")
    assert(store.currentVersion.contains(0L)) // no new snapshot version
  }

  test("a log holding only deletes advances the watermark and uploads nothing") {
    import org.apache.spark.sql.functions.{col, max}
    val store = new IndexStore(spark, tempDir("graft_del_idx").toString, "key")
    val stateDir = tempDir("graft_del_state").toString
    val r = Indexer.runIncremental(spark, sf, store, stateDir,
      odataFilter = Some("event_type eq 'error'"))
    val maxDeleteNs = Tables.events(spark, sf).filter(col("event_type") === "error")
      .agg(max(col("ts_ns"))).head().getLong(0)
    assert(r.newWatermarkNs == maxDeleteNs)
    assert(Indexer.readWatermark(stateDir, hconf) == maxDeleteNs)
    assert(r.metrics == graft.model.RunMetrics(0, 0, 0, 0, 0, 0, 0))
    assert(store.read().forall(_.isEmpty))
  }

  test("a run whose merge throws releases its persisted frame and commits nothing") {
    import org.apache.spark.sql.functions.{lit, raise_error}
    val store = new IndexStore(spark, tempDir("graft_boom_idx").toString, "key")
    val stateDir = tempDir("graft_boom_state").toString
    val first = Indexer.runIncremental(spark, sf, store, stateDir)
    Indexer.writeWatermark(stateDir, first.newWatermarkNs - 5L * 24 * 3600 * 1000000000L, hconf)
    val wm = Indexer.readWatermark(stateDir, hconf)
    val cached = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception] {
      Indexer.runIncremental(spark, sf, store, stateDir,
        uploadReject = Some(raise_error(lit("boom"))))
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet == cached)
    assert(Indexer.readWatermark(stateDir, hconf) == wm)
    assert(store.currentVersion.contains(0L))
  }
}
