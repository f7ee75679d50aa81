package graft

import graft.sources.{DocumentSource, IndexStore}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files
import scala.jdk.CollectionConverters._

class SourcesSpec extends SparkSpec {

  test("IndexStore merge-or-upload: created/modified counts and latest-wins") {
    val root = tempDir("graft_idx").toString
    val store = new IndexStore(spark, root, "key")
    import spark.implicits._

    val b1 = Seq(("k1", "v1"), ("k2", "v2")).toDF("key", "value")
    val r1 = store.mergeOrUpload(b1)
    assert(r1 == graft.sources.MergeResult(2, 0, 0, 0))

    // second batch: one update, one insert
    val b2 = Seq(("k2", "v2b"), ("k3", "v3")).toDF("key", "value")
    val r2 = store.mergeOrUpload(b2)
    assert(r2.created == 1 && r2.modified == 1 && r2.version == 1)

    val state = store.read().get.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state == Map("k1" -> "v1", "k2" -> "v2b", "k3" -> "v3"))
  }

  test("IndexStore merge runs exactly one action (metrics ride the write job)") {
    val root = tempDir("graft_idx1a").toString
    val store = new IndexStore(spark, root, "key")
    import spark.implicits._
    store.mergeOrUpload(Seq(("k1", "v1"), ("k2", "v2")).toDF("key", "value"))

    val executions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = executions.incrementAndGet()
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val r = store.mergeOrUpload(
        Seq(("k2", "v2b"), ("k3", "v3"), ("bad", "x")).toDF("key", "value"),
        reject = Some(col("key") === "bad"))
      assert(r.created == 1 && r.modified == 1 && r.failed == 1)
      // QueryExecutionListener events are posted asynchronously: wait
      // for the first, then settle to catch any stragglers
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (executions.get() < 1 && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(500)
      assert(executions.get() == 1,
        s"merge should be a single action (the snapshot write), saw ${executions.get()}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("IndexStore delete-by-key removes tombstoned keys") {
    val root = tempDir("graft_idx2").toString
    val store = new IndexStore(spark, root, "key")
    import spark.implicits._
    store.mergeOrUpload(Seq(("a", 1), ("b", 2), ("c", 3)).toDF("key", "n"))
    val deleted = store.deleteKeys(Seq("b", "zz").toDF("key"))
    assert(deleted == 1)
    assert(store.read().get.select("key").collect().map(_.getString(0)).sorted
      .sameElements(Array("a", "c")))
  }

  test("partitioned IndexStore prunes partitions on filtered reads") {
    val root = tempDir("graft_idx3").toString
    val store = new IndexStore(spark, root, "key", partitionCol = Some("fs"))
    import spark.implicits._
    store.mergeOrUpload(Seq(
      ("k1", "fs0", 1), ("k2", "fs0", 2), ("k3", "fs1", 3), ("k4", "fs2", 4))
      .toDF("key", "fs", "n"))
    // hive layout on disk
    val dirs = new java.io.File(s"$root/v=0").listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.sameElements(Array("fs=fs0", "fs=fs1", "fs=fs2")))
    // filtered read prunes to one partition
    val df = store.read().get.filter(col("fs") === "fs1")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("fs1"), s"plan:\n$plan")
    assert(df.count() == 1)
    // merge keeps partitioning across versions
    store.mergeOrUpload(Seq(("k5", "fs1", 5)).toDF("key", "fs", "n"))
    assert(store.read().get.filter(col("fs") === "fs1").count() == 2)
    // ...and so do delete-by-key and optimize (pruning must survive
    // vacuum/compaction, not just merges)
    store.deleteKeys(Seq("k1").toDF("key"))
    val afterDelete = new java.io.File(s"$root/v=${store.currentVersion.get}")
      .listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(afterDelete.forall(_.startsWith("fs=")) && afterDelete.nonEmpty)
    store.optimize(numFiles = 1)
    val afterOptimize = new java.io.File(s"$root/v=${store.currentVersion.get}")
      .listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(afterOptimize.forall(_.startsWith("fs=")) && afterOptimize.nonEmpty)
    assert(store.read().get.filter(col("fs") === "fs1").count() == 2)
  }

  test("IndexStore within-batch duplicate keys resolve by the caller's sequence column") {
    val root = tempDir("graft_idx_seq").toString
    val store = new IndexStore(spark, root, "key", seqCol = Some("ts"))
    import spark.implicits._
    // same key twice in ONE batch: highest ts must win, deterministically
    store.mergeOrUpload(Seq(("k1", 5L, "old"), ("k1", 9L, "new"), ("k2", 1L, "x"))
      .toDF("key", "ts", "v"))
    val s1 = store.read().get.collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(s1 == Map("k1" -> "new", "k2" -> "x"))
    // merge path (snapshot exists): batch-internal tie again, and batch
    // beats snapshot even when the snapshot ts is higher
    store.mergeOrUpload(Seq(("k1", 2L, "later-a"), ("k1", 3L, "later-b"))
      .toDF("key", "ts", "v"))
    val s2 = store.read().get.collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(s2 == Map("k1" -> "later-b", "k2" -> "x"))
  }

  test("IndexStore works through the Hadoop FileSystem API (file: URI root)") {
    // an explicit scheme'd URI exercises the same code path an
    // hdfs:///abfs:// root would take (no java.io.File assumptions)
    val root = "file://" + tempDir("graft_idx_uri").toString
    val store = new IndexStore(spark, root, "key")
    import spark.implicits._
    store.mergeOrUpload(Seq(("a", 1), ("b", 2)).toDF("key", "n"))
    store.mergeOrUpload(Seq(("b", 20), ("c", 3)).toDF("key", "n"))
    assert(store.currentVersion.contains(1L))
    assert(store.read().get.count() == 3)
    assert(store.compact(keepLast = 1) == 1)
    assert(store.read().get.count() == 3)
  }

  test("IndexStore failure injection counts rejected rows as failed uploads") {
    val root = tempDir("graft_idx_fail").toString
    val store = new IndexStore(spark, root, "key")
    import spark.implicits._
    val r = store.mergeOrUpload(
      Seq(("a", 1), ("b", -2), ("c", 3)).toDF("key", "n"),
      reject = Some(col("n") < 0))
    assert(r.failed == 1 && r.created == 2)
    assert(store.read().get.select("key").collect().map(_.getString(0)).sorted
      .sameElements(Array("a", "c")))
  }

  test("json source tolerates corrupt records and reports them") {
    val dir = tempDir("graft_json")
    Files.writeString(dir.resolve("docs.json"),
      """{"id": 1, "s": "ok"}
        |{"id": 2, "s": "also ok"}
        |{not json at all
        |{"id": "wrongtype", "s": 3}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType)))
    val (good, bad) = DocumentSource.jsonWithMetrics(spark, dir.toString, schema)
    assert(good.count() == 2)
    assert(bad.count() == 2) // malformed line + type mismatch
    assert(good.collect().map(_.getAs[Long]("id")).sorted.sameElements(Array(1L, 2L)))
  }

  test("recursive listing finds nested files and skips directories") {
    val dir = tempDir("graft_ls")
    Files.createDirectories(dir.resolve("a/b"))
    Files.write(dir.resolve("root.txt"), Array[Byte](1))
    Files.write(dir.resolve("a/mid.txt"), Array[Byte](1, 2))
    Files.write(dir.resolve("a/b/leaf.txt"), Array[Byte](1, 2, 3))
    val df = DocumentSource.listFilesRecursive(spark, dir.toString)
    val rows = df.collect()
    assert(rows.length == 3)
    val byName = rows.map(r => r.getString(0).split('/').last -> r.getLong(1)).toMap
    assert(byName == Map("root.txt" -> 1L, "mid.txt" -> 2L, "leaf.txt" -> 3L))
  }

  test("IndexStore schema evolution and compaction") {
    val root = tempDir("graft_idx4").toString
    val store = new IndexStore(spark, root, "key")
    import spark.implicits._
    store.mergeOrUpload(Seq(("a", 1)).toDF("key", "n"))
    // evolved batch adds a column
    store.mergeOrUpload(Seq(("b", 2, "extra")).toDF("key", "n", "tag"))
    val state = store.read().get
    assert(state.columns.sorted.sameElements(Array("key", "n", "tag")))
    assert(state.filter(col("key") === "a").collect().head.getAs[String]("tag") == null)
    // three versions exist? (v0, v1); add one more then compact
    store.mergeOrUpload(Seq(("c", 3, "t")).toDF("key", "n", "tag"))
    assert(store.currentVersion.contains(2L))
    val removed = store.compact(keepLast = 1)
    assert(removed == 2)
    assert(store.read().get.count() == 3) // live snapshot intact
  }

  test("optimize compacts the live snapshot into few files") {
    val root = tempDir("graft_idx5").toString
    val store = new IndexStore(spark, root, "key")
    import spark.implicits._
    // many merges → many small files
    (1 to 4).foreach(i => store.mergeOrUpload(Seq((s"k$i", i)).toDF("key", "n")))
    val rows = store.optimize(numFiles = 1)
    assert(rows == 4)
    val files = new java.io.File(s"$root/v=${store.currentVersion.get}")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files == 1)
    assert(store.read().get.count() == 4)
  }

  test("binary source reads payload bytes with metadata") {
    val dir = tempDir("graft_bin")
    Files.write(dir.resolve("a.bin"), Array[Byte](1, 2, 3))
    Files.write(dir.resolve("b.bin"), Array[Byte](4, 5))
    val df = DocumentSource.binaryFiles(spark, dir.toString, "*.bin")
    val rows = df.collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[Long]("length")).sorted.sameElements(Array(2L, 3L)))
    assert(rows.forall(r => r.getAs[Array[Byte]]("content").length == r.getAs[Long]("length")))
  }

  private def keysOf(store: IndexStore): Seq[String] =
    store.read().toSeq.flatMap(_.select("key").collect().map(_.getString(0))).sorted

  test("IndexStore tombstone merge: created, modified and deleted from one action") {
    val root = tempDir("graft_idx_tomb").toString
    val store = new IndexStore(spark, root, "key")
    import spark.implicits._
    store.mergeOrUpload(Seq(("k1", "v1", false), ("k2", "v2", false), ("k3", "v3", false))
      .toDF("key", "value", "gone"), tombstone = Some("gone"))

    val executions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = executions.incrementAndGet()
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // k1 modified, k2 deleted, k4 created, k9 a tombstone for an
      // absent key (no-op), bad rejected
      val r = store.mergeOrUpload(
        Seq(("k1", "v1b", false), ("k2", null, true), ("k4", "v4", false),
          ("k9", null, true), ("bad", "x", false)).toDF("key", "value", "gone"),
        reject = Some(col("key") === "bad"), tombstone = Some("gone"))
      assert(r == graft.sources.MergeResult(created = 1, modified = 1, failed = 1, version = 1, deleted = 1))
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (executions.get() < 1 && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(500)
      assert(executions.get() == 1,
        s"a tombstone merge should be a single action (the snapshot write), saw ${executions.get()}")
    } finally spark.listenerManager.unregister(listener)

    val state = store.read().get
    assert(state.columns.sameElements(Array("key", "value"))) // tombstone column dropped
    assert(state.collect().map(r => r.getString(0) -> r.getString(1)).toMap ==
      Map("k1" -> "v1b", "k3" -> "v3", "k4" -> "v4"))
  }

  test("IndexStore tombstones: absent keys are a no-op, a later upsert resurrects a deleted key") {
    val root = tempDir("graft_idx_tomb2").toString
    val store = new IndexStore(spark, root, "key", seqCol = Some("ts"))
    import spark.implicits._
    store.mergeOrUpload(Seq(("a", 1L, false), ("b", 1L, false)).toDF("key", "ts", "del"),
      tombstone = Some("del"))
    val noop = store.mergeOrUpload(Seq(("zz", 2L, true)).toDF("key", "ts", "del"), tombstone = Some("del"))
    assert(noop.created == 0 && noop.modified == 0 && noop.deleted == 0)
    assert(keysOf(store) == Seq("a", "b"))
    // within one batch the caller's sequence column picks the winner:
    // b's later tombstone beats its earlier upsert
    val del = store.mergeOrUpload(Seq(("b", 3L, false), ("b", 4L, true)).toDF("key", "ts", "del"),
      tombstone = Some("del"))
    assert(del.deleted == 1 && del.modified == 0 && keysOf(store) == Seq("a"))
    val back = store.mergeOrUpload(Seq(("b", 5L, false)).toDF("key", "ts", "del"), tombstone = Some("del"))
    assert(back.created == 1 && back.deleted == 0 && keysOf(store) == Seq("a", "b"))
    assert(store.deleteKeys(Seq("a", "nope").toDF("key")) == 1)
    assert(keysOf(store) == Seq("b"))
  }

  test("IndexStore schema-evolving merge with tombstones still null-fills") {
    val root = tempDir("graft_idx_tomb3").toString
    val store = new IndexStore(spark, root, "key")
    import spark.implicits._
    store.mergeOrUpload(Seq(("a", 1), ("b", 2)).toDF("key", "n"))
    val r = store.mergeOrUpload(Seq(("c", 3, "t", false), ("b", 0, null, true))
      .toDF("key", "n", "tag", "del"), tombstone = Some("del"))
    assert(r.created == 1 && r.deleted == 1)
    val state = store.read().get
    assert(state.columns.sorted.sameElements(Array("key", "n", "tag")))
    val byKey = state.collect().map(r => r.getAs[String]("key") -> r.getAs[String]("tag")).toMap
    assert(byKey == Map("a" -> null, "c" -> "t"))
  }

  test("IndexStore: an empty or tombstone-only batch into an empty store stays readable") {
    import spark.implicits._
    for (part <- Seq(None, Some("fs"))) {
      def open(root: String) = new IndexStore(spark, root, "key", partitionCol = part)
      def rows(s: IndexStore) = s.read().map(_.count()).getOrElse(0L)

      val root = tempDir("graft_idx_empty").toString
      val store = open(root)
      val r = store.mergeOrUpload(Seq.empty[(String, String, Int)].toDF("key", "fs", "n"))
      assert(r.created == 0 && r.modified == 0 && r.deleted == 0, s"partition=$part")
      assert(rows(store) == 0 && rows(open(root)) == 0, s"partition=$part")
      store.mergeOrUpload(Seq(("k1", "fs0", 1)).toDF("key", "fs", "n"))
      assert(rows(store) == 1 && rows(open(root)) == 1, s"partition=$part")

      val root2 = tempDir("graft_idx_empty_tomb").toString
      val store2 = open(root2)
      val r2 = store2.mergeOrUpload(Seq(("k1", "fs0", 1, true)).toDF("key", "fs", "n", "del"),
        tombstone = Some("del"))
      assert(r2.created == 0 && r2.deleted == 0, s"partition=$part")
      assert(rows(store2) == 0 && rows(open(root2)) == 0, s"partition=$part")
      val cols = open(root2).read().map(_.columns.toSeq).getOrElse(Nil)
      assert(cols.isEmpty || cols.sorted == Seq("fs", "key", "n"), s"partition=$part: $cols")
      assert(store2.deleteKeys(Seq("k1").toDF("key")) == 0)
      store2.mergeOrUpload(Seq(("k2", "fs1", 2, false)).toDF("key", "fs", "n", "del"),
        tombstone = Some("del"))
      assert(keysOf(open(root2)) == Seq("k2"), s"partition=$part")

      // every row rejected: nothing reaches the merge window's shuffle,
      // and the failures must still be counted
      val root3 = tempDir("graft_idx_empty_rej").toString
      val r3 = open(root3).mergeOrUpload(Seq(("k1", "fs0", -1), ("k2", "fs1", -2)).toDF("key", "fs", "n"),
        reject = Some(col("n") < 0))
      assert(r3.failed == 2 && r3.created == 0, s"partition=$part")
      assert(rows(open(root3)) == 0, s"partition=$part")
    }
  }

  test("IndexStore: a reader polling during a large merge never sees an uncommitted snapshot") {
    val root = tempDir("graft_idx_poll").toString
    val store = new IndexStore(spark, root, "key")
    import spark.implicits._
    store.mergeOrUpload(Seq(("seed", 0L)).toDF("key", "n"))
    // each of the batch's four partitions stalls on its first row, which
    // holds the write job — and its attempt directory — open for seconds
    val stall = udf { (n: Long) => if (n % 50000 == 0) Thread.sleep(2000); n }
    val big = spark.range(0, 200000, 1, 4).select(col("id").cast("string").as("key"), stall(col("id")).as("n"))
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val writer = new Thread(() => try { store.mergeOrUpload(big); () } catch { case t: Throwable => failure.set(t) })
    writer.start()
    // a separate store object: nothing cached from the writer's side
    val reader = new IndexStore(spark, root, "key")
    var polls = 0
    var sawInFlight = false
    while (writer.isAlive) {
      val inFlight = new java.io.File(root).list().exists(_.startsWith("_attempt-"))
      val v = reader.currentVersion
      val n = reader.read().get.count()
      assert(v.contains(0L) || v.contains(1L), s"version $v")
      assert(n == 1L || n == 200001L, s"reader saw a partial snapshot: $n rows")
      if (inFlight && v.contains(0L)) sawInFlight = true
      polls += 1
    }
    writer.join()
    assert(failure.get() == null, s"merge failed: ${failure.get()}")
    assert(sawInFlight, s"the $polls polls never overlapped the in-flight write")
    assert(reader.currentVersion.contains(1L) && reader.read().get.count() == 200001L)
  }

  test("IndexStore read() reuses the committed schema: no footer job, same schema as a fresh store") {
    import spark.implicits._
    val root = tempDir("graft_idx_schema").toString
    def fresh = new IndexStore(spark, root, "key", partitionCol = Some("part"))
    val store = fresh
    // numeric-looking partition values: a path-inferring read would turn
    // the column into an integer
    store.mergeOrUpload(Seq(("a", 1L, "1"), ("b", 2L, "02")).toDF("key", "n", "part"))
    assert(store.read().get.schema == fresh.read().get.schema)
    store.mergeOrUpload(Seq(("c", 3L, "1", "t")).toDF("key", "n", "part", "tag"))
    val schema = store.read().get.schema
    assert(schema == fresh.read().get.schema)
    assert(schema.fieldNames.sameElements(Array("key", "n", "tag", "part")))
    assert(schema("part").dataType == StringType)
    assert(store.read().get.filter(col("part") === "02").select("key").collect().map(_.getString(0))
      .sameElements(Array("b")))
    val jobs = jobsDuring { store.read().get.schema; fresh.read().get.schema; () }
    assert(jobs.isEmpty, s"read() ran Spark jobs: $jobs")

    // unpartitioned: the committed schema is exactly what Spark infers
    // from the files, nested and timestamp columns included
    val root2 = tempDir("graft_idx_schema2").toString
    val store2 = new IndexStore(spark, root2, "key")
    store2.mergeOrUpload(Seq(("a", 1L)).toDF("key", "n"))
    store2.mergeOrUpload(Seq(("b", 2L)).toDF("key", "n")
      .withColumn("at", current_timestamp()).withColumn("s", struct(col("n").as("m"), lit("x").as("y"))))
    val v = store2.currentVersion.get
    assert(store2.read().get.schema == spark.read.parquet(s"$root2/v=$v").schema)
    assert(new IndexStore(spark, root2, "key").read().get.schema == spark.read.parquet(s"$root2/v=$v").schema)
  }

  test("IndexStore memoizes the newest snapshot: repeat reads reuse it, writes and compact move it") {
    import spark.implicits._
    val root = tempDir("graft_idx_memo").toString
    def open = new IndexStore(spark, root, "key", partitionCol = Some("fs"))
    def rows(s: IndexStore): Seq[(String, Long)] =
      s.read().get.collect().map(r => r.getAs[String]("key") -> r.getAs[Long]("n")).toSeq.sorted
    val store = open
    store.mergeOrUpload(Seq(("a", 1L, "x"), ("b", 2L, "y")).toDF("key", "n", "fs"))
    // a second store on the root: its memo goes stale on every write
    val reader = open
    for (s <- Seq(store, reader)) {
      var reads = Seq.empty[org.apache.spark.sql.DataFrame]
      val jobs = jobsDuring { reads = Seq(s.read().get, s.read().get) }
      assert(jobs.isEmpty, s"read() ran Spark jobs: $jobs")
      assert(reads(0) eq reads(1), "the second read resolved the snapshot again")
    }
    def reads(want: (String, Long)*): Unit =
      Seq(store, reader).foreach(s => assert(rows(s) == want))
    reads("a" -> 1L, "b" -> 2L)

    store.mergeOrUpload(Seq(("b", 20L, "y"), ("c", 3L, "x")).toDF("key", "n", "fs"))
    reads("a" -> 1L, "b" -> 20L, "c" -> 3L)
    assert(store.optimize() == 3 && store.currentVersion.contains(2L))
    reads("a" -> 1L, "b" -> 20L, "c" -> 3L)
    store.mergeOrUpload(Seq(("a", 0L, "x", true)).toDF("key", "n", "fs", "gone"), tombstone = Some("gone"))
    reads("b" -> 20L, "c" -> 3L)

    assert(store.compact(keepLast = 1) == 3)
    reads("b" -> 20L, "c" -> 3L)
    assert(rows(open) == Seq("b" -> 20L, "c" -> 3L))
  }

  test("IndexStore: a tight reader never opens a commit marker before its schema is in it") {
    import spark.implicits._
    val root = tempDir("graft_idx_marker").toString
    val store = new IndexStore(spark, root, "key")
    store.mergeOrUpload(Seq(("k0", 0L)).toDF("key", "n"))
    // a second store on the root reads each new version's marker the
    // moment its glob sees it
    val reader = new IndexStore(spark, root, "key")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val reads = new java.util.concurrent.atomic.AtomicLong(0)
    val poller = new Thread(() =>
      try while (!stop.get()) { reader.read().get.schema; reads.incrementAndGet(); () }
      catch { case t: Throwable => failure.set(t) })
    poller.start()
    try (1 to 20).foreach(i => store.mergeOrUpload(Seq((s"k$i", i.toLong)).toDF("key", "n")))
    finally { stop.set(true); poller.join() }
    assert(failure.get() == null, s"a read failed after ${reads.get()} reads: ${failure.get()}")
    assert(reader.read().get.count() == 21)
  }

  test("IndexStore: of two writers racing for one version, exactly one commits it") {
    import spark.implicits._
    val root = tempDir("graft_idx_race").toString
    val a = new IndexStore(spark, root, "key")
    val b = new IndexStore(spark, root, "key")
    a.mergeOrUpload(Seq(("seed", "s")).toDF("key", "w"))
    assert(a.currentVersion.contains(0L) && b.currentVersion.contains(0L))
    WriteGate.reset()
    // writer A's batch blocks inside its write job until released, so B
    // commits v=1 while A's files are being written
    val gate = udf { (id: Long) => WriteGate.hold(); id }
    def batch(w: String, key: org.apache.spark.sql.Column) =
      spark.range(0, 100, 1, 2).select(concat(lit("k"), key.cast("string")).as("key"), lit(w).as("w"))
    val outcomes = new java.util.concurrent.ConcurrentHashMap[String, Either[Throwable, Long]]()
    def write(w: String, store: IndexStore, key: org.apache.spark.sql.Column): Unit =
      outcomes.put(w, scala.util.Try(store.mergeOrUpload(batch(w, key)).version).toEither): Unit
    val writerA = new Thread(() => write("a", a, gate(col("id"))))
    writerA.start()
    try {
      assert(WriteGate.entered.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "writer A never reached its write job")
      write("b", b, col("id"))
    } finally WriteGate.release.countDown()
    writerA.join()

    val won = outcomes.asScala.collect { case (w, Right(v)) => w -> v }
    assert(won.size == 1, s"outcomes: $outcomes")
    val (winner, v) = won.head
    assert(v == 1L)
    val lost = outcomes.asScala.collect { case (_, Left(e)) => e }.toSeq
    assert(lost.size == 1 && lost.head.getMessage.contains("v=1"), s"loser's error: $lost")
    val fresh = new IndexStore(spark, root, "key")
    assert(fresh.currentVersion.contains(1L))
    val rows = fresh.read().get.collect().map(r => r.getAs[String]("key") -> r.getAs[String]("w")).toSeq
    assert(rows.map(_._1).distinct.size == rows.size, "duplicate keys in the committed snapshot")
    assert(rows.sorted == (("seed" -> "s") +: (0 until 100).map(i => s"k$i" -> winner)).sorted)
    assert(new java.io.File(root).list().sorted.sameElements(Array("v=0", "v=1")),
      "the losing attempt was left behind")
  }

  test("IndexStore: publishes released together onto one version commit exactly one attempt") {
    import org.apache.hadoop.fs.Path
    val root = new Path(tempDir("graft_idx_publish").toUri)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def names(p: Path) = fs.listStatus(p).map(_.getPath.getName).filterNot(_.startsWith(".")).sorted.toSeq
    def attempt(): Path = {
      val a = new Path(root, s"_attempt-${java.util.UUID.randomUUID()}")
      val out = fs.create(new Path(a, "_graft_commit"), false)
      try out.write(s"""{"attempt":"${a.getName}"}""".getBytes("UTF-8")) finally out.close()
      fs.create(new Path(a, "part-0.parquet"), false).close()
      a
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try (0 until 400).foreach { v =>
      val target = new Path(root, s"v=$v")
      val attempts = Seq(attempt(), attempt())
      val start = new java.util.concurrent.CyclicBarrier(2)
      val outcomes = attempts.map(a => pool.submit(() => { start.await(); scala.util.Try(IndexStore.publish(fs, a, target)) }))
        .map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      // the loser's own attempt goes, as a writer's failed write does
      attempts.zip(outcomes).foreach { case (a, o) => if (o.isFailure) fs.delete(a, true) }
      assert(outcomes.count(_.isSuccess) == 1, s"v=$v: $outcomes")
      outcomes.foreach(_.failed.foreach(e =>
        assert(e.getMessage.contains("committed by another writer"), s"v=$v: $e")))
      // v=N holds the winner's files and marker alone, no nested attempt
      assert(names(target) == Seq("_graft_commit", "part-0.parquet"), s"v=$v")
      val in = fs.open(new Path(target, "_graft_commit"))
      val marker = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      assert(marker.contains(attempts(outcomes.indexWhere(_.isSuccess)).getName), s"v=$v: $marker")
    } finally pool.shutdownNow()
    assert(names(root) == (0 until 400).map(v => s"v=$v").sorted, "an attempt was left behind")
  }
}

/** Latches a blocking UDF reaches from the executor threads of a local
  * master (one JVM), so a spec can hold a write job at a known point. */
object WriteGate {
  @volatile var entered = new java.util.concurrent.CountDownLatch(1)
  @volatile var release = new java.util.concurrent.CountDownLatch(1)

  def reset(): Unit = {
    entered = new java.util.concurrent.CountDownLatch(1)
    release = new java.util.concurrent.CountDownLatch(1)
  }

  def hold(): Unit = {
    entered.countDown()
    release.await(60, java.util.concurrent.TimeUnit.SECONDS): Unit
  }
}
