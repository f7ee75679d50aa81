package graft

import graft.sources.IndexStore
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** End-to-end streaming indexer: a parquet file source streams change
  * batches into the merge-or-upload IndexStore via foreachBatch — the
  * full reference loop (events arrive → upsert index) in Structured
  * Streaming form.
  */
class StreamingIndexerSpec extends SparkSpec {

  test("file-source stream drives IndexStore merges batch by batch") {
    val inDir = tempDir("graft_stream_in").toString
    val ckDir = tempDir("graft_stream_ck").toString
    val idxDir = tempDir("graft_stream_idx").toString
    import spark.implicits._

    val schema = "key STRING, value STRING, seq LONG"
    val store = new IndexStore(spark, idxDir, "key")

    // first file lands before the stream starts. coalesce(1): each
    // write must commit as ONE file — the file source polls
    // continuously, and a two-part-file commit can be discovered
    // across two micro-batches (one rename visible, the other not
    // yet), which would split the batch into two merges and make the
    // version assertion below racy.
    Seq(("k1", "v1", 1L), ("k2", "v2", 1L)).toDF("key", "value", "seq")
      .coalesce(1).write.mode(SaveMode.Append).parquet(inDir)

    val stream = spark.readStream.schema(schema).parquet(inDir)
    val query = stream.writeStream
      .option("checkpointLocation", ckDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) { store.mergeOrUpload(batch); () }
      }
      .start()
    try {
      query.processAllAvailable()
      assert(store.read().get.count() == 2)

      // second file: one update, one insert — arrives mid-stream
      Seq(("k2", "v2b", 2L), ("k3", "v3", 2L)).toDF("key", "value", "seq")
        .coalesce(1).write.mode(SaveMode.Append).parquet(inDir)
      query.processAllAvailable()

      val state = store.read().get.collect()
        .map(r => r.getAs[String]("key") -> r.getAs[String]("value")).toMap
      assert(state == Map("k1" -> "v1", "k2" -> "v2b", "k3" -> "v3"))
      assert(store.currentVersion.contains(1L))
    } finally query.stop()
  }

  test("EventGrid envelope stream dispatches upserts and tombstones per micro-batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckDir = tempDir("graft_env_ck").toString
    val idxDir = tempDir("graft_env_idx").toString
    val store = new IndexStore(spark, idxDir, "key")

    def env(id: Long, fs: String, path: String, evType: String, t: String): (Long, String) =
      id -> (s"""{"topic":"/subscriptions/s/resourceGroups/r/providers/Microsoft.Storage/storageAccounts/a",""" +
        s""""subject":"/blobServices/default/containers/$fs/blobs/$path","eventType":"Microsoft.Storage.$evType",""" +
        s""""eventTime":"$t","id":"$id","data":{"api":"x","eTag":"etag$id","contentType":"application/json",""" +
        s""""contentLength":${id * 10},"blobType":"BlockBlob","url":"https://acct.dfs.core.windows.net/$fs/$path",""" +
        s""""sequencer":"s$id"},"dataVersion":"1","metadataVersion":"1"}""")

    val input = MemoryStream[(Long, String)]
    val deadLetters = new graft.streaming.IndexerStreamMetrics
    val query = graft.streaming.StreamingOps.indexBlobEventStream(
      input.toDF().toDF("event_id", "envelope"), store, ckDir, Some(deadLetters))
    try {
      // batch 1: two creates, plus a create+delete of the same path —
      // the delete is later, so the key must NOT survive
      input.addData(
        env(1, "fsA", "data/a.json", "BlobCreated", "2024-01-01T00:00:01Z"),
        env(2, "fsA", "data/b.json", "BlobCreated", "2024-01-01T00:00:02Z"),
        env(3, "fsA", "data/c.json", "BlobCreated", "2024-01-01T00:00:03Z"),
        env(4, "fsA", "data/c.json", "BlobDeleted", "2024-01-01T00:00:04Z"),
        // malformed envelope: must dead-letter, not upsert a null key
        99L -> "{not an envelope at all")
      query.processAllAvailable()
      val keys1 = store.read().get.collect().map(r =>
        new String(java.util.Base64.getDecoder.decode(r.getAs[String]("key")), "UTF-8")).sorted
      assert(keys1.sameElements(Array("fsA%2fdata%2fa.json", "fsA%2fdata%2fb.json")))
      assert(deadLetters.deadLetters == 1L) // the malformed envelope was counted, not lost

      // batch 2: modify a, delete b
      input.addData(
        env(5, "fsA", "data/a.json", "BlobCreated", "2024-01-01T01:00:00Z"),
        env(6, "fsA", "data/b.json", "BlobDeleted", "2024-01-01T01:00:01Z"))
      query.processAllAvailable()
      val state = store.read().get.collect()
      assert(state.length == 1)
      assert(state.head.getAs[String]("eTag") == "etag5") // modified, latest wins
    } finally query.stop()
  }

  /** The reference's operating regime is at-least-once delivery with
    * idempotent merge (PathIndexerFunc.cs:18-38): a consumer can die
    * AFTER applying a batch to the index but BEFORE committing the
    * checkpoint, and the batch replays on restart. This spec kills the
    * stream at exactly that point (by dropping the last commit marker,
    * which is what a crash between store write and checkpoint commit
    * leaves behind), restarts from the checkpoint, and proves (a) the
    * store converges to the batch twin's state and (b) the dead-letter
    * metrics do not double-count the replayed batch.
    */
  test("restart from checkpoint mid-stream: store converges, metrics don't double-count the replayed batch") {
    val inDir = tempDir("graft_crash_in").toString
    val ckDir = tempDir("graft_crash_ck").toString
    val idxDir = tempDir("graft_crash_idx").toString
    import spark.implicits._
    val store = new IndexStore(spark, idxDir, "key")
    val metrics = new graft.streaming.IndexerStreamMetrics

    def env(id: Long, fs: String, path: String, evType: String, t: String): (Long, String) =
      id -> (s"""{"topic":"/subscriptions/s/resourceGroups/r/providers/Microsoft.Storage/storageAccounts/a",""" +
        s""""subject":"/blobServices/default/containers/$fs/blobs/$path","eventType":"Microsoft.Storage.$evType",""" +
        s""""eventTime":"$t","id":"$id","data":{"api":"x","eTag":"etag$id","contentType":"application/json",""" +
        s""""contentLength":${id * 10},"blobType":"BlockBlob","url":"https://acct.dfs.core.windows.net/$fs/$path",""" +
        s""""sequencer":"s$id"},"dataVersion":"1","metadataVersion":"1"}""")

    def writeFile(rows: (Long, String)*): Unit =
      rows.toDF("event_id", "envelope").coalesce(1)
        .write.mode(SaveMode.Append).parquet(inDir)

    val file1 = Seq(
      env(1, "fsA", "data/a.json", "BlobCreated", "2024-01-01T00:00:01Z"),
      env(2, "fsA", "data/b.json", "BlobCreated", "2024-01-01T00:00:02Z"))
    val file2 = Seq(
      env(3, "fsA", "data/a.json", "BlobCreated", "2024-01-01T01:00:00Z"), // modify a
      env(4, "fsA", "data/c.json", "BlobCreated", "2024-01-01T01:00:01Z"),
      99L -> "{not an envelope at all") // 1 dead letter, must count ONCE
    val file3 = Seq(
      env(5, "fsA", "data/b.json", "BlobDeleted", "2024-01-01T02:00:00Z"),
      env(6, "fsA", "data/d.json", "BlobCreated", "2024-01-01T02:00:01Z"))

    def stream() = spark.readStream
      .schema("event_id LONG, envelope STRING")
      .option("maxFilesPerTrigger", 1) // one file per micro-batch
      .parquet(inDir)

    // ---- run 1: two batches land, then the process "dies" ----
    writeFile(file1: _*)
    writeFile(file2: _*)
    val q1 = graft.streaming.StreamingOps.indexBlobEventStream(stream(), store, ckDir, Some(metrics))
    try q1.processAllAvailable() finally q1.stop()
    q1.awaitTermination()
    // the checkpoint registry deregisters asynchronously after stop —
    // wait until the session reports no active run before "restarting"
    var waited = 0
    while (spark.streams.active.exists(_.runId == q1.runId) && waited < 300) {
      Thread.sleep(100); waited += 1
    }
    assert(metrics.deadLetters == 1L)

    // crash window: the store write happened, the checkpoint commit
    // didn't. Structured Streaming records exactly this as offsets/N
    // present + commits/N absent — drop the last commit marker.
    val commits = new java.io.File(s"$ckDir/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val lastBatchId = commits.last.getName.toInt.toLong
    assert(commits.last.delete())
    // also drop Hadoop's checksum sidecar, or the commit rewrite on
    // restart trips FileAlreadyExists inside the checkpoint manager
    val crc = new java.io.File(s"$ckDir/commits/.$lastBatchId.crc")
    if (crc.exists()) assert(crc.delete())

    // ---- run 2: restart from the checkpoint; batch replays, new data arrives ----
    writeFile(file3: _*)
    val q2 = graft.streaming.StreamingOps.indexBlobEventStream(stream(), store, ckDir, Some(metrics))
    try q2.processAllAvailable() finally q2.stop()

    // the replay REALLY happened (same batch id delivered twice) …
    assert(metrics.timesSeen(lastBatchId) == 2,
      s"expected batch $lastBatchId to replay after the dropped commit")
    // … and the dead letter in the replayed batch was not double-counted
    assert(metrics.deadLetters == 1L)

    // the store converged to the batch twin: parse ALL envelopes in one
    // batch, latest action per key wins, tombstones removed
    val all = (file1 ++ file2 ++ file3).toDF("event_id", "envelope")
    val parsed = graft.operators.PathIndexOps.parseBlobEnvelopes(all)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("key"))
      .orderBy(to_timestamp(col("eventTime")).desc, col("event_id").desc)
    val twin = parsed.filter(col("action") =!= "dead-letter")
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .filter(col("action") === "upsert")
      .select(col("key"), col("eTag")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val got = store.read().get.select(col("key"), col("eTag")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == twin, s"store state $got != batch twin $twin")
    assert(twin.size == 3) // a (modified), c, d — b tombstoned
  }

  private def envelope(id: Long, fs: String, path: String, evType: String, t: String): (Long, String) =
    id -> (s"""{"topic":"/subscriptions/s/resourceGroups/r/providers/Microsoft.Storage/storageAccounts/a",""" +
      s""""subject":"/blobServices/default/containers/$fs/blobs/$path","eventType":"Microsoft.Storage.$evType",""" +
      s""""eventTime":"$t","id":"$id","data":{"api":"x","eTag":"etag$id","contentType":"application/json",""" +
      s""""contentLength":${id * 10},"blobType":"BlockBlob","url":"https://acct.dfs.core.windows.net/$fs/$path",""" +
      s""""sequencer":"s$id"},"dataVersion":"1","metadataVersion":"1"}""")

  test("one envelope micro-batch with upserts and deletes commits exactly one snapshot") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckDir = tempDir("graft_env1_ck").toString
    val idxDir = tempDir("graft_env1_idx").toString
    val store = new IndexStore(spark, idxDir, "key")
    val input = MemoryStream[(Long, String)]
    val query = graft.streaming.StreamingOps.indexBlobEventStream(
      input.toDF().toDF("event_id", "envelope"), store, ckDir)
    try {
      input.addData(
        envelope(1, "fsA", "a.json", "BlobCreated", "2024-01-01T00:00:01Z"),
        envelope(2, "fsA", "b.json", "BlobCreated", "2024-01-01T00:00:02Z"),
        envelope(3, "fsA", "c.json", "BlobCreated", "2024-01-01T00:00:03Z"))
      query.processAllAvailable()
      val v0 = store.currentVersion.get
      input.addData(
        envelope(4, "fsA", "a.json", "BlobCreated", "2024-01-01T01:00:00Z"),
        envelope(5, "fsA", "b.json", "BlobDeleted", "2024-01-01T01:00:01Z"),
        envelope(6, "fsA", "d.json", "BlobCreated", "2024-01-01T01:00:02Z"),
        envelope(7, "fsA", "zz.json", "BlobDeleted", "2024-01-01T01:00:03Z"))
      query.processAllAvailable()
      assert(store.currentVersion.contains(v0 + 1))
      val eTags = store.read().get.collect().map(_.getAs[String]("eTag")).sorted
      assert(eTags.sameElements(Array("etag3", "etag4", "etag6")))
    } finally query.stop()
  }

  test("dead-letter-only and tombstone-only micro-batches leave an empty store usable") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    for (part <- Seq(None, Some("filesystem"))) {
      val ckDir = tempDir("graft_env2_ck").toString
      val idxDir = tempDir("graft_env2_idx").toString
      def open() = new IndexStore(spark, idxDir, "key", partitionCol = part)
      val store = open()
      val metrics = new graft.streaming.IndexerStreamMetrics
      val input = MemoryStream[(Long, String)]
      val query = graft.streaming.StreamingOps.indexBlobEventStream(
        input.toDF().toDF("event_id", "envelope"), store, ckDir, Some(metrics))
      try {
        input.addData(98L -> "{not an envelope", 99L -> "not json either")
        query.processAllAvailable()
        assert(metrics.deadLetters == 2L, s"partition=$part")
        assert(open().read().forall(_.count() == 0), s"partition=$part")

        input.addData(envelope(1, "fsA", "a.json", "BlobDeleted", "2024-01-01T00:00:01Z"))
        query.processAllAvailable()
        assert(open().read().forall(_.count() == 0), s"partition=$part")

        input.addData(envelope(2, "fsA", "a.json", "BlobCreated", "2024-01-01T00:00:02Z"))
        query.processAllAvailable()
        assert(open().read().get.collect().map(_.getAs[String]("eTag")).sameElements(Array("etag2")),
          s"partition=$part")
        assert(metrics.deadLetters == 2L, s"partition=$part")
      } finally query.stop()
    }
  }
}
