package graft

import graft.streaming.{EventRow, StreamingOps}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

class StreamingSpec extends SparkSpec {

  test("streaming upsert state matches the batch state machine") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    val rows = Tables.events(spark, sf)
      .selectExpr("event_id", "ts_ns", "user_id", "event_type", "value")
      .as[EventRow].collect().sortBy(e => (e.ts_ns, e.event_id))

    val input = MemoryStream[EventRow]
    val query = StreamingOps.latestPerUserStream(spark, input.toDS())
      .writeStream.format("memory").queryName("upsert_state")
      .outputMode(OutputMode.Update()).start()
    try {
      // two micro-batches to exercise cross-batch state carry-over
      val (b1, b2) = rows.splitAt(rows.length / 2)
      input.addData(b1.toSeq); query.processAllAvailable()
      input.addData(b2.toSeq); query.processAllAvailable()

      val streamed = spark.table("upsert_state").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("last_event_id"),
          r.getAs[String]("last_type"), r.getAs[Long]("n_events")))
        .groupBy(_._1).map { case (_, vs) => vs.maxBy(_._4) }
        .toArray.sortBy(_._1)

      val batch = StreamingOps.latestPerUserBatch(spark,
        spark.createDataset(rows.toSeq)).collect()
        .map(s => (s.user_id, s.last_event_id, s.last_type, s.n_events))
        .sortBy(_._1)

      assert(streamed.sameElements(batch))
    } finally query.stop()
  }

  test("streaming decayed counters carry state across micro-batches, equal the batch twin") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    val rows = Tables.events(spark, sf)
      .selectExpr("event_id", "ts_ns", "user_id", "event_type", "value")
      .as[EventRow].collect().sortBy(e => (e.ts_ns, e.event_id))

    val input = MemoryStream[EventRow]
    val query = StreamingOps.decayStream(spark, input.toDS())
      .writeStream.format("memory").queryName("decay_state")
      .outputMode(OutputMode.Update()).start()
    try {
      // three micro-batches: the prior sums must rescale by
      // 0.5^(Δref/hl) at every reference advance (mergeability)
      val third = rows.length / 3
      input.addData(rows.take(third).toSeq); query.processAllAvailable()
      input.addData(rows.slice(third, 2 * third).toSeq); query.processAllAvailable()
      input.addData(rows.drop(2 * third).toSeq); query.processAllAvailable()

      val globalRef = rows.map(_.ts_ns).max
      // last state per user, rescaled to the corpus-max reference —
      // what a query-time probe of the state store emits
      val streamed = spark.table("decay_state").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("ref_ns"),
          r.getAs[Double]("decayed_n"), r.getAs[Double]("decayed_value"),
          r.getAs[Long]("n_events")))
        .groupBy(_._1).map { case (uid, vs) =>
          val (_, ref, dn, dv, n) = vs.maxBy(_._5)
          val s = math.pow(0.5, (globalRef - ref).toDouble / StreamingOps.DecayHlNs)
          uid -> (dn * s, dv * s, n)
        }

      val batch = StreamingOps.streamDecay(spark, sf).collect()
        .map(r => r.getAs[Long]("user_id") ->
          (r.getAs[Double]("decayed_n"), r.getAs[Double]("decayed_value"),
           r.getAs[Long]("n_events"))).toMap

      assert(streamed.keySet == batch.keySet)
      streamed.foreach { case (uid, (dn, dv, n)) =>
        val (bdn, bdv, bn) = batch(uid)
        assert(n == bn, s"user $uid n_events $n != $bn")
        // incremental rescale vs one-pass sum: identical up to fp
        // rounding (the batch side rounds to 4 decimals)
        assert(math.abs(dn - bdn) < 1e-3, s"user $uid decayed_n $dn != $bdn")
        assert(math.abs(dv - bdv) < 1e-3, s"user $uid decayed_value $dv != $bdv")
      }
    } finally query.stop()
  }

  test("streaming as-of lookup carries SCD2 state across micro-batches, equals the batch twin") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    val rows = Tables.events(spark, sf)
      .selectExpr("event_id", "ts_ns", "user_id", "event_type", "value")
      .as[EventRow].collect().sortBy(e => (e.ts_ns, e.event_id))

    val input = MemoryStream[EventRow]
    val query = StreamingOps.asofLookupStream(spark, input.toDS())
      .writeStream.format("memory").queryName("asof_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // time-ordered replay split mid-stream: purchases in batch 2 must
      // see dimension versions accumulated in batch 1's state
      val (b1, b2) = rows.splitAt(rows.length / 2)
      input.addData(b1.toSeq); query.processAllAvailable()
      input.addData(b2.toSeq); query.processAllAvailable()

      def key(pid: Long, v: Option[Long], t: Option[String]) = (pid, v, t)
      val streamed = spark.table("asof_out").collect()
        .map(r => key(r.getAs[Long]("purchase_id"),
          Option(r.get(r.fieldIndex("version"))).map(_.asInstanceOf[Long]),
          Option(r.getAs[String]("attr_type"))))
        .sortBy(_._1)
      val batch = StreamingOps.asofLookupBatch(spark, spark.createDataset(rows.toSeq))
        .collect().map(o => key(o.purchase_id, o.version, o.attr_type)).sortBy(_._1)
      assert(streamed.length == batch.length && streamed.sameElements(batch))
      // and the state machine agrees with the window formulation
      val windowed = graft.operators.Analytics.scd2AsofLookup(spark, sf).collect()
        .map(r => key(r.getAs[Long]("purchase_id"),
          Option(r.get(r.fieldIndex("version"))).map(_.asInstanceOf[Long]),
          Option(r.getAs[String]("attr_type"))))
        .sortBy(_._1)
      assert(batch.sameElements(windowed))
    } finally query.stop()
  }

  test("round 9: decay state evicts after the TTL once the watermark passes, restarts cold") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val day = 24L * 3600 * 1000000000L
    val t0 = 1700000000000000000L
    def ev(id: Long, uid: Long, ts: Long) = EventRow(id, ts, uid, "view", 1.0)

    val input = MemoryStream[EventRow]
    val query = StreamingOps.decayStream(spark, input.toDS())
      .writeStream.format("memory").queryName("decay_ttl")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(ev(1, 1L, t0)); query.processAllAvailable()
      // far-future activity on another key drives the watermark past
      // user 1's 70-day TTL; the NEXT batch fires the timeout
      input.addData(ev(2, 2L, t0 + 100 * day)); query.processAllAvailable()
      input.addData(ev(3, 2L, t0 + 101 * day)); query.processAllAvailable()
      // user 1 returns AFTER eviction: the counter must restart cold
      input.addData(ev(4, 1L, t0 + 102 * day)); query.processAllAvailable()
      val u1 = spark.table("decay_ttl").collect()
        .filter(_.getAs[Long]("user_id") == 1L)
        .map(r => (r.getAs[Long]("n_events"), r.getAs[Long]("ref_ns")))
      // with NoTimeout the return visit would fold into the old state
      // (n_events = 2); eviction makes it restart at 1
      assert(u1.map(_._1).max == 1L,
        s"user 1 state survived the TTL: ${u1.mkString(",")}")
      assert(u1.exists(_._2 == t0 + 102 * day),
        "restarted state not referenced to the post-eviction event")
    } finally query.stop()
  }

  test("round 9: asof entity state evicts at the TTL — a late purchase cold-misses") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val day = 24L * 3600 * 1000000000L
    val t0 = 1700000000000000000L

    val input = MemoryStream[EventRow]
    val query = StreamingOps.asofLookupStream(spark, input.toDS())
      .writeStream.format("memory").queryName("asof_ttl")
      .outputMode(OutputMode.Append()).start()
    try {
      // dimension version for user 1, then 100+ days of silence
      input.addData(EventRow(1, t0, 1L, "view", 5.0)); query.processAllAvailable()
      input.addData(EventRow(2, t0 + 100 * day, 2L, "view", 1.0)); query.processAllAvailable()
      input.addData(EventRow(3, t0 + 101 * day, 2L, "view", 1.0)); query.processAllAvailable()
      // user 1's purchase arrives after the 90-day entity TTL evicted
      // their dimension state: the lookup must COLD-MISS (None), where
      // NoTimeout would have served version 1
      input.addData(EventRow(4, t0 + 102 * day, 1L, "purchase", 9.0)); query.processAllAvailable()
      val hit = spark.table("asof_ttl").collect()
        .filter(_.getAs[Long]("purchase_id") == 4L)
      assert(hit.length == 1)
      assert(hit.head.isNullAt(hit.head.fieldIndex("version")),
        s"evicted entity still served a version: ${hit.head}")
    } finally query.stop()
  }

  test("round 10: a pre-TTL event beyond the lateness bound is dropped before the fold") {
    // the SECOND divergence from the batch twin (beyond TTL eviction):
    // under EventTimeTimeout the StateLatenessBound watermark filters
    // input rows more than the bound behind the watermark BEFORE the
    // stateful fold — the batch twin would have folded them
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val hour = 3600L * 1000000000L
    val t0 = 1700000000000000000L
    def ev(id: Long, uid: Long, ts: Long) = EventRow(id, ts, uid, "view", 1.0)

    val input = MemoryStream[EventRow]
    val query = StreamingOps.decayStream(spark, input.toDS())
      .writeStream.format("memory").queryName("decay_late")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(ev(1, 1L, t0)); query.processAllAvailable()
      // another key advances the watermark to t0 + 1.5h (max − bound)
      input.addData(ev(2, 2L, t0 + 2 * hour)); query.processAllAvailable()
      // user 1's straggler at t0 + 0.5h is 1h behind that watermark —
      // far inside the 70-day TTL, but beyond the lateness bound: the
      // fold must never see it
      input.addData(ev(3, 1L, t0 + hour / 2)); query.processAllAvailable()
      // an in-bound event still folds into the carried state
      input.addData(ev(4, 1L, t0 + 3 * hour)); query.processAllAvailable()
      val u1n = spark.table("decay_late").collect()
        .filter(_.getAs[Long]("user_id") == 1L).map(_.getAs[Long]("n_events"))
      // the batch twin counts 3 events for user 1; the stream dropped
      // the beyond-bound straggler, so state carries exactly 2
      assert(u1n.max == 2L,
        s"beyond-bound late event reached the fold: ${u1n.mkString(",")}")
    } finally query.stop()
  }

  test("watermarked stream-stream interval join equals the batch twin") {
    // the streaming form of attribution (views joined to purchases in a
    // 1-hour lookback, both sides unbounded streams): watermarks bound
    // the join state on BOTH sides — the shape a 100 TB/day attribution
    // pipeline runs; batch executes the identical join expression, so
    // the oracle-checked batch twin gates the streaming semantics.
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions._

    val rows = Tables.events(spark, sf)
      .filter(col("event_type").isin("purchase", "view"))
      .selectExpr("event_id", "ts_ns", "user_id", "event_type", "value")
      .as[EventRow].collect().sortBy(e => (e.ts_ns, e.event_id))
    val pRows = rows.filter(_.event_type == "purchase")
    val vRows = rows.filter(_.event_type == "view")

    val pIn = MemoryStream[EventRow]
    val vIn = MemoryStream[EventRow]
    // the registered op itself, driven as a true two-stream query
    val query = StreamingOps.intervalJoinStream(pIn.toDS(), vIn.toDS())
      .writeStream.format("memory").queryName("ssj")
      .outputMode(OutputMode.Append()).start()
    try {
      // two micro-batches per side, split mid-stream: pairs spanning the
      // batch boundary must come from buffered join state
      val (pb1, pb2) = pRows.splitAt(pRows.length / 2)
      val (vb1, vb2) = vRows.splitAt(vRows.length / 2)
      pIn.addData(pb1.toSeq); vIn.addData(vb1.toSeq); query.processAllAvailable()
      pIn.addData(pb2.toSeq); vIn.addData(vb2.toSeq); query.processAllAvailable()
      val streamed = spark.table("ssj").collect()
        .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("view_id"))).toSet

      val batch = StreamingOps.intervalJoinStream(
        spark.createDataset(pRows.toSeq), spark.createDataset(vRows.toSeq))
        .collect()
        .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("view_id"))).toSet

      assert(streamed == batch, s"stream ${streamed.size} pairs, batch ${batch.size}")
      assert(batch.nonEmpty)
    } finally query.stop()
  }

  test("stream-static join enriches events against a static index") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    val index = Tables.documents(spark, sf).select(col("doc_id"), col("lang"))
    val rows = Tables.events(spark, sf)
      .selectExpr("event_id", "ts_ns", "user_id", "event_type", "value")
      .as[EventRow].collect().take(200)

    val input = MemoryStream[EventRow]
    val query = StreamingOps.enrichStream(input.toDS(), index, "doc_id")
      .writeStream.format("memory").queryName("enriched").outputMode("append").start()
    try {
      input.addData(rows.toSeq); query.processAllAvailable()
      val out = spark.table("enriched").collect()
      assert(out.length == rows.length)
      // every event whose doc exists got a lang
      val docIds = index.collect().map(_.getAs[Long]("doc_id")).toSet
      assert(out.forall { r =>
        val hasDoc = docIds.contains(r.getAs[Long]("doc_id"))
        hasDoc == (r.getAs[String]("lang") != null)
      })
    } finally query.stop()
  }

  test("streaming dedup drops repeated content within the watermark") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    // craft events where the same (user, type, value) repeats
    val base = Tables.events(spark, sf)
      .selectExpr("event_id", "ts_ns", "user_id", "event_type", "value")
      .as[EventRow].collect().take(50)
    val dupes = base.map(e => e.copy(event_id = e.event_id + 1000000, ts_ns = e.ts_ns + 1000L))

    val input = MemoryStream[EventRow]
    val query = StreamingOps.dedupStream(input.toDS())
      .writeStream.format("memory").queryName("deduped").outputMode("append").start()
    try {
      input.addData(base.toSeq ++ dupes.toSeq); query.processAllAvailable()
      val out = spark.table("deduped").collect()
      val distinctContent = base.map(e => (e.user_id, e.event_type, e.value)).distinct.length
      assert(out.length == distinctContent)
    } finally query.stop()
  }

  test("streaming dedup keeps exactly the batch twin's content set") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    val base = Tables.events(spark, sf)
      .selectExpr("event_id", "ts_ns", "user_id", "event_type", "value")
      .as[EventRow].collect().sortBy(e => (e.ts_ns, e.event_id))
    // sf0.001 has no natural content duplicates: inject copies 10 min
    // after their originals (inside the 1 h watermark horizon)
    val dupes = base.take(80).map(e =>
      e.copy(event_id = e.event_id + 5000000, ts_ns = e.ts_ns + 600L * 1000000000L))
    val rows = (base ++ dupes).sortBy(e => (e.ts_ns, e.event_id))

    val input = MemoryStream[EventRow]
    val query = StreamingOps.dedupStream(input.toDS())
      .writeStream.format("memory").queryName("dedup_twin").outputMode("append").start()
    try {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      input.addData(b1.toSeq); query.processAllAvailable()
      input.addData(b2.toSeq); query.processAllAvailable()
      // within a micro-batch "first arrival" is racy, so compare the
      // kept CONTENT (hash set), which both forms must agree on exactly
      val streamed = spark.table("dedup_twin")
        .select(col("content_hash")).collect().map(_.getString(0)).sorted
      assert(streamed.distinct.length == streamed.length)
      // ground truth: distinct content of the ORIGINAL corpus (the
      // injected rows only duplicate existing content)
      val expected = Tables.events(spark, sf).select(StreamingOps.contentHash.as("ch"))
        .distinct().collect().map(_.getString(0)).sorted
      assert(streamed.sameElements(expected))
      val batch = StreamingOps.streamDedup(spark, sf)
        .withColumn("content_hash", StreamingOps.contentHash)
        .select(col("content_hash")).collect().map(_.getString(0)).sorted
      assert(batch.sameElements(expected))
    } finally query.stop()
  }

  test("streaming windowed counts equal the batch windowed query") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    val rows = Tables.events(spark, sf)
      .selectExpr("event_id", "ts_ns", "user_id", "event_type", "value")
      .as[EventRow].collect().sortBy(e => (e.ts_ns, e.event_id))

    val input = MemoryStream[EventRow]
    val query = StreamingOps.windowedCountsStream(spark, input.toDS())
      .writeStream.format("memory").queryName("win_counts")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(rows.toSeq); query.processAllAvailable()
      val streamed = spark.table("win_counts")
        .selectExpr("window.start as wstart", "event_type", "n")
        .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2))).sorted
      val batch = StreamingOps.streamWindow(spark, sf)
        .collect().map(r => (r.getAs[String]("wstart"), r.getAs[String]("event_type"), r.getAs[Long]("n")))
      assert(streamed.length == batch.length)
      assert(streamed.map(_._3).sum == batch.map(_._3).sum)
    } finally query.stop()
  }

  test("streaming sliding windows complete to the batch twin") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    val rows = Tables.events(spark, sf)
      .selectExpr("event_id", "ts_ns", "user_id", "event_type", "value")
      .as[EventRow].collect().sortBy(e => (e.ts_ns, e.event_id))

    val input = MemoryStream[EventRow]
    val query = StreamingOps.slidingCountsStream(spark, input.toDS())
      .writeStream.format("memory").queryName("slide_counts")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(rows.toSeq); query.processAllAvailable()
      val streamed = spark.table("slide_counts")
        .selectExpr("date_format(window.start, 'yyyy-MM-dd HH:mm:ss') as wstart",
          "event_type", "n")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted
      val batch = StreamingOps.streamSliding(spark, sf)
        .collect().map(r => (r.getAs[String]("wstart"), r.getAs[String]("event_type"),
          r.getAs[Long]("n"))).sorted
      assert(streamed.sameElements(batch),
        s"stream/batch sliding windows diverge: ${streamed.length} vs ${batch.length}")
    } finally query.stop()
  }

  test("watermarked streaming session_window completes to the batch sessions") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val ctx = spark.sqlContext
    // drive a REAL stream (MemoryStream, watermark, append mode):
    // sessions finalize as the watermark passes their gap; after all
    // data + a far-future flush event, the emitted sessions for the
    // observed users must equal the batch stream_session rows
    val rows = Tables.events(spark, sf)
      .selectExpr("event_id", "ts_ns", "user_id", "event_type", "value")
      .as[EventRow].collect().sortBy(e => (e.ts_ns, e.event_id)).take(400)
    val input = MemoryStream[EventRow]
    val sessions = input.toDS()
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      .withWatermark("ts", "30 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
    val query = sessions.writeStream.format("memory").queryName("stream_sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      input.addData(b1.toSeq); query.processAllAvailable()
      input.addData(b2.toSeq); query.processAllAvailable()
      // watermark flush: one sentinel far past every session's end
      val maxNs = rows.map(_.ts_ns).max
      input.addData(EventRow(999999L, maxNs + 10L * 24 * 3600 * 1000000000L, 999999L, "flush", 0.0))
      query.processAllAvailable()

      val streamed = spark.table("stream_sessions").collect()
        .filter(_.getAs[Long]("user_id") != 999999L)
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events")))
        .groupBy(_._1).view.mapValues(vs => (vs.length, vs.map(_._2).sum)).toMap
      val batch = spark.createDataset(rows.toSeq).toDF()
        .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events")).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events")))
        .groupBy(_._1).view.mapValues(vs => (vs.length, vs.map(_._2).sum)).toMap
      assert(streamed == batch)
    } finally query.stop()
  }

  test("stream-stream interval join completes to the batch twin and evicts watermark-expired state") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val hour = 3600L * 1000000000L
    val t0 = 1700000000000000000L
    def p(id: Long, uid: Long, ns: Long) = EventRow(id, ns, uid, "purchase", 1.0)
    def v(id: Long, uid: Long, ns: Long) = EventRow(id, ns, uid, "view", 0.0)

    // purchases at t0+45m and t0+3h; views at t0, t0+30m, t0+2h (user 1)
    // plus a user-2 view at t0+40m that must NOT match user 1's purchase
    val p1 = Seq(p(101, 1L, t0 + 45 * 60 * 1000000000L))
    val v1 = Seq(v(201, 1L, t0), v(202, 1L, t0 + 30 * 60 * 1000000000L), v(301, 2L, t0 + 40 * 60 * 1000000000L))
    val p2 = Seq(p(102, 1L, t0 + 3 * hour))
    val v2 = Seq(v(203, 1L, t0 + 2 * hour))
    // far-future sentinels (different users — no join rows) push the
    // watermark far past everything above so its state must evict
    val p3 = Seq(p(199, 8L, t0 + 1000 * hour))
    val v3 = Seq(v(299, 9L, t0 + 1000 * hour))

    val pIn = MemoryStream[EventRow]
    val vIn = MemoryStream[EventRow]
    val query = StreamingOps.intervalJoinStream(pIn.toDS(), vIn.toDS())
      .writeStream.format("memory").queryName("sij")
      .outputMode(OutputMode.Append()).start()
    try {
      pIn.addData(p1); vIn.addData(v1); query.processAllAvailable()
      pIn.addData(p2); vIn.addData(v2); query.processAllAvailable()
      pIn.addData(p3); vIn.addData(v3); query.processAllAvailable()
      // one more empty pass so the advanced watermark's eviction runs
      query.processAllAvailable()

      val streamed = spark.table("sij").collect()
        .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("view_id"), r.getAs[Long]("gap_s")))
        .toSet
      val batch = StreamingOps.intervalJoinStream(
        spark.createDataset(p1 ++ p2 ++ p3),
        spark.createDataset(v1 ++ v2 ++ v3)).collect()
        .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("view_id"), r.getAs[Long]("gap_s")))
        .toSet
      // purchase 101 fans out to views 201 (45m back) and 202 (15m back);
      // purchase 102 reaches only view 203 — the batch twin agrees
      assert(batch == Set((101L, 201L, 2700L), (101L, 202L, 900L), (102L, 203L, 3600L)))
      assert(streamed == batch)

      // state eviction: after the sentinel batch the join buffers must
      // have dropped the early rows — strictly fewer than everything fed
      val stateRows = query.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows < (p1 ++ p2 ++ p3 ++ v1 ++ v2 ++ v3).size,
        s"no eviction: $stateRows rows buffered")
    } finally query.stop()
  }

  test("native session_window agrees with the lag/cumsum sessionization") {
    import org.apache.spark.sql.functions._
    // the streaming-capable formulation (session_window works under
    // watermarks in a stream) must produce the same per-user session
    // structure as the batch lag/cumsum query
    val native = Tables.events(spark, sf)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
      .collect().map(r => r.getAs[Long]("user_id") -> (r.getAs[Long]("n_sessions"), r.getAs[Long]("n_events"))).toMap
    val viaLag = graft.operators.Analytics.sessionize(spark, sf)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
      .collect().map(r => r.getAs[Long]("user_id") -> (r.getAs[Long]("n_sessions"), r.getAs[Long]("n_events"))).toMap
    assert(native == viaLag)
  }

  test("streamed bitmap-word maintenance converges to the batch fold, replay-idempotent") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dirS = tempDir("graft_bm_store").toString + "/idx"
    val dirC = tempDir("graft_bm_ck").toString
    val store = new graft.sources.IndexStore(spark, dirS, "k")

    val rows = Tables.events(spark, sf)
      .selectExpr("event_id", "ts_ns", "user_id", "event_type", "value")
      .as[EventRow].collect().sortBy(e => (e.ts_ns, e.event_id))
    val input = MemoryStream[EventRow]
    val query = input.toDS().toDF().writeStream
      .option("checkpointLocation", dirC)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!b.isEmpty) StreamingOps.bitmapMergeBatch(store, b)
      }.start()
    try {
      val third = rows.length / 3
      input.addData(rows.take(third).toSeq); query.processAllAvailable()
      input.addData(rows.slice(third, 2 * third).toSeq); query.processAllAvailable()
      input.addData(rows.drop(2 * third).toSeq); query.processAllAvailable()
      // at-least-once delivery: re-merge an already-applied batch —
      // OR is idempotent, the table must not change
      val before = store.read().get.collect().map(_.toString).sorted
      StreamingOps.bitmapMergeBatch(store,
        spark.createDataset(rows.take(third).toSeq).toDF())
      val after = store.read().get.collect().map(_.toString).sorted
      assert(before.sameElements(after), "replayed batch must be a no-op")

      val streamed = store.read().get
        .groupBy(col("day"))
        .agg(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.bit_count(col("word"))).as("n_users"))
        .collect().map(r => r.getAs[Long]("day") -> r.getAs[Long]("n_users")).toMap
      val exact = Tables.events(spark, sf)
        .selectExpr("ts_ns div 86400000000000 AS day", "user_id").distinct()
        .groupBy(col("day")).count()
        .collect().map(r => r.getAs[Long]("day") -> r.getAs[Long]("count")).toMap
      assert(streamed == exact)
    } finally query.stop()
  }
}
