package graft.streaming

import graft.{QueryPack, Tables}
import graft.sources.IndexCache.Pin
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One event on the change stream (the streaming analog of the
  * service-bus blob events the reference consumes —
  * DatalakePathIndexerFunc/PathIndexerFunc.cs:18).
  */
final case class EventRow(
    event_id: Long,
    ts_ns: Long,
    user_id: Long,
    event_type: String,
    value: Double)

/** [[EventRow]] plus the derived event-time column the watermark is
  * attached to — the TTL'd state ops ([[StreamingOps.decayStream]],
  * [[StreamingOps.asofLookupStream]]) need the watermark to survive
  * into `groupByKey`, and Spark attaches it to a column, so the column
  * rides along in the row type.
  */
final case class EventRowTs(
    event_id: Long,
    ts_ns: Long,
    user_id: Long,
    event_type: String,
    value: Double,
    ts: java.sql.Timestamp) {
  def toEventRow: EventRow = EventRow(event_id, ts_ns, user_id, event_type, value)
}

final case class KeyState(
    user_id: Long,
    last_event_id: Long,
    last_type: String,
    last_value: Double,
    last_ts_ns: Long,
    n_events: Long)

/** Per-user SCD2 state for the streaming point-in-time lookup: the
  * current dimension version count + latest attributes.
  */
final case class AsofState(
    n_versions: Long,
    attr_type: String,
    attr_value: Double,
    last_ts_ns: Long,
    last_event_id: Long)

/** Per-user decayed-counter state: sums are referenced to `ref_ns`
  * (this key's latest seen event time); a decayed counter is mergeable
  * because re-referencing is one multiply — 0.5^((t'−t)/hl) —
  * so micro-batches fold in exactly and any two partials combine.
  */
final case class DecayState(
    user_id: Long,
    ref_ns: Long,
    decayed_n: Double,
    decayed_value: Double,
    n_events: Long)

/** One point-in-time lookup result (None fields = the purchase
  * preceded every dimension version).
  */
final case class AsofOut(
    purchase_id: Long,
    user_id: Long,
    version: Option[Long],
    attr_type: Option[String],
    attr_value: Option[Double])

/** Replay-idempotent metrics for the streaming indexer: counts are
  * keyed by micro-batch id and overwritten on re-record, so an
  * at-least-once replay of a batch (crash between store write and
  * checkpoint commit) leaves totals unchanged instead of double-
  * counting — the accumulator formulation this replaces could only
  * ever add.
  */
final class IndexerStreamMetrics {
  private val dead = scala.collection.concurrent.TrieMap.empty[Long, Long]
  def recordDeadLetters(batchId: Long, n: Long): Unit = { dead.update(batchId, n); () }
  def deadLetters: Long = dead.values.sum
  /** batch ids seen more than is strictly once (re-records) — exposed so
    * tests can prove a replay actually happened. */
  private val seen = scala.collection.concurrent.TrieMap.empty[Long, Int]
  private[graft] def noteBatch(batchId: Long): Unit = { seen.update(batchId, seen.getOrElse(batchId, 0) + 1); () }
  private[graft] def timesSeen(batchId: Long): Int = seen.getOrElse(batchId, 0)
}

/** Structured-Streaming operators. Each has a batch-equivalent query
  * (registered below, oracle-checked) and a true streaming form driven
  * in the specs via MemoryStream — same semantics, so the batch oracle
  * validates the streaming logic.
  *
  * The upsert state machine is the streaming form of the reference's
  * merge-or-upload path index: every micro-batch folds events into
  * latest-per-key state (mapGroupsWithState), exactly what
  * PathIndexerFunc does per service-bus batch.
  */
object StreamingOps extends QueryPack {

  /** Fold a group's new events into its running state. Used by both the
    * streaming (mapGroupsWithState) and batch (groupByKey.mapGroups)
    * paths so the two cannot diverge.
    */
  def fold(userId: Long, events: Iterator[EventRow], prior: Option[KeyState]): KeyState =
    events.foldLeft(prior.getOrElse(KeyState(userId, -1L, "", 0.0, Long.MinValue, 0L))) {
      (st, e) =>
        val isNewer = e.ts_ns > st.last_ts_ns ||
          (e.ts_ns == st.last_ts_ns && e.event_id > st.last_event_id)
        val upd =
          if (isNewer) st.copy(last_event_id = e.event_id, last_type = e.event_type,
            last_value = e.value, last_ts_ns = e.ts_ns)
          else st
        upd.copy(n_events = st.n_events + 1)
    }

  /** Streaming latest-per-user state via mapGroupsWithState.
    *
    * DELIBERATELY `NoTimeout` (round-9 review): this op IS the
    * reference's path index as a stream — one latest-version entry per
    * live key, forever (PathIndexClient.cs merge-or-upload: an index
    * entry exists until an explicit delete, never because of recency).
    * Evicting on a TTL would silently forget index entries for cold
    * keys and a later upsert-with-older-timestamp would wrongly win.
    * State size is |live keys| — the same cardinality the durable
    * IndexStore snapshot holds, NOT event-history-sized; the unbounded
    * thing is the key space, which is the index's own size by
    * definition. The TTL'd pattern lives in [[decayStream]] /
    * [[asofLookupStream]], where recency IS the semantic.
    */
  def latestPerUserStream(spark: SparkSession, events: Dataset[EventRow]): Dataset[KeyState] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[EventRow], state: GroupState[KeyState]) =>
          val next = fold(uid, it, state.getOption)
          state.update(next)
          next
      }
  }

  /** Batch form of the same state machine (for the oracle gate). */
  def latestPerUserBatch(spark: SparkSession, events: Dataset[EventRow]): Dataset[KeyState] = {
    import spark.implicits._
    events.groupByKey(_.user_id).mapGroups { (uid, it) =>
      // fold must see events in stream order: sort the group
      fold(uid, it.toSeq.sortBy(e => (e.ts_ns, e.event_id)).iterator, None)
    }
  }

  /** Streaming watermarked tumbling window counts (15 min). */
  def windowedCountsStream(spark: SparkSession, events: Dataset[EventRow]): DataFrame =
    events
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  /** Sliding-window streaming aggregation (30-min windows hopping every
    * 10 min — each event lives in 3 windows): the watermark bounds how
    * long each window's counter stays in the state store, exactly the
    * tumbling case but with slide-count × state. Gated in StreamingSpec
    * against [[streamSliding]], the batch twin the oracle verifies.
    */
  def slidingCountsStream(spark: SparkSession, events: Dataset[EventRow]): DataFrame =
    events
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "30 minutes", "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  /** Stream-static join: enrich the event stream against a static index
    * snapshot (how a streaming indexer reads document metadata per
    * event). The static side is re-read per micro-batch by Spark, so an
    * IndexStore snapshot swap is picked up without restarting.
    */
  def enrichStream(events: Dataset[EventRow], index: DataFrame, keyCol: String): DataFrame =
    events.toDF()
      .withColumn(keyCol, col("event_id") % 500)
      .join(index, Seq(keyCol), "left")

  /** The reference's event-driven indexing loop in Structured Streaming
    * form: EventGrid envelope JSON streams in as (event_id, envelope),
    * and each micro-batch is ONE merge action that commits one
    * snapshot. The merge parses each envelope once, rejects dead
    * letters (an envelope with no blob url has no key) and counts them
    * as its failed rows, keeps the LATEST action per key (a create and a
    * delete of the same path in one batch resolve by eventTime, then
    * event_id, as the merge's within-batch order), upserts
    * BlobCreated/Modified rows and applies BlobDeleted rows as
    * tombstones (reference: DatalakePathIndexerFunc/PathIndexerFunc.cs:18-60,
    * the service-bus trigger doing exactly this per message batch).
    *
    * @param metrics optional per-batch metrics sink counting malformed
    *   envelopes (the reference's caught deserialization failures) —
    *   without it corrupt events would vanish untraceably. Recorded
    *   KEYED BY batchId with last-write-wins semantics, because the
    *   foreachBatch sink is at-least-once: after a crash between the
    *   store write and the checkpoint commit, the batch REPLAYS, and a
    *   plain accumulator would double-count it. Per-batch overwrite
    *   makes the metrics as idempotent as the merge itself — the same
    *   contract the reference's at-least-once service-bus consumer
    *   needs (PathIndexerFunc.cs:18-38).
    */
  def indexBlobEventStream(envelopes: DataFrame, store: graft.sources.IndexStore,
                           checkpointDir: String,
                           metrics: Option[IndexerStreamMetrics] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    envelopes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        metrics.foreach(_.noteBatch(batchId))
        val parsed = graft.operators.PathIndexOps.parseBlobEnvelopes(batch)
        // eventTime compares as a TIMESTAMP: lexicographic strings
        // misorder mixed fractional precision ("…01Z" vs "…01.5Z") and
        // non-Z offsets, which could resurrect a deleted blob
        val r = store.mergeOrUpload(
          parsed.select(col("key"), col("filesystem"), col("pathUrlEncoded"),
            col("eTag"), col("contentLength"), col("eventTime"),
            (col("action") === "tombstone").as("_tombstone"),
            struct(to_timestamp(col("eventTime")), col("event_id")).as("_at")),
          reject = Some(col("key").isNull), tombstone = Some("_tombstone"), seq = Some("_at"))
        metrics.foreach(_.recordDeadLetters(batchId, r.failed))
      }
      .start()

  /** Engine-portable content identity for dedup: doubles are folded to
    * a scaled integer before hashing (Java's Double.toString and
    * DuckDB's shortest-round-trip rendering disagree on some values, so
    * hashing a raw double's string form would silently diverge).
    */
  def contentHash: org.apache.spark.sql.Column =
    md5(concat_ws("|", col("user_id"), col("event_type"),
      round(col("value") * 100 + 1e-9, 0).cast("long")).cast("binary"))

  /** Streaming exact dedup: drop events whose content hash was already
    * seen within the watermark horizon — the streaming form of
    * dedup_exact for a training-data ingest stream. State is bounded by
    * the watermark (old hashes age out). Batch twin: [[streamDedup]],
    * which the oracle gates (same [[contentHash]], so the two cannot
    * diverge).
    */
  def dedupStream(events: Dataset[EventRow]): DataFrame =
    events.toDF()
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      .withColumn("content_hash", contentHash)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("content_hash")

  /** Fold a user's events (one micro-batch worth) through the SCD2
    * state machine: dimension events (non-purchase) advance the
    * version, purchases emit a lookup against the CURRENT state —
    * point-in-time correct because the fold sorts its slice by (ts,
    * dim-first, id), the same tie rule as the batch window
    * formulation. Shared by the streaming and batch paths so the two
    * cannot diverge.
    */
  def asofFold(userId: Long, events: Seq[EventRow],
      prior: Option[AsofState]): (AsofState, Seq[AsofOut]) = {
    val sorted = events.sortBy(e =>
      (e.ts_ns, if (e.event_type == "purchase") 1 else 0, e.event_id))
    var st = prior.getOrElse(AsofState(0L, "", 0.0, Long.MinValue, -1L))
    val out = scala.collection.mutable.ArrayBuffer.empty[AsofOut]
    sorted.foreach { e =>
      if (e.event_type == "purchase") {
        val hit = st.n_versions > 0
        out += AsofOut(e.event_id, userId,
          if (hit) Some(st.n_versions) else None,
          if (hit) Some(st.attr_type) else None,
          if (hit) Some(st.attr_value) else None)
      } else st = AsofState(st.n_versions + 1, e.event_type, e.value, e.ts_ns, e.event_id)
    }
    (st, out.toSeq)
  }

  /** Streaming point-in-time SCD2 lookup (the feature-store training
    * join as a STREAM): per-user dimension state lives in the state
    * store (flatMapGroupsWithState — one compact AsofState per user,
    * not a history buffer), purchases emit their lookups as they
    * arrive. The batch twin [[streamAsof]] is gated by the SAME DuckDB
    * oracle as the window-formulated `scd2_asof_lookup`, proving the
    * state machine == the declarative interval join; StreamingSpec
    * proves the MemoryStream run (state carried across micro-batches)
    * equals the batch twin.
    *
    * State lifecycle (round 9): `EventTimeTimeout` with a
    * [[AsofTtlMs]] TTL from the key's latest activity — the online
    * feature store's entity TTL: a user idle past the TTL has their
    * dimension state evicted once the watermark passes, and a later
    * purchase emits the cold-miss lookup (None fields, same as a
    * never-seen user). On the gated corpora (30-day span) no state
    * ever times out, so the batch twin and the DuckDB oracle are
    * unchanged; StreamingSpec proves the eviction on a synthetic
    * stream spanning past the TTL.
    *
    * LATE-DROP semantics (round 10, second divergence from the batch
    * twin beyond TTL eviction): attaching the [[StateLatenessBound]]
    * watermark means FlatMapGroupsWithStateExec FILTERS input rows
    * more than that bound behind the watermark BEFORE the fold — a
    * dimension event arriving later than the bound never updates the
    * entity state, where the NoTimeout form (and the batch twin)
    * would fold arbitrarily out-of-order events. This is the standard
    * streaming contract (bounded disorder in exchange for bounded
    * state); events within the bound still fold exactly.
    * StreamingSpec proves the drop on a pre-TTL but
    * beyond-the-bound-late event.
    */
  def asofLookupStream(spark: SparkSession, events: Dataset[EventRow]): Dataset[AsofOut] = {
    import spark.implicits._
    events
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      .withWatermark("ts", StateLatenessBound).as[EventRowTs]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, it: Iterator[EventRowTs], state: GroupState[AsofState]) =>
          if (state.hasTimedOut) {
            // entity TTL expired: evict — later purchases cold-miss
            state.remove()
            Iterator.empty
          } else {
            val evs = it.map(_.toEventRow).toSeq
            val (next, out) = asofFold(uid, evs, state.getOption)
            state.update(next)
            // TTL from the key's latest activity; the batch-max floor
            // keeps the timestamp ahead of the current watermark even
            // for purchase-only users (last_ts_ns = MinValue sentinel)
            val lastMs = math.max(next.last_ts_ns / 1000000L, evs.map(_.ts_ns).max / 1000000L)
            state.setTimeoutTimestamp(lastMs + AsofTtlMs)
            out.iterator
          }
      }
  }

  /** Entity TTL for the streaming SCD2 state store: 90 days of
    * inactivity (a typical online-feature-store retention) — far past
    * the gated corpora's 30-day span, so eviction is reachable only by
    * the eviction spec's synthetic stream.
    */
  private[graft] val AsofTtlMs = 90L * 24 * 3600 * 1000

  /** The allowed input DISORDER for the TTL'd state ops
    * ([[asofLookupStream]], [[decayStream]]): events arriving more
    * than this far behind the watermark are DROPPED before the
    * stateful fold (EventTimeTimeout requires a watermark, and the
    * watermark filters late input). Sized to the corpora's session
    * gap; a deployment ingesting from a source with larger replay
    * skew must widen it — the trade is linear state-store residency
    * per window key.
    */
  private[graft] val StateLatenessBound = "30 minutes"

  /** Batch form of the same state machine (for the oracle gate). */
  def asofLookupBatch(spark: SparkSession, events: Dataset[EventRow]): Dataset[AsofOut] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroups((uid, it) => asofFold(uid, it.toSeq, None)._2.iterator)
  }

  // ---- batch-equivalent registered queries ----

  private def eventRows(spark: SparkSession, dir: String): Dataset[EventRow] = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select(col("event_id"), col("ts_ns"), col("user_id"), col("event_type"), col("value"))
      .as[EventRow]
  }

  def streamUpsert(spark: SparkSession, dir: String): DataFrame =
    latestPerUserBatch(spark, eventRows(spark, dir)).toDF()
      .select(col("user_id"), col("last_event_id"), col("last_type"),
        round(col("last_value"), 2).as("last_value"), col("n_events"))

  def streamWindow(spark: SparkSession, dir: String): DataFrame =
    eventRows(spark, dir).toDF()
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(lit(1e-9) + sum(col("value")), 2).as("total_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
        col("event_type"), col("n"), col("total_value"))
      .orderBy(col("wstart"), col("event_type"))

  /** Batch twin of [[slidingCountsStream]] (same native sliding-window
    * operator run in batch), oracle-gated; StreamingSpec proves the
    * MemoryStream run completes to this exact frame.
    */
  def streamSliding(spark: SparkSession, dir: String): DataFrame =
    eventRows(spark, dir).toDF()
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      .groupBy(window(col("ts"), "30 minutes", "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(lit(1e-9) + sum(col("value")), 2).as("total_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
        col("event_type"), col("n"), col("total_value"))
      .orderBy(col("wstart"), col("event_type"))

  /** The streaming-native sessionization operator: `session_window`
    * (gap-merged event-time windows, the same operator a watermarked
    * stream would run) executed in batch mode, so the DuckDB lag/cumsum
    * oracle gates the exact session semantics — StreamingSpec
    * separately proves the session_window formulation equals the
    * analytic lag/cumsum one.
    */
  def streamSession(spark: SparkSession, dir: String): DataFrame =
    eventRows(spark, dir).toDF()
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), round(lit(1e-9) + sum(col("value")), 2).as("session_value"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), col("session_value"))

  /** Batch form of [[dedupStream]]: first event per content hash wins
    * (earliest ts, then event_id — dropDuplicates keeps the first
    * arrival; in batch "first" is made deterministic by the sort key).
    * n_dups carries how many copies the stream would have suppressed.
    */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    val byHash = org.apache.spark.sql.expressions.Window.partitionBy(col("content_hash"))
    Tables.events(spark, dir)
      .withColumn("content_hash", contentHash)
      .withColumn("rn", row_number().over(byHash.orderBy(col("ts_ns"), col("event_id"))))
      .withColumn("n_dups", count(lit(1)).over(byHash))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("user_id"), col("event_type"),
        round(col("value"), 2).as("value"), col("n_dups"))
  }

  private[graft] val DecayHlNs = 7L * 24 * 3600 * 1000000000L // 7-day half-life

  /** Fold one micro-batch into a key's decayed-counter state: advance
    * the reference to the newest timestamp seen, rescale the prior
    * sums by 0.5^(Δref/hl) (the mergeability property — see
    * [[DecayState]]), and add the batch's decay-weighted terms.
    */
  def decayFold(uid: Long, events: Seq[EventRow], prior: Option[DecayState]): DecayState = {
    val p = prior.getOrElse(DecayState(uid, Long.MinValue, 0.0, 0.0, 0L))
    val ref = math.max(p.ref_ns, events.map(_.ts_ns).max)
    val scale =
      if (p.n_events == 0L) 0.0
      else math.pow(0.5, (ref - p.ref_ns).toDouble / DecayHlNs)
    val ws = events.map(e => math.pow(0.5, (ref - e.ts_ns).toDouble / DecayHlNs))
    DecayState(uid, ref,
      p.decayed_n * scale + ws.sum,
      p.decayed_value * scale + ws.zip(events).map { case (w, e) => w * e.value }.sum,
      p.n_events + events.length)
  }

  /** Streaming per-user decayed engagement counters (mapGroupsWithState)
    * — the freshness-weighted score maintained INCREMENTALLY instead of
    * recomputed by windowed re-scans; the state per key is 5 numbers.
    *
    * State lifecycle (round 9): `EventTimeTimeout` at [[DecayTtlMs]]
    * (10 half-lives of inactivity) — decayed counters make TTL
    * eviction SEMANTICALLY cheap: a key idle for 10 half-lives has
    * decayed to < 0.1% of its mass, so dropping the state loses a
    * bounded-below-rounding tail, and the counter restarting from zero
    * on the key's return is within 2^-10 of the exact value. The
    * timeout flushes the final state once and removes it. On the gated
    * 30-day corpora no key ever idles 70 days, so the batch twin and
    * oracle are unchanged; StreamingSpec proves the eviction
    * synthetically.
    *
    * LATE-DROP semantics (round 10): the [[StateLatenessBound]]
    * watermark drops input rows more than the bound behind the
    * watermark BEFORE the fold (see [[asofLookupStream]] — the same
    * second divergence from the batch twin beyond TTL eviction);
    * spec-proven on a pre-TTL but beyond-the-bound-late event.
    */
  def decayStream(spark: SparkSession, events: Dataset[EventRow]): Dataset[DecayState] = {
    import spark.implicits._
    events
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      .withWatermark("ts", StateLatenessBound).as[EventRowTs]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, it: Iterator[EventRowTs], state: GroupState[DecayState]) =>
          if (state.hasTimedOut) {
            // eviction: re-emit the key's LAST stored state verbatim (a
            // duplicate of the row already emitted at its last update —
            // NOT rescaled to the eviction watermark; consumers rescale
            // via ref_ns, and upsert sinks keyed by user_id absorb the
            // duplicate), then drop the state
            val last = state.get
            state.remove()
            last
          } else {
            val next = decayFold(uid, it.map(_.toEventRow).toSeq, state.getOption)
            state.update(next)
            // ref_ns is the key's max event time — always at or ahead
            // of the watermark for an invoked key
            state.setTimeoutTimestamp(next.ref_ns / 1000000L + DecayTtlMs)
            next
          }
      }
  }

  /** Decay-state TTL: 10 half-lives (70 days at the 7-day half-life) —
    * the point where the counter's remaining mass is < 2^-10 ≈ 0.1%.
    */
  private[graft] val DecayTtlMs = 10L * (DecayHlNs / 1000000L)

  /** Batch twin of [[decayStream]] rescaled to the corpus-max reference
    * (what a query-time probe of the state store would emit): the
    * direct one-pass decay formula per user.
    */
  def streamDecay(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventRows(spark, dir).toDF()
    val ref = ev.agg(max(col("ts_ns")).as("ref_ns"))
    val w = pow(lit(0.5), (col("ref_ns") - col("ts_ns")).cast("double") / lit(DecayHlNs.toDouble))
    ev.crossJoin(broadcast(ref))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(w) + lit(1e-9), 4).as("decayed_n"),
        round(sum(w * col("value")) + lit(1e-9), 4).as("decayed_value"))
  }

  def streamAsof(spark: SparkSession, dir: String): DataFrame =
    asofLookupBatch(spark, eventRows(spark, dir)).toDF()
      .select(col("purchase_id"), col("user_id"), col("version"), col("attr_type"),
        round(col("attr_value") + 1e-9, 2).as("attr_value"))

  /** Stream–stream interval join (the last Structured Streaming join
    * shape the surface lacked): each purchase joins ALL of the same
    * user's views inside the trailing 1-hour attribution window —
    * conversions↔impressions fan-out, where [[asofLookupStream]] keeps
    * only the latest. Both sides carry watermarks and the join
    * condition bounds event time on both (v_ts ∈ [p_ts − 1h, p_ts]),
    * which is exactly what lets StreamingSymmetricHashJoinExec evict
    * buffered rows: a view older than watermark − 1h − lateness can
    * never match a future purchase, so per-key state is the window, not
    * the stream. The SAME function serves the batch twin — the analyzer
    * removes watermark nodes over batch relations
    * (EliminateEventTimeWatermark), so the two paths cannot diverge;
    * StreamingSpec proves the MemoryStream run completes to the batch
    * frame and that buffered state stays bounded.
    */
  def intervalJoinStream(purchases: Dataset[EventRow], views: Dataset[EventRow]): DataFrame = {
    val p = purchases.toDF()
      .withColumn("p_ts", timestamp_micros(expr("ts_ns div 1000")))
      .withWatermark("p_ts", StateLatenessBound)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts_ns").as("p_ns"), col("p_ts"))
    val v = views.toDF()
      .withColumn("v_ts", timestamp_micros(expr("ts_ns div 1000")))
      .withWatermark("v_ts", StateLatenessBound)
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts_ns").as("v_ns"), col("v_ts"))
    p.join(v,
      col("user_id") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("v_ts") <= col("p_ts"))
      .select(col("purchase_id"), col("view_id"), col("user_id"),
        expr("(p_ns - v_ns) div 1000000000").as("gap_s"))
  }

  /** Batch twin of [[intervalJoinStream]] — same plan, batch inputs. */
  def streamIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = eventRows(spark, dir)
    intervalJoinStream(
      e.filter(_.event_type == "purchase"),
      e.filter(_.event_type == "view"))
  }

  /** OR-merge one change batch into the bitmap-word serving table
    * (store schema: k = "day:bucket", day, bucket, word). The partial
    * words are combinable map-side aggregates of the batch alone; the
    * merge touches ONLY the keys the batch populated (left join against
    * the current snapshot — the delta-bounded half of MERGE), and OR is
    * idempotent + commutative, so replayed micro-batches converge (the
    * reference's merge-or-upload discipline applied to sketch state).
    * Shared by the keyed batch fold ([[streamBitmap]]) and
    * StreamingSpec's MemoryStream foreachBatch — the two execution
    * strategies literally run this function.
    */
  def bitmapMergeBatch(store: graft.sources.IndexStore, batch: DataFrame): Unit = {
    val partial = batch
      .select(expr("ts_ns div 86400000000000").as("day"), col("user_id"))
      .groupBy(col("day"), expr("user_id div 64").as("bucket"))
      .agg(bit_or(expr("shiftleft(1L, int(user_id % 64))")).as("word"))
      .withColumn("k", concat_ws(":", col("day"), col("bucket")))
    val merged = store.read() match {
      case Some(cur) =>
        partial.join(cur.select(col("k"), col("word").as("prev")), Seq("k"), "left")
          .select(col("k"), col("day"), col("bucket"),
            coalesce(col("prev"), lit(0L)).bitwiseOR(col("word")).as("word"))
      case None => partial.select(col("k"), col("day"), col("bucket"), col("word"))
    }
    store.mergeOrUpload(merged)
    ()
  }

  /** Per-day EXACT distinct users served from an INCREMENTALLY
    * MAINTAINED bitmap-word table: the change log replays as three
    * time-ordered batches through [[bitmapMergeBatch]] into a versioned
    * IndexStore (built once per snapshot), and the query POPCOUNTS the
    * final snapshot — the 100 TB serving shape for "distinct users per
    * day" (maintain kilobyte-per-day words as events arrive, never
    * count-distinct re-scans). Oracle = the full-corpus distinct
    * recompute, proving fold == rebuild; StreamingSpec proves the
    * MemoryStream replay of the SAME merge function converges to the
    * same table, including a replayed (at-least-once) batch.
    */
  def streamBitmap(spark: SparkSession, dir: String): DataFrame = {
    def dayNs(d: String): Long =
      java.time.Instant.parse(d).getEpochSecond * 1000000000L
    val c1 = dayNs("2024-01-11T00:00:00Z")
    val c2 = dayNs("2024-01-21T00:00:00Z")
    val table = graft.sources.IndexCache.getOrBuild(spark, "bitmap_store", dir) {
      val root = graft.sources.IndexCache.scratchDir(spark, "graft_bitmapstore", dir)
      val store = new graft.sources.IndexStore(spark, root, "k")
      val ev = Tables.events(spark, dir)
      def slice(cond: org.apache.spark.sql.Column): DataFrame =
        ev.filter(cond).select(col("ts_ns"), col("user_id"))
      Seq(
        slice(Tables.tsBeforeNs(c1)),
        slice(Tables.tsSinceNs(c1) && Tables.tsBeforeNs(c2)),
        slice(Tables.tsSinceNs(c2)))
        .foreach(b => bitmapMergeBatch(store, b))
      store.read().get.pin()
    }
    table.groupBy(col("day"))
      .agg(sum(bit_count(col("word"))).as("n_users"))
      .orderBy(col("day"))
  }

  /** Scale bands: `stream_bitmap` serves a day-slice off the mergeable
    * bitmap state store — flat probe. The other batch twins replay the
    * corpus through the same plan the stream runs incrementally —
    * linear, the default (the streaming form's per-batch cost is the
    * DELTA, proven by the MemoryStream specs, not by this batch grade).
    */
  override def bands: Map[String, String] =
    Map("stream_bitmap" -> graft.Band.Probe)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_bitmap" -> (streamBitmap _),
    "stream_interval_join" -> (streamIntervalJoin _),
    "stream_asof" -> (streamAsof _),
    "stream_decay" -> (streamDecay _),
    "stream_upsert" -> (streamUpsert _),
    "stream_window" -> (streamWindow _),
    "stream_sliding" -> (streamSliding _),
    "stream_session" -> (streamSession _),
    "stream_dedup" -> (streamDedup _))

  val oracles: Map[String, String] = Map(
    "stream_bitmap" ->
      """SELECT epoch_ns(ts) // 86400000000000 AS day,
        | count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // the SAME oracle as the window-formulated scd2_asof_lookup: two
    // independent execution strategies (state-machine fold vs window
    // forward-fill) gated against one declarative interval-join truth
    "stream_asof" -> graft.operators.Analytics.oracles("scd2_asof_lookup"),
    "stream_interval_join" ->
      """WITH p AS (
        | SELECT event_id AS purchase_id, user_id, epoch_ns(ts) AS p_ns
        | FROM events WHERE event_type = 'purchase'),
        |v AS (
        | SELECT event_id AS view_id, user_id, epoch_ns(ts) AS v_ns
        | FROM events WHERE event_type = 'view')
        |SELECT p.purchase_id, v.view_id, p.user_id,
        | (p.p_ns - v.v_ns) // 1000000000 AS gap_s
        |FROM p JOIN v ON p.user_id = v.user_id
        | AND v.v_ns >= p.p_ns - 3600000000000
        | AND v.v_ns <= p.p_ns
        |ORDER BY p.purchase_id, v.view_id""".stripMargin,
    "stream_decay" ->
      """WITH ref AS (SELECT max(epoch_ns(ts)) AS ref_ns FROM events)
        |SELECT user_id, count(*) AS n_events,
        | round(sum(power(0.5, (ref_ns - epoch_ns(ts))::DOUBLE / 604800000000000.0)) + 1e-9, 4) AS decayed_n,
        | round(sum(power(0.5, (ref_ns - epoch_ns(ts))::DOUBLE / 604800000000000.0) * value) + 1e-9, 4) AS decayed_value
        |FROM events, ref
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "stream_dedup" ->
      """WITH h AS (
        | SELECT event_id, ts, user_id, event_type, value,
        |  md5(user_id::VARCHAR || '|' || event_type || '|' ||
        |      CAST(round(value * 100 + 1e-9, 0) AS BIGINT)::VARCHAR) AS ch
        | FROM events),
        |r AS (
        | SELECT *, row_number() OVER (PARTITION BY ch ORDER BY ts, event_id) AS rn,
        |  count(*) OVER (PARTITION BY ch) AS n_dups
        | FROM h)
        |SELECT event_id, user_id, event_type, round(value, 2) AS value, n_dups
        |FROM r WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "stream_upsert" ->
      """WITH ranked AS (
        | SELECT user_id, event_id, event_type, value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
        |  count(*) OVER (PARTITION BY user_id) AS n_events
        | FROM events)
        |SELECT user_id, event_id AS last_event_id, event_type AS last_type,
        | round(value, 2) AS last_value, n_events
        |FROM ranked WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "stream_window" ->
      """SELECT strftime(to_timestamp((epoch_ns(ts) // 900000000000) * 900), '%Y-%m-%d %H:%M:%S') AS wstart,
        | event_type, count(*) AS n, round(1e-9 + sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY wstart, event_type""".stripMargin,
    "stream_sliding" ->
      """WITH e AS (
        | SELECT event_type, value, (epoch_ns(ts) // 1000000000) AS sec FROM events),
        |w AS (
        | SELECT event_type, value,
        |  make_timestamp((((sec // 600) * 600) - k.k * 600) * 1000000) AS ws
        | FROM e, (SELECT unnest(generate_series(0, 2)) AS k) k)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS wstart, event_type,
        | count(*) AS n, round(1e-9 + sum(value), 2) AS total_value
        |FROM w GROUP BY ws, event_type ORDER BY wstart, event_type""".stripMargin,
    "stream_session" ->
      """WITH gapped AS (
        | SELECT user_id, value, epoch_ns(ts) // 1000 AS t_us,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |    OR epoch_ns(ts) // 1000 - epoch_ns(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) // 1000 > 1800000000
        |   THEN 1 ELSE 0 END AS is_new
        | FROM events),
        |sess AS (
        | SELECT user_id, value, t_us,
        |  sum(is_new) OVER (PARTITION BY user_id ORDER BY t_us
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        | FROM gapped)
        |SELECT user_id,
        | strftime(to_timestamp(min(t_us) // 1000000), '%Y-%m-%d %H:%M:%S') AS session_start,
        | count(*) AS n_events, round(1e-9 + sum(value), 2) AS session_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin)
}
