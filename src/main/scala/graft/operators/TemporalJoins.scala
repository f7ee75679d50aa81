package graft.operators

import graft.{QueryPack, Tables}
import graft.sources.IndexCache.Pin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators Spark lacks natively: as-of join and
  * interval (range) join, built scale-first.
  *
  * As-of join — "the latest quote at or before each probe" — is
  * implemented as union-tag + per-key ordered window forward-fill: ONE
  * shuffle on the key, no range explosion, no per-probe subquery. The
  * oracle uses DuckDB's native ASOF JOIN, so the gate proves the
  * distributed formulation equals the textbook semantics.
  *
  * Interval join — probes against [start, end] intervals — would be a
  * cross product as a bare theta-join; bucketing both sides by coarse
  * time buckets turns it into an equi-join on the bucket plus a
  * residual range filter, cost bounded by probes-per-bucket ×
  * intervals-per-bucket. An interval spanning k buckets contributes k
  * join rows; a probe lives in exactly one bucket, so no post-join
  * dedup is needed.
  */
object TemporalJoins extends QueryPack {

  private val TsFmt = "yyyy-MM-dd HH:mm:ss"
  private val GapNs = 1800000000000L // 30 min, same as events_sessionize
  private val HourNs = 3600L * 1000000000L

  /** Generic as-of join: for each probe row, the latest quote row with
    * the same `key` and `quoteTime` ≤ `probeTime` (inclusive); quote
    * columns come back null when no quote precedes the probe (left
    * semantics). Ties on quoteTime resolve to the largest `tie` value.
    *
    * Columns of `probes` and `quotes` (other than `key`) must be
    * disjoint; every quote column is forward-filled onto the probes.
    */
  def asofJoin(probes: DataFrame, quotes: DataFrame, key: String,
               probeTime: String, quoteTime: String, tie: String): DataFrame = {
    // quotes sort before probes at equal time (tag 0 < 1 ⇒ inclusive
    // <=); among equal-time quotes the largest tie sorts last, so the
    // running last() picks it
    val q = quotes.withColumn("_t", col(quoteTime)).withColumn("_tag", lit(0))
    val p = probes.withColumn("_t", col(probeTime)).withColumn("_tag", lit(1))
    val u = p.unionByName(q, allowMissingColumns = true)
    val w = Window.partitionBy(col(key))
      .orderBy(col("_t"), col("_tag"), col(tie))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val quoteColumns = quotes.columns.filterNot(_ == key)
    val filled = quoteColumns.foldLeft(u)((df, c) =>
      df.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
    filled.filter(col("_tag") === 1).drop("_t", "_tag")
  }

  /** Purchase attribution: each purchase event joined as-of to the same
    * user's latest view event at or before it — the canonical as-of
    * workload (trades↔quotes, here conversions↔impressions).
    */
  def purchaseAttribution(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts_ns").as("p_ns"), col("ts").as("p_ts"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts_ns").as("v_ns"), col("ts").as("v_ts"))
    asofJoin(purchases, views, key = "user_id",
      probeTime = "p_ns", quoteTime = "v_ns", tie = "view_id")
      .select(
        col("purchase_id"), col("user_id"),
        date_format(col("p_ts"), TsFmt).as("purchase_ts"),
        col("view_id"),
        date_format(col("v_ts"), TsFmt).as("view_ts"),
        expr("(p_ns - v_ns) div 1000000000").as("gap_s"))
  }

  /** Interval join: per session interval (the sessionize gap logic's
    * [min ts, max ts] per user-session), how many purchases OTHER users
    * made while it was open.
    *
    * r17 shape — PREFIX COUNTS, not interval pairing. The r16 form
    * exploded sessions to hour buckets and equi-joined purchases on the
    * bucket with a range residual; per-bucket join pairs are
    * sessions_b × purchases_b, and both densities grow linearly with
    * the corpus at a fixed time range, so the pair stream grew
    * QUADRATICALLY (sf10 solo converged 15–16 s with the join stage
    * dominating). Counting replaces pairing:
    *
    *   n_other(s) = (#purchases ≤ end − #purchases < start)
    *              − (#own purchases ≤ end − #own purchases < start)
    *
    * Each #-term is a running count over the union of purchases
    * (tag 0) and session-bound probes (start tag −1, end tag +1)
    * ordered by (t, tag) — exactly the as-of union trick above. The
    * own-user term partitions by user_id (skew-free). The global term
    * partitions by hour bucket for the in-bucket count and adds the
    * preceding buckets' totals via a broadcast non-equi prefix join
    * over the bucket-count frame (calendar-bounded rows — the
    * Ranks.globalCumSum formulation without its generic machinery).
    * Every stage is linear in events; nothing multiplies densities.
    * Probe tag ordering makes end inclusive (purchases sort before the
    * end probe at equal t) and start exclusive-of-earlier (start probe
    * sorts before equal-t purchases), matching the r16 residual
    * p_ns ∈ [start_ns, end_ns] exactly.
    */
  def sessionOverlapPurchases(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"))
    val sess = e
      .withColumn("prev_ns", lag(col("ts_ns"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_ns").isNull || (col("ts_ns") - col("prev_ns")) > GapNs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts_ns")).as("start_ns"), max(col("ts_ns")).as("end_ns"))
      // pinned: several consumers (both probe legs, and through them the
      // counting windows and the bucket prefix) replay one window pass
      .pin()
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), lit(null).cast("long").as("session_id"),
        col("ts_ns").as("t"), lit(0).as("tag"))
    val probes = sess.select(col("user_id"), col("session_id"),
        col("start_ns").as("t"), lit(-1).as("tag"))
      .unionByName(sess.select(col("user_id"), col("session_id"),
        col("end_ns").as("t"), lit(1).as("tag")))
    val u = probes.unionByName(purchases)
      .withColumn("bucket", expr(s"t div $HourNs"))
    val isPur = when(col("tag") === 0, 1L).otherwise(0L)
    val wBucket = Window.partitionBy(col("bucket")).orderBy(col("t"), col("tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wUser = Window.partitionBy(col("user_id")).orderBy(col("t"), col("tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // bucket window first, user window second: the frame leaves the
    // last exchange hash-partitioned by user_id, which the final
    // (user_id, session_id) aggregate reuses (subset clustering)
    val counted = u
      .withColumn("b_cnt", sum(isPur).over(wBucket))
      .withColumn("u_cnt", sum(isPur).over(wUser))
    val bt = purchases.withColumn("bucket", expr(s"t div $HourNs"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    val cumBefore = u.select(col("bucket")).distinct().as("a")
      .join(broadcast(bt.as("b")), col("b.bucket") < col("a.bucket"), "left_outer")
      .groupBy(col("a.bucket").as("bucket"))
      .agg(coalesce(sum(col("b.n")), lit(0L)).as("g_off"))
    counted.filter(col("tag") =!= 0)
      .join(broadcast(cumBefore), Seq("bucket"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(sum(col("tag") * (col("b_cnt") + col("g_off") - col("u_cnt")))
        .as("n_other_purchases"))
  }

  private val DecayHlNs = 900000000000L // 15-min credit half-life

  /** Multi-touch attribution with time-decay credit — the
    * industry-standard generalization of [[purchaseAttribution]]'s
    * last-touch: EVERY view in the purchase's 1-hour lookback earns raw
    * weight 0.5^(gap/15min), normalized so each purchase distributes
    * exactly 1.0 of conversion credit across its touches (most-recent
    * touch gets the most; `touch_pos` 1 = most recent). Scale shape:
    * a same-user equi-join (no theta cross product — the time bound is
    * a post-join residual on an already user-bucketed pair stream),
    * then ONE purchase-keyed window pass for the normalizing sum; both
    * shuffles key on high-cardinality ids, no skew, nothing
    * corpus-squared. The streaming form is [[graft.streaming
    * .StreamingOps.intervalJoinStream]] + per-purchase re-normalization
    * at read time.
    */
  def attributionCredits(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts_ns").as("p_ns"))
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts_ns").as("v_ns"))
    val byP = Window.partitionBy(col("purchase_id"))
    p.join(v, col("user_id") === col("v_user") &&
        col("v_ns") >= col("p_ns") - lit(HourNs) && col("v_ns") <= col("p_ns"))
      .withColumn("gap_ns", col("p_ns") - col("v_ns"))
      .withColumn("wr", pow(lit(0.5), col("gap_ns").cast("double") / lit(DecayHlNs.toDouble)))
      .withColumn("touch_pos", row_number().over(byP.orderBy(col("gap_ns"), col("view_id"))))
      .withColumn("credit", round(lit(1e-9) + col("wr") / sum(col("wr")).over(byP), 4))
      .select(col("purchase_id"), col("view_id"), col("user_id"), col("touch_pos"),
        expr("gap_ns div 1000000000").as("gap_s"), col("credit"))
      .orderBy(col("purchase_id"), col("view_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_asof_join" -> (purchaseAttribution _),
    "events_interval_join" -> (sessionOverlapPurchases _),
    "events_attribution" -> (attributionCredits _))

  val oracles: Map[String, String] = Map(
    "events_asof_join" ->
      """WITH p AS (
        | SELECT user_id, event_id AS purchase_id, epoch_ns(ts) AS p_ns, ts AS p_ts
        | FROM events WHERE event_type = 'purchase'),
        |v0 AS (
        | SELECT user_id, event_id AS view_id, epoch_ns(ts) AS v_ns, ts AS v_ts
        | FROM events WHERE event_type = 'view'),
        |v AS (
        | SELECT user_id, view_id, v_ns, v_ts FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, v_ns ORDER BY view_id DESC) AS rn
        |  FROM v0) WHERE rn = 1)
        |SELECT p.purchase_id, p.user_id,
        | strftime(p.p_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        | v.view_id,
        | strftime(v.v_ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
        | (p.p_ns - v.v_ns) // 1000000000 AS gap_s
        |FROM p ASOF LEFT JOIN v
        | ON p.user_id = v.user_id AND v.v_ns <= p.p_ns
        |ORDER BY purchase_id""".stripMargin,
    "events_interval_join" ->
      """WITH gapped AS (
        | SELECT user_id, epoch_ns(ts) AS ts_ns, event_type,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |    OR epoch_ns(ts) - epoch_ns(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800000000000
        |   THEN 1 ELSE 0 END AS is_new
        | FROM events),
        |se AS (
        | SELECT user_id, ts_ns,
        |  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_ns
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        | FROM gapped),
        |sess AS (
        | SELECT user_id, session_id, min(ts_ns) AS start_ns, max(ts_ns) AS end_ns
        | FROM se GROUP BY user_id, session_id),
        |p AS (
        | SELECT user_id AS p_user, epoch_ns(ts) AS p_ns
        | FROM events WHERE event_type = 'purchase'),
        |c AS (
        | SELECT s.user_id, s.session_id, count(*) AS n
        | FROM sess s JOIN p
        |  ON p.p_ns BETWEEN s.start_ns AND s.end_ns AND p.p_user <> s.user_id
        | GROUP BY s.user_id, s.session_id)
        |SELECT s.user_id, s.session_id, CAST(coalesce(c.n, 0) AS BIGINT) AS n_other_purchases
        |FROM sess s LEFT JOIN c USING (user_id, session_id)
        |ORDER BY user_id, session_id""".stripMargin,
    "events_attribution" ->
      """WITH p AS (
        | SELECT event_id AS purchase_id, user_id, epoch_ns(ts) AS p_ns
        | FROM events WHERE event_type = 'purchase'),
        |v AS (
        | SELECT event_id AS view_id, user_id, epoch_ns(ts) AS v_ns
        | FROM events WHERE event_type = 'view'),
        |j AS (
        | SELECT p.purchase_id, v.view_id, p.user_id, p.p_ns - v.v_ns AS gap_ns
        | FROM p JOIN v ON p.user_id = v.user_id
        |  AND v.v_ns >= p.p_ns - 3600000000000 AND v.v_ns <= p.p_ns),
        |w AS (SELECT *, power(0.5, gap_ns::DOUBLE / 900000000000.0) AS wr FROM j)
        |SELECT purchase_id, view_id, user_id,
        | row_number() OVER (PARTITION BY purchase_id ORDER BY gap_ns, view_id) AS touch_pos,
        | gap_ns // 1000000000 AS gap_s,
        | round(1e-9 + wr / sum(wr) OVER (PARTITION BY purchase_id), 4) AS credit
        |FROM w ORDER BY purchase_id, view_id""".stripMargin)
}
