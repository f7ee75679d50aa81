package graft.functions

import graft.sources.IndexCache.Pin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Distributed global sequence numbers.
  *
  * `Window.orderBy(...)` with no partition key funnels every row
  * through ONE task — fine at test scale, fatal at 100 TB. This helper
  * computes the identical global row_number in three scalable steps:
  * range-repartition on the order key, rank within each partition,
  * then offset by the cumulative counts of the preceding partitions
  * (a tiny ≤`partitions`-row prefix sum, computed in-plan and
  * broadcast back onto the ranked rows).
  *
  * The result is identical to the single-task formulation whenever the
  * order key is unique (range partitioning preserves global order
  * across partitions).
  *
  * Determinism: `repartitionByRange` picks its boundaries by SAMPLING,
  * so two separate executions of the same plan can place boundary rows
  * in different partitions. Computing the offsets in one action and the
  * result in another (the round-1 formulation) therefore risked stale
  * offsets — duplicate or skipped sequence numbers at scale. The fix:
  * the range-partitioned frame is persisted so every consumer reads the
  * SAME materialized placement, the offsets join keeps the whole
  * computation in one action, and the result is eagerly materialized
  * (pinned) before the scratch cache is released — callers can
  * re-execute the returned frame any number of times without ever
  * re-running the sampled partitioner.
  */
object Ranks {

  /** Row number over a PROVEN-BOUNDED frame — the caller guarantees an
    * upstream `.limit(k)` (index-probe results, top-k pages), so a
    * single task is the CORRECT plan, not an accident. Implemented
    * with zero Window nodes: coalesce to one partition, sort within
    * it, then number rows by `monotonically_increasing_id` (partition
    * index 0 → ids are exactly 0..n−1 in iteration order, which IS the
    * sorted order; the id expression is nondeterministic, so Catalyst's
    * EliminateSorts cannot drop the sort under it). This keeps the
    * plan-audit invariant absolute — ANY partitionless Window in an
    * optimized plan is a corpus-sized single-task accident — with no
    * "the optimizer never folds my constant partition key" assumption
    * (it does fold `lit(0)`, which is how round 11's gate went red).
    */
  def boundedRowNumber(df: DataFrame,
      order: Seq[org.apache.spark.sql.Column], outCol: String): DataFrame =
    df.coalesce(1).sortWithinPartitions(order: _*)
      .withColumn(outCol, monotonically_increasing_id() + 1)

  /** Distributed global running total of `valueCol` in `orderCol`
    * order — the same three-step shape as [[globalRowNumber]] (range
    * partition → per-partition running sum → broadcast prefix of the
    * preceding partitions' totals), replacing the single-task
    * `Window.orderBy(...)` cumulative sum. Identical placement
    * guarantees apply: one persisted partitioning feeds both the
    * offsets and the result, and the output is eagerly materialized.
    * (The offset association sums partition subtotals first, so the
    * floating-point error differs from a strictly sequential sum by
    * ~1 ulp per partition — round before comparing across engines.)
    *
    * Contract: `orderCol` must be a TOTAL (duplicate-free) ordering
    * key — tied rows get an arbitrary relative order inside their
    * range partition, making per-row cum values nondeterministic among
    * the ties (pass a struct with a tiebreak column, as partsAbc
    * does). `valueCol` is summed as DOUBLE (the zero offset below is
    * 0.0): integral inputs past 2^53 would lose exactness — round or
    * rescale before calling.
    */
  def globalCumSum(df: DataFrame, orderCol: String, valueCol: String,
      outCol: String = "cum", partitions: Int = 32): DataFrame =
    globalPrefix(df, orderCol, outCol, partitions,
      w => sum(col(valueCol)).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
      sum(col(valueCol)), lit(0.0))

  def globalRowNumber(df: DataFrame, orderCol: String, outCol: String = "rn", partitions: Int = 32): DataFrame =
    globalPrefix(df, orderCol, outCol, partitions,
      w => row_number().over(w).cast("long"), count(lit(1)), lit(0L))

  /** The shared three-step shape: `running` over each range partition in
    * `orderCol` order, plus the offset of the preceding partitions'
    * `subtotal`s (`zero` for the first). */
  private def globalPrefix(df: DataFrame, orderCol: String, outCol: String, partitions: Int,
      running: WindowSpec => Column, subtotal: Column, zero: Column): DataFrame = {
    val parted = df.repartitionByRange(partitions, col(orderCol)).persist()
    try {
      val local = parted
        .withColumn("_pid", spark_partition_id())
        .withColumn("_run", running(Window.partitionBy(col("_pid")).orderBy(col(orderCol))))
      // prefix sum of the ≤`partitions`-row subtotal frame WITHOUT a
      // window: _off(p) = Σ subtotals of partitions before p, as a
      // broadcast non-equi self-join (≤32×32 BroadcastNestedLoopJoin).
      // The earlier partitionBy(lit(0)) window formulation was
      // optimizer-fragile — Catalyst folds the literal partition key
      // away, leaving the partitionless WindowExec the plan gate
      // (PlanAuditSpec) exists to forbid.
      val subs = local.groupBy(col("_pid")).agg(subtotal.as("_s"))
      val offsets = subs.as("a")
        .join(broadcast(subs.as("b")), col("b._pid") < col("a._pid"), "left_outer")
        .groupBy(col("a._pid").as("_pid"))
        .agg(coalesce(sum(col("b._s")), zero).as("_off"))
      // one action: both the offsets agg and the join probe read the one
      // persisted placement; the pin (stable placement of the sampled
      // range partition) freezes the result so later actions replay
      // blocks, not the sampled partitioner, and frees `parted`
      local.join(broadcast(offsets), Seq("_pid"))
        .withColumn(outCol, col("_run") + col("_off"))
        .drop("_pid", "_run", "_off")
        .pin()
    } finally parted.unpersist()
  }
}
