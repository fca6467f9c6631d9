package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * 2-D skyline (Pareto frontier, maximize both dimensions): the points no
 * other point dominates — dominance being x' ≥ x ∧ y' ≥ y with at least
 * one strict. The multi-criteria "best documents" / "best configs"
 * operator (Börzsönyi et al., ICDE 2001).
 *
 * Naive skyline is an all-pairs NOT EXISTS — quadratic, the shape the
 * oracle runs. The engine exploits the 2-D structure:
 *
 *   1. collapse to per-x maxima (one hash agg — ties at the same x are
 *      dominated by that x's max unless they ARE the max);
 *   2. running max of y over STRICTLY GREATER x = the
 *      [[PrefixScan.exclusiveRunningMax]] two-phase scan ordered by
 *      x DESC (range shuffle, per-partition offsets, partitioned
 *      local window);
 *   3. keep x-groups whose max-y strictly exceeds that high-water mark
 *      (nothing to the right is ≥ in y ⇒ nothing dominates).
 *
 * Total cost: one aggregation + one two-phase scan over the NDV(x)-sized
 * group frame — O(n) data movement vs the oracle's O(n²) pair scan; the
 * gate proves they select identical points.
 */
object Skyline {

  /**
   * Skyline of the (x, y) projection of `df` — distinct non-dominated
   * points as (x, y). BOTH dimensions long-typed: the two-phase scan
   * folds long partials, and integer comparisons keep the frontier exact
   * (callers quantize doubles — e.g. cents — before calling, as every
   * exact op in the repo does).
   */
  def pareto2d(df: DataFrame, x: Column, y: Column): DataFrame = {
    val perX = df.select(x.as("x"), y.as("y"))
      .groupBy(col("x")).agg(max(col("y")).as("y"))
    // y rides through the long-based scan: order by x DESC, running
    // max over strictly-preceding rows = max y among strictly-greater x
    val scanned = PrefixScan.exclusiveRunningMax(
      perX, col("y"), "hwm", col("x").desc)
    scanned.filter(col("hwm").isNull || col("y") > col("hwm"))
      .select(col("x"), col("y"))
  }
}
