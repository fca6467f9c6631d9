package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deterministic weight-proportional SYSTEMATIC sampling — the
 * training-data mixing primitive ("sample documents proportional to
 * token count") built so the same inputs always select the same rows on
 * any cluster, any partitioning, any retry:
 *
 *   stride S = max(1, totalWeight div target); a row is selected iff the
 *   running weight crosses a stride boundary inside it, i.e.
 *   `(W_before + w) div S  >  W_before div S`.
 *
 * Classic systematic PPS sampling (Madow 1949) with the random phase
 * pinned to 0: every row with w ≥ S is ALWAYS selected (heavy docs can't
 * be missed — the property reservoir sampling lacks), light rows are
 * picked at frequency proportional to their weight, and the selected
 * count is totalWeight div S ± 1. All integer arithmetic.
 *
 * Spark shape: the running weight and the total come from one
 * [[TwoPhaseScan.cumSums]] scan over the caller's total order — range
 * shuffle + per-partition offsets + a PARTITIONED local window — and the
 * stride is an expression over the total column. No single-reducer
 * `ORDER BY` window, nothing collected to the driver.
 */
object WeightedSample {

  /**
   * Select ~`target` rows from `df` proportional to long `weightCol`,
   * deterministic under the total order `orderCols`. Adds nothing to
   * the schema; returns the selected subset. Weights must be ≥ 0; a
   * null weight counts as 0.
   */
  def systematic(df: DataFrame, weightCol: Column, target: Long,
                 orderCols: Column*): DataFrame = {
    require(target >= 1, s"target must be >= 1: $target")
    val weighted = df.withColumn("__w",
      coalesce(weightCol.cast("long"), lit(0L)))
    // W_before + w is the inclusive running sum; `div` = exact integer
    // division (Column./ is double division)
    val stride = s"greatest(1L, __tot div ${target}L)"
    TwoPhaseScan.cumSums(weighted, orderCols, Seq(("__w", "__cum", "__tot")))
      .filter(expr(s"__cum div $stride > (__cum - __w) div $stride"))
      .drop("__w", "__cum", "__tot")
  }
}
