package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Exact PER-GROUP weighted (lower) median — for each group, the smallest
 * value whose cumulative weight reaches half the group's total
 * (`2·cum ≥ total`, all-integer: no division in the contract). The
 * robust "typical value" statistic `percentile_cont`'s interpolation
 * can't state exactly.
 *
 * Shape for 100 TB: the naive plan windows `PARTITION BY group ORDER BY
 * value`, so its parallelism is the GROUP COUNT forever (3 return flags
 * → 3 tasks on a 1000-executor cluster). Here the cumulative weight is
 * instead [[TwoPhaseScan.cumSums]]' distributed running sum over the
 * ONE global (group, value) order — full parallelism regardless of group
 * count: the per-group cumulative is the global running sum minus the
 * group's exclusive start, where the #groups start offsets come from one
 * hash aggregate plus a metadata-sized (#groups-row) prefix window.
 *
 * Input contract: `weightCol` long-typed non-negative, `groupCol` and
 * `valueCol` non-null (null values carry no order; callers pre-filter).
 */
object WeightedMedian {

  /**
   * One row per group: (groupCol, median_value, total_weight) —
   * median_value the weighted lower median of `valueCol`, total_weight
   * the group's total. Rows collapse to (group, value) weight sums
   * first, so the scan runs over the value domain, not the raw rows.
   */
  def lowerMedian(df: DataFrame, groupCol: String, valueCol: String,
                  weightCol: String): DataFrame = {
    val base = df
      .groupBy(col(groupCol), col(valueCol))
      .agg(sum(col(weightCol)).as("__w"))
    // global running weight over the one total (group, value) order
    val cumGlobal = TwoPhaseScan.cumSums(base,
      Seq(col(groupCol), col(valueCol)), Seq(("__w", "__cw_g", "__all")))
    // per-group totals + exclusive group starts: #groups rows, prefix-
    // folded in one metadata-sized window — bounded by the group domain,
    // same argument as the bounded-rank windows
    val wf = Window.orderBy(col(groupCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val starts = base.groupBy(col(groupCol))
      .agg(sum(col("__w")).as("__total"))
      .withColumn("__start", coalesce(sum(col("__total")).over(wf), lit(0L)))
    cumGlobal
      .join(broadcast(starts), Seq(groupCol))
      .filter((col("__cw_g") - col("__start")) * 2 >= col("__total"))
      .groupBy(col(groupCol))
      .agg(min(col(valueCol)).as("median_value"),
        max(col("__total")).as("total_weight"))
  }
}
