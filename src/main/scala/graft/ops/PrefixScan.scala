package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Distributed order-statistics scans — running aggregates over a GLOBAL
 * total order without the single-reducer window Spark's
 * `agg OVER (ORDER BY …)` (no PARTITION BY) degenerates to. The running
 * MAX rides [[TwoPhaseScan]]'s two-phase scan, the same one behind
 * [[Packing.packByBudget]]'s running sum and [[GlobalIndex]]'s row
 * numbering: range partition, per-partition maxima folded into
 * per-partition offsets, in-partition exclusive running max combined
 * with the broadcast offset.
 *
 * The EXCLUSIVE scan (strictly-preceding rows) is what event-time
 * watermark semantics need: an event compares against the high-water
 * mark of everything that arrived BEFORE it.
 */
object PrefixScan {

  /**
   * Add `outCol` = max(`valueCol`) over all rows STRICTLY BEFORE the row
   * in the `ORDER BY orderCols` total order (null for the global first
   * row — nothing precedes it). `valueCol` must be long-typed; the
   * caller makes the order total (ties would make "before" ambiguous).
   * Null values are transparent: they never count as a 0.
   */
  def exclusiveRunningMax(df: DataFrame, valueCol: Column, outCol: String,
                          orderCols: Column*): DataFrame =
    TwoPhaseScan.exclusiveMax(df.withColumn("__v", valueCol.cast("long")),
        orderCols, "__v", outCol)
      .drop("__v")
}
