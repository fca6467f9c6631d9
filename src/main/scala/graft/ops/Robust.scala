package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Robust statistics over a numeric column — winsorization at EXACT
 * global order statistics, the standard outlier treatment before a
 * metric goes into a training mix or a drift monitor (a single corrupt
 * value must not drag the mean).
 *
 * The p-th cut point is the value at rank ⌈p·n⌉ (1-indexed) in the total
 * order — an exact order statistic, not an interpolated percentile, so
 * it is reproducible across engines. Ranks and the row count come from
 * [[GlobalIndex.withIndexAndCount]]'s two-phase numbering (range shuffle
 * + per-partition offsets — no single-reducer window); the two cut
 * values reduce to ONE metadata row that broadcasts back over the data
 * for clamping.
 *
 * Sums of clamped values ride DECIMAL (quantized, order-independent) —
 * the repo's standard answer to double-summation nondeterminism.
 */
object Robust {

  /**
   * Winsorized summary of `valueCol` clamped at the exact [pLo, pHi]
   * order statistics (per-mille, e.g. 50 and 950): one row
   * (n, lo, hi, n_low, n_high, wsum, wmean). `orderCols` must make the
   * rank order total (unique tiebreaker last).
   */
  def winsorized(df: DataFrame, valueCol: Column,
                 pLoMille: Int, pHiMille: Int,
                 orderCols: Column*): DataFrame = {
    require(0 < pLoMille && pLoMille < pHiMille && pHiMille < 1000,
      s"need 0 < lo < hi < 1000 per-mille: $pLoMille, $pHiMille")
    val valued = df.select((valueCol.as("__v") +: orderCols): _*)
    // rank = __idx + 1; cut ranks are ⌈p·n/1000⌉, over the index's own
    // row count column
    val indexed = GlobalIndex.withIndexAndCount(valued, "__idx", "__n",
      (col("__v") +: orderCols): _*)
    def cutAt(pMille: Int): Column =
      max(when(col("__idx") + 1L === expr(s"($pMille * __n + 999) div 1000"),
        col("__v")))
    val cutVals = indexed.agg(cutAt(pLoMille).as("lo"),
      cutAt(pHiMille).as("hi"), count(lit(1)).as("n"))
    val clamped = indexed.crossJoin(broadcast(cutVals))
      .withColumn("__c", least(greatest(col("__v"), col("lo")),
        col("hi")))
    clamped.groupBy(col("n"), col("lo"), col("hi"))
      .agg(
        sum(when(col("__v") < col("lo"), 1L).otherwise(0L)).as("n_low"),
        sum(when(col("__v") > col("hi"), 1L).otherwise(0L)).as("n_high"),
        sum(col("__c").cast("decimal(18,2)")).cast("decimal(38,2)")
          .as("wsum"))
      .withColumn("wmean",
        col("wsum").cast("double") / col("n").cast("double"))
      .select(col("n"), col("lo"), col("hi"), col("n_low"),
        col("n_high"), col("wsum").cast("double").as("wsum"),
        col("wmean"))
  }
}
