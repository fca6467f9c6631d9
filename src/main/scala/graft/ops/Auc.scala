package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * EXACT ROC-AUC as a Mann-Whitney rank statistic — the standard scalar
 * for "does this score order positives above negatives", computed with
 * midrank tie handling and NO floating point until the caller divides:
 *
 *   AUC = (Σ ranks(positives) − n₊(n₊+1)/2) / (n₊ · n₋)
 *
 * with tied scores taking the average (mid) rank. Doubling clears the
 * half-integer midranks: 2·midrank(group) = 2·(items before) + n_group
 * + 1, so Σ 2·ranks(positives) = Σ_groups pos_g · (2·before_g + n_g + 1)
 * — every term an integer.
 *
 * Scale shape: one hash aggregate collapses the table to (score, n, pos)
 * value groups; "items before" is the running sum of group sizes in
 * score order minus the group's own size — [[TwoPhaseScan.cumSums]]'
 * two-phase scan, NEVER a global single-reducer window; one final
 * aggregate emits the numerator/denominator pair in DECIMAL(38,0) (rank
 * sums overflow longs at warehouse row counts). The q171 lift table is the per-decile view
 * of the same ordering; this is its single-scalar summary.
 */
object Auc {

  /**
   * One row: n_pos, n_neg, auc_num = 2·Σranks₊ − n₊(n₊+1),
   * auc_den = 2·n₊·n₋ (both DECIMAL(38,0)); AUC = auc_num / auc_den.
   * Null scores/labels are excluded. Higher score = ranked later =
   * "predicts positive" (AUC 1 when every positive outscores every
   * negative).
   */
  def exactAuc(df: DataFrame, scoreCol: Column, labelCol: Column)
      : DataFrame = {
    val d = "decimal(38,0)"
    val groups = df
      .select(scoreCol.as("s"), when(labelCol, 1L).otherwise(0L).as("pos"))
      .filter(col("s").isNotNull && labelCol.isNotNull)
      .groupBy(col("s"))
      .agg(count(lit(1)).as("n_g"), sum(col("pos")).as("pos_g"))
    TwoPhaseScan.cumSums(groups, Seq(col("s")),
        Seq(("n_g", "__cum", "__tot")))
      .withColumn("before_g", col("__cum") - col("n_g"))
      .agg(sum(col("pos_g")).cast(d).as("n_pos"),
        (sum(col("n_g")) - sum(col("pos_g"))).cast(d).as("n_neg"),
        sum(col("pos_g").cast(d) *
          (col("before_g").cast(d) * 2 + col("n_g") + 1))
          .cast(d).as("two_rank_sum"))
      .select(col("n_pos").cast("long").as("n_pos"),
        col("n_neg").cast("long").as("n_neg"),
        (col("two_rank_sum") - col("n_pos") * (col("n_pos") + 1))
          .cast(d).cast("string").as("auc_num"),
        (col("n_pos") * col("n_neg") * 2).cast(d).cast("string")
          .as("auc_den"))
  }
}
