package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Token-budget shard packing — the "cut the corpus into fixed-token
 * training shards" step at the end of every LLM data pipeline: documents
 * take a deterministic total order, and each document is assigned to the
 * shard in which its token interval STARTS (`shard = floor(running_start
 * / budget)` — the streaming-packer rule: shards fill to at least the
 * budget boundary, no document is split, no look-ahead needed).
 *
 * The naive plan is `sum(tokens) OVER (ORDER BY key)` — a global-order
 * window that collapses the table into ONE reducer, the same scale
 * killer [[GlobalIndex]] documents for row numbering. Here the running
 * token sum is [[TwoPhaseScan.cumSums]]' two-phase scan (range
 * partition, per-partition offsets, partitioned local window), and the
 * exclusive start is that inclusive sum minus the document's own tokens.
 *
 * Equals the naive single-reducer plan row-for-row; the q118 oracle IS
 * that naive plan, in DuckDB.
 */
object Packing {

  /**
   * Assign `shard_id` under `ORDER BY orderCols` (caller makes the order
   * total) so each shard holds consecutive documents whose token
   * intervals start inside one `budget`-sized window. Adds
   * `running_start` (the exclusive global token prefix-sum) and
   * `shard_id`; `tokenCol` must be a non-negative integral count (a null
   * count adds no tokens).
   */
  def packByBudget(df: DataFrame, tokenCol: Column, budget: Long,
                   orderCols: Column*): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val tokenized = df.withColumn("__tok",
      coalesce(tokenCol.cast("long"), lit(0L)))
    TwoPhaseScan.cumSums(tokenized, orderCols, Seq(("__tok", "__cum", "__tot")))
      .withColumn("running_start", col("__cum") - col("__tok"))
      .withColumn("shard_id",
        expr(s"CAST(running_start DIV ${budget}L AS BIGINT)"))
      .drop("__tok", "__cum", "__tot")
  }
}
