package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Dense global row numbering under a total order — "assign every training
 * example a stable contiguous id" — WITHOUT the naive plan's scale
 * killer: `row_number() OVER (ORDER BY …)` with no PARTITION BY collapses
 * the whole table into ONE reducer (Spark even warns); at 100 TB that is
 * not slow, it is dead.
 *
 * The scalable shape is the two-phase index: the row's 0-based index is
 * its running count minus one, computed by [[TwoPhaseScan.cumSums]] —
 * range-partition on the order key, count rows per partition, fold the
 * counts into per-partition offsets (#partitions rows, broadcast back)
 * and add each row's in-partition position.
 *
 * Every row is numbered exactly once, no global single-reducer sort ever
 * runs, and the result equals the naive plan row-for-row (the q60 oracle
 * IS the naive plan, in DuckDB). The result is a lazy plan: nothing runs
 * until the caller's action, and nothing is cached.
 */
object GlobalIndex {

  /** Add `idxCol` = 0-based dense global index of the row under
    * `ORDER BY orderCols`. The caller makes the order total (unique last
    * column) — the same contract as any deterministic sort. */
  def withGlobalIndex(df: DataFrame, idxCol: String,
                      orderCols: Column*): DataFrame =
    withIndexAndCount(df, idxCol, "__n", orderCols: _*).drop("__n")

  /** [[withGlobalIndex]] plus `countCol` = the row count of df, on every
    * row — the N that rank arithmetic (deciles, cut ranks) divides by,
    * read from the same scan instead of a separate count branch. */
  def withIndexAndCount(df: DataFrame, idxCol: String, countCol: String,
                        orderCols: Column*): DataFrame =
    TwoPhaseScan.cumSums(df.withColumn("__one", lit(1L)), orderCols,
        Seq(("__one", idxCol, countCol)))
      .withColumn(idxCol, col(idxCol) - 1L)
      .drop("__one")
}
