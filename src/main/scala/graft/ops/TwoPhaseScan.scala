package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * The one two-phase global prefix scan behind every running aggregate
 * over a GLOBAL order in the repo — [[GlobalIndex]]'s row numbering,
 * [[Packing]]'s token offsets, [[PrefixScan]]'s running maxima and the
 * Auc/Spearman/WeightedSample/WeightedMedian/Drift/SplitSearch prefix
 * sums — the `agg OVER (ORDER BY k)` shape without the single-reducer
 * window, built as ONE lazy plan: nothing here runs a job, a caller keeps
 * composing the result and the engine runs it with the caller's action.
 *
 *   1. range-repartition on the order key (sampled bounds → ordered,
 *      balanced buckets), tag rows with the bucket id
 *      (`spark_partition_id()` — the partition count is passed
 *      explicitly, so AQE never re-coalesces the buckets out from under
 *      the tag);
 *   2. per-bucket local running aggregates: one hash exchange on the
 *      bucket id (the Window's required clustering — it moves each bucket
 *      as a unit, balanced by construction) + one in-bucket sort, full
 *      parallelism at any data size;
 *   3. per-bucket partials re-aggregated from the range exchange, folded
 *      into exclusive bucket offsets in a window over
 *      ≤ numShufflePartitions rows — CONFIG-bounded metadata, never data
 *      (the [[WeightedMedian]] starts-table argument; stated by the
 *      constant partition key) — and broadcast back.
 *
 * Both consumers of the range exchange have the same subtree, so the
 * executed plan materializes it once and the partials branch reads it as
 * a `ReusedExchange`: the two passes see ONE row→partition assignment,
 * which is what makes the offsets line up with the local aggregates.
 * (Two separate range exchanges would not: the partitioner samples its
 * bounds with a seed taken from its RDD's id.)
 *
 * Contract: `orderCols` form a KEY of df (one row per value — aggregate
 * upstream, or break ties with a unique last column; ties would make a
 * running aggregate row-order-dependent), every column of df is
 * orderable (no maps: every column joins the range key), and the
 * aggregated columns are longs — non-null for sums.
 */
private[graft] object TwoPhaseScan {

  /** One running aggregate: sums cover the rows up to AND including the
    * current one, maxima only the rows strictly before it (the two frames
    * the callers need). `total`, when set, names a column carrying the
    * aggregate over all rows. */
  private final case class Run(src: String, out: String, isMax: Boolean,
                               total: Option[String]) {
    def agg(c: Column): Column = if (isMax) max(c) else sum(c)
    def frameEnd: Long = if (isMax) -1L else Window.currentRow
    // greatest() skips nulls, so a max over an empty or all-null prefix
    // stays null instead of meeting a fabricated identity; an empty sum
    // prefix IS 0
    def combine(local: Column, off: Column): Column =
      if (isMax) greatest(local, off) else local + coalesce(off, lit(0L))
  }

  /** Per `(src, cum, tot)` entry of `sums`: `cum` = the running sum of
    * `src` including the current row, `tot` = its grand total. Returns
    * df's columns plus those. */
  def cumSums(df: DataFrame, orderCols: Seq[Column],
              sums: Seq[(String, String, String)]): DataFrame =
    running(df, orderCols, sums.map { case (src, cum, tot) =>
      Run(src, cum, isMax = false, Some(tot)) })

  /** df's columns plus `out` = max of `src` over the rows strictly before
    * the current one — null for the global first row and wherever every
    * earlier value is null. */
  def exclusiveMax(df: DataFrame, orderCols: Seq[Column], src: String,
                   out: String): DataFrame =
    running(df, orderCols, Seq(Run(src, out, isMax = true, None)))

  private def running(df: DataFrame, orderCols: Seq[Column],
                      runs: Seq[Run]): DataFrame = {
    val spark = df.sparkSession
    // the range key lists every column of df after orderCols: orderCols
    // already make rows unique, so the extra columns never change the
    // order, but a consumer that reads fewer columns (the partials
    // branch, a caller's projection) can then no longer prune the
    // exchange's input — every copy of the exchange stays one plan, which
    // is what lets ReuseExchange materialize it once
    val parted = df
      .repartitionByRange(spark.sessionState.conf.numShufflePartitions,
        orderCols ++ df.columns.map(col): _*)
      .withColumn("__pid", spark_partition_id())
    val wLoc = Window.partitionBy(col("__pid")).orderBy(orderCols: _*)
    val local = runs.foldLeft(parted) { (d, r) =>
      d.withColumn(s"__l_${r.out}", r.agg(col(r.src))
        .over(wLoc.rowsBetween(Window.unboundedPreceding, r.frameEnd)))
    }
    val aggs = runs.map(r => r.agg(col(r.src)).as(s"__t_${r.out}"))
    val partials = parted.groupBy(col("__pid")).agg(aggs.head, aggs.tail: _*)
    // the offsets fold runs in ONE partition over ≤ numShufflePartitions
    // rows — bounded by CONFIG, never data. The partition key is a
    // __pid-derived constant (pmod(pid, 1) ≡ 0) rather than a bare
    // literal: a foldable key would be optimized away into an EMPTY
    // partition spec, which both re-triggers WindowExec's
    // no-partition-defined warning (reserved for genuinely unbounded
    // frames) and hides the stated boundedness from the plan.
    val offKey = pmod(col("__pid"), lit(1))
    val wOff = Window.partitionBy(offKey).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(offKey)
    val offsets = runs.foldLeft(partials) { (d, r) =>
      val t = col(s"__t_${r.out}")
      val withOff = d.withColumn(s"__o_${r.out}", r.agg(t).over(wOff))
      r.total.fold(withOff)(withOff.withColumn(_, r.agg(t).over(wAll)))
    }
    local.join(broadcast(offsets), Seq("__pid"))
      .select(df.columns.map(col) ++ runs.flatMap { r =>
        r.combine(col(s"__l_${r.out}"), col(s"__o_${r.out}")).as(r.out) +:
          r.total.map(col).toSeq }: _*)
  }
}
