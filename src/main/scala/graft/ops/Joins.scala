package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join helpers encoding SQL semantics Spark's bare join API doesn't. */
object Joins {

  /**
   * General AS-OF join — each left row picks up the payload of the LATEST
   * right row with the same key and right.time ≤ left.time (inclusive),
   * NULL payload if none — WITHOUT an inequality join: both sides are
   * tagged and unioned, and one window pass per key carries the last-seen
   * right payload forward (right sorts before left on time ties, giving
   * the ≤ semantics). Plan shape: ONE shuffle on the key + a linear
   * per-key scan — at 100 TB this is the difference between a sort-merge
   * pass and the range-join row explosion a naive `l.time >= r.time` join
   * plans. Right rows are first collapsed to one per (key, time)
   * (lexicographic-max payload — deterministic, engine-reproducible).
   * Output: every left column + `<prefix><payloadCol>` columns.
   */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
               timeCol: String, payloadCols: Seq[String],
               prefix: String = "asof_"): DataFrame =
    asofDirectional(left, right, keyCol, timeCol, payloadCols, prefix,
      forward = false)

  /**
   * FORWARD as-of join — the mirror of [[asofJoin]]: each left row picks
   * up the payload of the EARLIEST right row with the same key and
   * right.time ≥ left.time (inclusive), NULL if none. Same plan shape
   * (one key shuffle + one linear window pass, no inequality join); the
   * scan simply runs time-descending. This is the "next event" primitive
   * funnels are built from (view → first purchase after it).
   */
  def asofJoinForward(left: DataFrame, right: DataFrame, keyCol: String,
                      timeCol: String, payloadCols: Seq[String],
                      prefix: String = "asof_"): DataFrame =
    asofDirectional(left, right, keyCol, timeCol, payloadCols, prefix,
      forward = true)

  private def asofDirectional(left: DataFrame, right: DataFrame,
                              keyCol: String, timeCol: String,
                              payloadCols: Seq[String], prefix: String,
                              forward: Boolean): DataFrame = {
    val rightOne = right.groupBy(col(keyCol), col(timeCol))
      .agg(max(struct(payloadCols.map(col): _*)).as("__p"))
    val pType = rightOne.schema("__p").dataType
    val leftCols = left.columns.toSeq
    val lTagged = left.select(
      leftCols.map(col) :+ lit(1).as("__side") :+
        lit(null).cast(pType).as("__p"): _*)
    val rTagged = rightOne.select(
      leftCols.map {
        case c if c == keyCol || c == timeCol => col(c)
        case c => lit(null).cast(left.schema(c).dataType).as(c)
      } :+ lit(0).as("__side") :+ col("__p"): _*)
    // side 0 (right) sorts before side 1 (left) at equal times in BOTH
    // directions, so the tie is inclusive either way
    val w = Window.partitionBy(col(keyCol))
      .orderBy(
        (if (forward) col(timeCol).desc else col(timeCol).asc),
        col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lTagged.unionByName(rTagged)
      .withColumn("__last", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(leftCols.map(col) ++
        payloadCols.map(p => col("__last").getField(p).as(prefix + p)): _*)
  }

  /**
   * HOT-KEY-BOUNDED as-of join — identical semantics to [[asofJoin]]
   * (equivalence proven in AsofJoinSpec incl. a 90 %-hot-key case), but no
   * single window partition ever holds a whole key: [[asofJoin]] windows
   * on the bare key, so one mega-key (a user with 10⁸ events) serializes
   * one reducer. Here the work is two bounded phases:
   *
   *  1. window within (key, bucketFn(time)) — per-task row count is capped
   *     by the hottest (key, bucket), which the caller tunes via the
   *     bucket width;
   *  2. a per-key window over BUCKET SUMMARIES (one row per (key, bucket),
   *     not per event) carries the last right payload across bucket
   *     boundaries; the final per-row answer is coalesce(within-bucket
   *     running last, carry of strictly-earlier buckets).
   *
   * `bucketFn` must be monotone non-decreasing in the time column (any
   * truncation qualifies); ties at a bucket edge are safe because a right
   * row in an EARLIER bucket is strictly before the bucket start.
   */
  /**
   * INTERVAL-CONTAINMENT join ("range join") without an inequality join:
   * pair each left row with every right interval containing its time —
   * `start ≤ t < end` — with no equi-key between the sides. A naive
   * `l.t >= r.start AND l.t < r.end` join has no equi-condition, so Spark
   * plans BroadcastNestedLoopJoin (O(|L|·|R|) and a broadcast of a whole
   * side) — at 100 TB that plan never finishes. Here both sides are mapped
   * onto fixed-width time buckets — each left row to ONE bucket, each
   * interval EXPLODED to the buckets it overlaps — and the join becomes a
   * shuffle-able equi-join on the bucket plus the exact residual predicate.
   *
   * Cost model: fan-out per interval = len/bucketWidth + 1, and candidate
   * pairs per bucket = |L_bucket|·|R_bucket| — pick `bucketMicros` near the
   * typical interval length so both stay O(1)-ish. Each left row lands in
   * exactly one bucket, so matches are produced exactly once (no dedup
   * pass). A skewed hot bucket shuffles like any hot join key — AQE skew
   * handling applies, unlike the BNLJ it replaces.
   *
   * Output: all left columns then all right columns (callers disambiguate
   * names); semantics inclusive-start / exclusive-end.
   */
  def intervalJoin(left: DataFrame, timeCol: String,
                   right: DataFrame, startCol: String, endCol: String,
                   bucketMicros: Long = 3600L * 1000000L): DataFrame = {
    require(bucketMicros > 0, s"bucketMicros must be positive: $bucketMicros")
    // `div` (integral) rather than Column./ (double): epoch-micros values
    // are ~1.7e15 and exactness at bucket edges matters
    def bkt(c: String) = expr(s"unix_micros(`$c`) div ${bucketMicros}L")
    val l = left.withColumn("__bkt_l", bkt(timeCol))
    val r = right.withColumn("__bkt_r",
      explode(sequence(bkt(startCol), bkt(endCol))))
    l.join(r, col("__bkt_l") === col("__bkt_r") &&
        col(timeCol) >= col(startCol) && col(timeCol) < col(endCol))
      .drop("__bkt_l", "__bkt_r")
  }

  def asofJoinBucketed(left: DataFrame, right: DataFrame, keyCol: String,
                       timeCol: String, payloadCols: Seq[String],
                       prefix: String = "asof_",
                       bucketFn: Column => Column =
                         c => date_trunc("day", c)): DataFrame = {
    val rightOne = right.groupBy(col(keyCol), col(timeCol))
      .agg(max(struct(payloadCols.map(col): _*)).as("__p"))
    val pType = rightOne.schema("__p").dataType
    val leftCols = left.columns.toSeq
    val lTagged = left.select(
      leftCols.map(col) :+ lit(1).as("__side") :+
        lit(null).cast(pType).as("__p"): _*)
    val rTagged = rightOne.select(
      leftCols.map {
        case c if c == keyCol || c == timeCol => col(c)
        case c => lit(null).cast(left.schema(c).dataType).as(c)
      } :+ lit(0).as("__side") :+ col("__p"): _*)
    val u = lTagged.unionByName(rTagged)
      .withColumn("__bkt", bucketFn(col(timeCol)))
    // phase 1: running last WITHIN each (key, bucket) — bounded partitions
    val wIn = Window.partitionBy(col(keyCol), col("__bkt"))
      .orderBy(col(timeCol), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inBkt = u.withColumn("__last_in",
      last(col("__p"), ignoreNulls = true).over(wIn))
    // phase 2: per (key, bucket) summaries — latest RIGHT payload in the
    // bucket (rightOne is unique per (key, time), so time alone decides) —
    // then a small per-key window over buckets carries the last payload of
    // STRICTLY EARLIER buckets to every (key, bucket) either side touches
    val sums = rightOne.withColumn("__bkt", bucketFn(col(timeCol)))
      .groupBy(col(keyCol), col("__bkt"))
      .agg(max(struct(col(timeCol).as("__t"), col("__p").as("__pp"))).as("__m"))
      .select(col(keyCol), col("__bkt"), col("__m").getField("__pp").as("__bl"))
    val allBkts = u.select(col(keyCol), col("__bkt")).distinct()
    val wCarry = Window.partitionBy(col(keyCol)).orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = allBkts.join(sums, Seq(keyCol, "__bkt"), "left")
      .withColumn("__carry", last(col("__bl"), ignoreNulls = true).over(wCarry))
      .select(col(keyCol), col("__bkt"), col("__carry"))
    inBkt.filter(col("__side") === 1)
      .join(carry, Seq(keyCol, "__bkt"), "left")
      .withColumn("__last", coalesce(col("__last_in"), col("__carry")))
      .select(leftCols.map(col) ++
        payloadCols.map(p => col("__last").getField(p).as(prefix + p)): _*)
  }
}
