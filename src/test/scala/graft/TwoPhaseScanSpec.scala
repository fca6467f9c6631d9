package graft

import org.apache.spark.sql.functions._

import graft.ops.{GlobalIndex, PrefixScan, TwoPhaseScan}

/** Direct edge coverage for the one two-phase prefix scan
  * (ops/TwoPhaseScan), directly and through its public operators — the
  * cases the query gates never hit: empty frames, all-null max
  * partitions, negative maxima (where a fabricated 0 identity would
  * corrupt results), and the total column's contract. */
class TwoPhaseScanSpec extends SparkSpec {
  import spark.implicits._

  test("exclusiveRunningMax: negative values never see a phantom 0") {
    // all values negative: a 0 identity leaking from any partition would
    // surface as an impossible running max
    val df = (1L to 100L).map(i => (i, -i)).toDF("k", "v")
    val got = PrefixScan.exclusiveRunningMax(df, col("v"), "m", col("k"))
    val rows = got.orderBy(col("k")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) None else Some(r.getLong(2))))
    got.unpersist(blocking = false)
    assert(rows.head === ((1L, None))) // nothing precedes the first row
    // v descends with k, so the exclusive max is always the FIRST value
    assert(rows.tail.forall(_._2.contains(-1L)))
  }

  test("exclusiveRunningMax: null values are transparent, not zero") {
    // nulls scattered through the order: the running max must skip them
    val df = Seq((1L, Some(-5L)), (2L, None), (3L, None), (4L, Some(-3L)),
      (5L, None)).toDF("k", "v")
    val got = PrefixScan.exclusiveRunningMax(df, col("v"), "m", col("k"))
    val rows = got.orderBy(col("k")).collect()
      .map(r => if (r.isNullAt(2)) None else Some(r.getLong(2)))
    got.unpersist(blocking = false)
    assert(rows.toSeq === Seq(None, Some(-5L), Some(-5L), Some(-5L),
      Some(-3L)))
  }

  test("cumSums total column: the exact weight sum; empty has no rows, total 0") {
    val df = (1L to 57L).map(i => (i, i % 7)).toDF("k", "w")
    def scan(d: org.apache.spark.sql.DataFrame) =
      TwoPhaseScan.cumSums(d, Seq(col("k")), Seq(("w", "cw", "total")))
    val totals = scan(df).select("total").distinct().as[Long].collect()
    assert(totals.toSeq === Seq((1L to 57L).map(_ % 7).sum))

    val empty = scan(df.filter(col("k") > 100L))
    val totalE = empty.agg(coalesce(max(col("total")), lit(0L)))
      .as[Long].head()
    assert(totalE === 0L && empty.count() === 0L)
  }

  test("cumSums: equals the single-partition reference window, incl. totals") {
    // deterministic pseudo-random per-key sums over a sparse key domain —
    // multiple range buckets, uneven bucket fill, some empty partitions
    val df = (1L to 500L).map { i =>
      val k = (i * 2654435761L) % 4096L
      (k, k % 17L, (k % 5L) + 1L)
    }.toDF("k", "a", "b").groupBy(col("k"))
      .agg(sum(col("a")).as("a"), sum(col("b")).as("b"))
    val got = TwoPhaseScan.cumSums(df, Seq(col("k")),
        Seq(("a", "ca", "ta"), ("b", "cb", "tb")))
      .orderBy(col("k")).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getLong(6)))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("k"))
      .rowsBetween(Long.MinValue, 0)
    val ref = df
      .withColumn("ca", sum(col("a")).over(w))
      .withColumn("cb", sum(col("b")).over(w))
      .orderBy(col("k")).collect()
    val (ta, tb) = (ref.map(_.getLong(1)).sum, ref.map(_.getLong(2)).sum)
    assert(got.toSeq === ref.toSeq.map(r =>
      (r.getLong(0), r.getLong(3), ta, r.getLong(4), tb)))
  }

  test("cumSums: empty input stays empty; single row carries its own total") {
    val df = Seq((1L, 2L)).toDF("k", "a")
    val one = TwoPhaseScan.cumSums(df, Seq(col("k")),
      Seq(("a", "ca", "ta"))).collect()
    assert(one.map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSeq
      === Seq((1L, 2L, 2L)))
    val empty = TwoPhaseScan.cumSums(df.filter(col("k") < 0),
      Seq(col("k")), Seq(("a", "ca", "ta")))
    assert(empty.count() === 0L)
  }

  test("withGlobalIndex: dense 0-based on an empty and a 1-row frame") {
    val one = Seq((42L, "x")).toDF("k", "v")
    val gotOne = GlobalIndex.withGlobalIndex(one, "idx", col("k"))
    assert(gotOne.select("idx").as[Long].collect().toSeq === Seq(0L))
    gotOne.unpersist(blocking = false)

    val empty = one.filter(col("k") < 0L)
    val gotEmpty = GlobalIndex.withGlobalIndex(empty, "idx", col("k"))
    assert(gotEmpty.count() === 0L)
    gotEmpty.unpersist(blocking = false)
  }
}
