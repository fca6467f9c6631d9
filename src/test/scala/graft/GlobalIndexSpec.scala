package graft

import org.apache.spark.sql.functions._

import graft.ops.GlobalIndex

/** Two-phase dense global indexing: row-for-row equal to the naive
  * single-reducer window, without ever planning one. */
class GlobalIndexSpec extends SparkSpec {
  import spark.implicits._

  test("matches the naive global row_number, dense and contiguous") {
    // scrambled input order, duplicate sort keys (ties broken by id)
    val df = (0 until 10000).map(i => ((i * 7919) % 100, i.toLong))
      .toDF("k", "id").repartition(7)
    val out = GlobalIndex.withGlobalIndex(df, "gidx", col("k"), col("id"))
    val got = out.orderBy("gidx")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    out.unpersist()
    val expected = (0 until 10000).map(i => ((i * 7919) % 100, i.toLong))
      .sortBy { case (k, id) => (k, id) }
      .zipWithIndex.map { case ((k, id), idx) => (k, id, idx.toLong) }
    assert(got.toSeq === expected)
  }

  test("no single-reducer global window in the physical plan") {
    val df = (0 until 100).map(_.toLong).toDF("id")
    val out = GlobalIndex.withGlobalIndex(df, "gidx", col("id"))
    val plan = out.queryExecution.executedPlan.toString
    out.unpersist()
    // the naive plan contains `Window [row_number() ... ORDER BY ...]`
    // with an EMPTY partition spec; ours must always partition by __pid
    val windowLines = plan.linesIterator.filter(_.contains("row_number"))
    assert(windowLines.forall(_.contains("__pid")),
      s"found a window not partitioned by __pid in:\n$plan")
  }

  test("empty input yields empty output, no failure") {
    val df = Seq.empty[Long].toDF("id")
    val out = GlobalIndex.withGlobalIndex(df, "gidx", col("id"))
    assert(out.count() === 0)
    out.unpersist()
  }
}
