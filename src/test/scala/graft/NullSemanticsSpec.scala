package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.HighlightQueries

/** SURVEY §7.4 trap #1 — NOT IN three-valued logic vs left_anti, checked
  * on the daily job's NOT IN (`HighlightQueries.notIn`) over the key-list
  * row it reads: the list's size, its non-NULL keys and whether it holds
  * a NULL. */
class NullSemanticsSpec extends SparkSpec {
  import spark.implicits._

  private def left = Seq(Some(1L), Some(2L), None).toDF("k")

  /** `k NOT IN (SELECT r FROM right)` by `HighlightQueries.notIn`. */
  private def notIn(left: DataFrame, right: DataFrame): DataFrame = {
    val list = right.agg(count(lit(1)).as("n"), collect_set(col("r")).as("keys"),
      max(col("r").isNull).as("has_null"))
    left.crossJoin(list)
      .filter(HighlightQueries.notIn(col("k"), col("n"), col("keys"), col("has_null")))
      .select(col("k"))
  }

  test("NOT IN over a null-free subquery = plain anti join minus null-keyed lefts") {
    val right = Seq(2L).toDF("r")
    val faithful = notIn(left, right)
      .collect().map(_.getAs[Any]("k")).toSet
    // SQL: 1 NOT IN (2) → true; 2 → false; NULL NOT IN (2) → NULL (excluded)
    assert(faithful === Set(1L))
    // plain left_anti would keep the NULL-keyed row — the divergence:
    val plain = left.join(right, col("k") === col("r"), "left_anti")
      .collect().map(_.getAs[Any]("k")).toSet
    assert(plain === Set(1L, null))
  }

  test("NOT IN returns zero rows when the subquery yields any NULL") {
    val right = Seq(Some(2L), None).toDF("r")
    assert(notIn(left, right).count() === 0)
  }

  test("the daily job's NOT IN == SQL across null/empty right sides") {
    val rights = Map(
      "clean" -> Seq(Some(2L), Some(5L)).toDF("r"),
      "with-null" -> Seq(Some(2L), None).toDF("r"),
      "all-null" -> Seq(Option.empty[Long]).toDF("r"),
      "empty" -> Seq.empty[Option[Long]].toDF("r"))
    left.createOrReplaceTempView("nin_l")
    for ((tag, right) <- rights) {
      right.createOrReplaceTempView("nin_r")
      val sql = spark.sql(
        "SELECT k FROM nin_l WHERE k NOT IN (SELECT r FROM nin_r)")
        .collect().map(_.getAs[Any](0)).toSet
      val ours = notIn(left, right).collect().map(_.getAs[Any](0)).toSet
      assert(ours === sql, s"notIn vs SQL on $tag")
    }
  }

  test("property: the daily job's NOT IN agrees with SQL on random nullable draws") {
    val rnd = new scala.util.Random(23)
    def multiset(df: DataFrame): Map[Any, Int] =
      df.collect().map(r => if (r.isNullAt(0)) (null: Any) else r.getLong(0))
        .groupBy(identity).map { case (k, v) => k -> v.length }
    for (iter <- 0 until 30) {
      val l = Seq.fill(20)(
        if (rnd.nextInt(5) == 0) Option.empty[Long] else Some(rnd.nextInt(8).toLong))
        .toDF("k")
      val r = Seq.fill(rnd.nextInt(6))(
        if (rnd.nextInt(6) == 0) Option.empty[Long] else Some(rnd.nextInt(8).toLong))
        .toDF("r")
      l.createOrReplaceTempView("nin_pl")
      r.createOrReplaceTempView("nin_pr")
      val sql = multiset(spark.sql(
        "SELECT k FROM nin_pl WHERE k NOT IN (SELECT r FROM nin_pr)"))
      assert(multiset(notIn(l, r)) === sql, s"draw $iter diverged")
    }
  }

  test("matches Spark SQL's own NOT IN on both cases") {
    left.createOrReplaceTempView("l")
    Seq(Some(2L), None).toDF("r").createOrReplaceTempView("r_null")
    Seq(2L).toDF("r").createOrReplaceTempView("r_clean")
    val sqlClean = spark.sql("SELECT k FROM l WHERE k NOT IN (SELECT r FROM r_clean)")
      .collect().map(_.get(0)).toSet
    val sqlNull = spark.sql("SELECT k FROM l WHERE k NOT IN (SELECT r FROM r_null)")
    assert(notIn(left, Seq(2L).toDF("r")).collect().map(_.get(0)).toSet === sqlClean)
    assert(notIn(left, Seq(Some(2L), None).toDF("r")).count() === 0)
    assert(sqlNull.count() === 0)
  }
}
