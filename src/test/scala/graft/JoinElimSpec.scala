package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._

import graft.plans.{ConstraintCatalog, PkFkJoinElimination}

/** The PK-FK join-elimination rule: fires exactly on the declared,
  * provably-safe shape; vetoed everywhere else; always answer-preserving
  * (the data is checked against the declared constraints first). */
class JoinElimSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def joins(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case j: Join => j }.size

  private def withoutRule[A](body: => A): A =
    spark.experimental.synchronized {
      val saved = spark.experimental.extraOptimizations
      spark.experimental.extraOptimizations =
        saved.filterNot(_ eq PkFkJoinElimination)
      try body
      finally spark.experimental.extraOptimizations = saved
    }

  private lazy val cust = Tables.customer(spark, dir)
  private lazy val nat = spark.read.parquet(s"$dir/nation.parquet")

  private def elimQuery = {
    cust.join(nat, cust("c_nationkey") === nat("n_nationkey"))
      .groupBy($"c_mktsegment").agg(count(lit(1)).as("n"))
      .orderBy($"c_mktsegment")
  }

  test("the declared constraints hold in the data (RI, pk unique, fk " +
      "non-null) — the soundness precondition") {
    assert(nat.groupBy($"n_nationkey").count().filter($"count" > 1)
      .isEmpty, "n_nationkey not unique")
    assert(cust.filter($"c_nationkey".isNull).isEmpty,
      "c_nationkey carries nulls")
    assert(cust.join(nat, cust("c_nationkey") === nat("n_nationkey"),
      "left_anti").isEmpty, "dangling c_nationkey values")
  }

  test("rule eliminates the declared PK-FK join; answers unchanged") {
    ConstraintCatalog.declareRi("c_nationkey", "n_nationkey")
    PkFkJoinElimination.install(spark)
    val withRule = elimQuery
    assert(joins(withRule) === 0, "join not eliminated:\n" +
      withRule.queryExecution.optimizedPlan.treeString)
    val (noRuleJoins, noRuleRows) = withoutRule {
      val df = elimQuery
      (joins(df), df.collect().toSeq)
    }
    assert(noRuleJoins === 1, "control plan lost its join")
    assert(withRule.collect().toSeq === noRuleRows)
  }

  test("veto: a filtered dimension keeps its join (multiplicity)") {
    ConstraintCatalog.declareRi("c_nationkey", "n_nationkey")
    PkFkJoinElimination.install(spark)
    val filteredDim = nat.filter($"n_regionkey" === 1)
    val df = cust.join(filteredDim,
      cust("c_nationkey") === filteredDim("n_nationkey"))
      .groupBy($"c_mktsegment").agg(count(lit(1)).as("n"))
    assert(joins(df) === 1)
  }

  test("veto: projecting a dimension column keeps the join") {
    ConstraintCatalog.declareRi("c_nationkey", "n_nationkey")
    PkFkJoinElimination.install(spark)
    val df = cust.join(nat, cust("c_nationkey") === nat("n_nationkey"))
      .groupBy($"n_name").agg(count(lit(1)).as("n"))
    assert(joins(df) === 1)
  }

  test("LEFT OUTER against a declared-unique key is eliminated (no RI " +
      "needed); answers unchanged even with dangling fks") {
    ConstraintCatalog.declareUnique("c_custkey")
    PkFkJoinElimination.install(spark)
    val o = Tables.orders(spark, dir)
    val c = spark.read.parquet(s"$dir/customer.parquet")
    def q(cf: org.apache.spark.sql.DataFrame) =
      o.join(cf, o("o_custkey") === cf("c_custkey"), "left_outer")
        .groupBy($"o_orderstatus").agg(count(lit(1)).as("n"))
        .orderBy($"o_orderstatus")
    assert(joins(q(c)) === 0, "left-outer not eliminated")
    val (ctrlJoins, ctrlRows) = withoutRule {
      val df = q(spark.read.parquet(s"$dir/customer.parquet"))
      (joins(df), df.collect().toSeq)
    }
    assert(ctrlJoins === 1)
    assert(q(c).collect().toSeq === ctrlRows)
    // uniqueness (the ONLY assumption) holds in the data
    assert(c.groupBy($"c_custkey").count().filter($"count" > 1).isEmpty)
  }

  test("veto: outer joins of other shapes and undeclared key pairs " +
      "keep their joins") {
    ConstraintCatalog.declareRi("c_nationkey", "n_nationkey")
    PkFkJoinElimination.install(spark)
    // left outer against a FILTERED dim: stays (padding would change)
    val filteredDim = nat.filter($"n_regionkey" === 1)
    val lf = cust.join(filteredDim,
        cust("c_nationkey") === filteredDim("n_nationkey"), "left_outer")
      .groupBy($"c_mktsegment").agg(count(lit(1)).as("n"))
    assert(joins(lf) === 1, "left join over filtered dim must survive")
    // right outer: never eliminated (unmatched dim rows must surface)
    val ro = cust.join(nat, cust("c_nationkey") === nat("n_nationkey"),
        "right_outer")
      .groupBy($"c_mktsegment").agg(count(lit(1)).as("n"))
    assert(joins(ro) === 1, "right join must never be eliminated")
    val sup = Tables.supplier(spark, dir)
    val undeclared = sup.join(nat, sup("s_nationkey") === nat("n_nationkey"))
      .groupBy($"s_name").agg(count(lit(1)).as("n"))
    // s_nationkey → n_nationkey is NOT declared: join survives even
    // though the data would satisfy it
    assert(joins(undeclared) === 1)
    // left outer on an undeclared-unique key: survives
    val lu = sup.join(nat, sup("s_nationkey") === nat("n_regionkey"),
        "left_outer")
      .groupBy($"s_name").agg(count(lit(1)).as("n"))
    assert(joins(lu) === 1, "non-unique left-outer key must survive")
  }

  test("DSv2 zoned dim: eliminated when the planned scan pushed no " +
      "filters; filtered zoned scans keep their join") {
    withTempDirs("graft-joinelim-zoned") { case Seq(tmp) =>
      // the zoned layout stores long/string — key cast happens at WRITE
      // time so the stored pk attribute joins bare (a Cast in the join
      // condition would rightly veto the rewrite)
      graft.sources.ZonedCorpus.write(
        Tables.region(spark, dir).select(
          $"r_regionkey".cast("long").as("r_regionkey"), $"r_name"),
        tmp, expr("r_regionkey DIV 2"), Seq("r_regionkey"))
      ConstraintCatalog.declareRi("n_regionkey", "r_regionkey",
        pkTableTag = tmp)
      PkFkJoinElimination.install(spark)
      val natL = nat.withColumn("n_regionkey", $"n_regionkey".cast("long"))
      def zonedDim = spark.read.format("graft.sources.ZonedSource").load(tmp)
      def q(r: DataFrame) =
        natL.join(r, natL("n_regionkey") === r("r_regionkey"))
          .groupBy($"n_regionkey").agg(count(lit(1)).as("n"))
          .orderBy($"n_regionkey")
      val withRule = q(zonedDim)
      assert(joins(withRule) === 0, "zoned-dim join not eliminated:\n" +
        withRule.queryExecution.optimizedPlan.treeString)
      val (ctrlJoins, ctrlRows) = withoutRule {
        val df = q(zonedDim)
        (joins(df), df.collect().toSeq)
      }
      assert(ctrlJoins === 1)
      assert(withRule.collect().toSeq === ctrlRows)
      // veto: any real dim filter survives — whether it reaches the scan
      // as pushed zone pruning (r_regionkey >= 1, a stat column) or stays
      // a residual (r_name <> '') the Filter node above the v2 scan is
      // not IsNotNull(pk)-only, and the scan's pushed list is non-empty
      val pruned = zonedDim.filter($"r_regionkey" >= 1)
      val fp = natL.join(pruned, natL("n_regionkey") === pruned("r_regionkey"))
        .groupBy($"n_regionkey").agg(count(lit(1)).as("n"))
      assert(joins(fp) === 1, "pruning-filtered zoned dim must keep join")
      val resid = zonedDim.filter($"r_name" =!= "")
      val fr = natL.join(resid, natL("n_regionkey") === resid("r_regionkey"))
        .groupBy($"n_regionkey").agg(count(lit(1)).as("n"))
      assert(joins(fr) === 1, "residual-filtered zoned dim must keep join")
    }
  }

  test("table binding: a same-named pk on the WRONG table no longer " +
      "eliminates; the bound table does; LocalRelation is ineligible " +
      "under a binding") {
    withTempDirs("graft-joinelim-bind", "graft-joinelim-wrong") { case Seq(dimDir, wrongDir) =>
      spark.range(0, 10).selectExpr("id AS d_key", "id * 2 AS d_val")
        .write.mode("overwrite").parquet(dimDir)
      // a DIFFERENT table that happens to expose the same column name —
      // the round-9 soundness hole: name-keyed constraints would have
      // eliminated a join against it
      spark.range(0, 10).selectExpr("id % 3 AS d_key", "id AS other")
        .write.mode("overwrite").parquet(wrongDir)
      ConstraintCatalog.declareRi("f_key", "d_key", pkTableTag = dimDir)
      PkFkJoinElimination.install(spark)
      val fact = spark.range(0, 50).selectExpr("id % 10 AS f_key",
        "id AS payload")
      def q(d: DataFrame) = fact.join(d, $"f_key" === d("d_key"))
        .groupBy($"f_key").agg(count(lit(1)).as("n"))
      assert(joins(q(spark.read.parquet(dimDir))) === 0,
        "bound table must eliminate")
      assert(joins(q(spark.read.parquet(wrongDir))) === 1,
        "same-named pk on another table must keep its join")
      val local = Seq((0L, 1L), (1L, 2L)).toDF("d_key", "x")
      assert(joins(q(local)) === 1,
        "LocalRelation has no identity — ineligible under a binding")
    }
  }
}
