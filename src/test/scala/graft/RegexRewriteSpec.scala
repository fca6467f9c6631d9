package graft

import org.apache.spark.sql.functions._

/** RegexExistenceRewrite: count-all-matches existence checks become RLIKE
  * (early-exit, no array allocation) — plan-asserted and value-exact,
  * including NULL inputs and the inverted/equality forms. */
class RegexRewriteSpec extends SparkSpec {
  import spark.implicits._

  private val pat = "[0-9]{3,}"
  // parquet-backed (a literal LocalRelation would be constant-folded into
  // the relation itself before the optimized plan is observable)
  private def withDf[A](body: org.apache.spark.sql.DataFrame => A): A =
    withTempDirs("graft-rlike") { case Seq(dir) =>
      Seq(Some("abc 1234 def"), Some("no digits"), Some("12"), None)
        .toDF("s").write.mode("overwrite").parquet(dir)
      body(spark.read.parquet(dir))
    }

  private def optimized(q: org.apache.spark.sql.DataFrame): String =
    q.queryExecution.optimizedPlan.toString

  test("size(regexp_extract_all) > 0 rewrites to RLIKE, values unchanged") {
    withDf { df =>
      val q = df.filter(size(regexp_extract_all(col("s"), lit(pat), lit(0))) > 0)
      val plan = optimized(q)
      assert(plan.toLowerCase.contains("rlike"), s"no RLIKE in:\n$plan")
      assert(!plan.contains("regexp_extract_all"),
        s"regexp_extract_all survived in:\n$plan")
      assert(q.collect().map(_.getString(0)).toSeq === Seq("abc 1234 def"))
    }
  }

  test("= 0 form rewrites to NOT RLIKE; NULL row excluded by both semantics") {
    withDf { df =>
      val q = df.filter(size(regexp_extract_all(col("s"), lit(pat), lit(0))) === 0)
      val plan = optimized(q)
      assert(plan.toLowerCase.contains("rlike"), s"no RLIKE in:\n$plan")
      assert(q.collect().map(_.getString(0)).toSet === Set("no digits", "12"))
    }
  }

  test("group-1 extraction and non-zero boundaries are left alone") {
    withDf { df =>
      val g1 = df.filter(size(regexp_extract_all(col("s"), lit("([0-9])4"), lit(1))) > 0)
      assert(optimized(g1).contains("regexp_extract_all"))
      val ge2 = df.filter(size(regexp_extract_all(col("s"), lit(pat), lit(0))) >= 2)
      assert(optimized(ge2).contains("regexp_extract_all"))
      // and the untouched forms still compute correctly
      assert(ge2.count() === 0)
      assert(g1.collect().map(_.getString(0)).toSeq === Seq("abc 1234 def"))
    }
  }

  test("legacy sizeOfNull mode is NOT rewritten (size(NULL) = -1 there)") {
    withDf { df =>
      // under spark.sql.legacy.sizeOfNull=true (effective only with ANSI
      // off — Spark resolves it as legacy && !ansi), size(regexp_extract_
      // all(NULL, p, 0)) is -1, so `> 0` is FALSE where RLIKE would be
      // NULL — observable in projections; the rule must stand down
      val ansiWas = spark.conf.get("spark.sql.ansi.enabled")
      spark.conf.set("spark.sql.ansi.enabled", "false")
      spark.conf.set("spark.sql.legacy.sizeOfNull", "true")
      try {
        val q = df.select(
          (size(regexp_extract_all(col("s"), lit(pat), lit(0))) > 0).as("has"))
        assert(optimized(q).contains("regexp_extract_all"),
          "legacy-mode Size must not be rewritten to RLIKE")
        // legacy semantics: the NULL row yields FALSE, not NULL
        assert(q.collect().map(r => Option(r.getAs[Any]("has"))).toSeq ===
          Seq(Some(true), Some(false), Some(false), Some(false)))
      } finally {
        spark.conf.set("spark.sql.legacy.sizeOfNull", "false")
        spark.conf.set("spark.sql.ansi.enabled", ansiWas)
      }
    }
  }

  test("projection context also rewrites (not only Filter)") {
    withDf { df =>
      val q = df.select(
        (size(regexp_extract_all(col("s"), lit(pat), lit(0))) > 0).as("has"))
      assert(optimized(q).toLowerCase.contains("rlike"))
      assert(q.collect().map(r => Option(r.getAs[Any]("has"))).toSeq ===
        Seq(Some(true), Some(false), Some(false), None))
    }
  }
}
