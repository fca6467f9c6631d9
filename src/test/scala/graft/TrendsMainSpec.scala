package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.jobs.TrendsMain
import graft.queries.HighlightQueries.TrendsTables

/** CLI surface: flag parsing and an end-to-end parquet-dir run. */
class TrendsMainSpec extends SparkSpec {

  private def dayArgs(dir: String, sink: String) = Array(
    s"--since-date=${FixtureData.D}", "--publishers-list-id=LIST",
    s"--tables-dir=$dir", s"--sink-path=$sink", "--limit=-1")

  test("flag parsing mirrors the reference's flag surface") {
    val p = TrendsMain.paramsFrom(TrendsMain.parseArgs(Array(
      "--since-date=2023-03-10", "--publishers-list-id=LIST",
      "--limit=5", "--page=2", "--since-last-week")))
    assert(p.sinceDate === "2023-03-10")
    assert(p.listId === "LIST")
    assert(p.limit === 5 && p.page === 2)
    assert(p.sinceLastWeek)
    intercept[RuntimeException](
      TrendsMain.paramsFrom(TrendsMain.parseArgs(Array.empty)))
  }

  test("parquet-dir run: three passes land in the partitioned sink") {
    withTempDirs("trends-tables", "trends-sink") { case Seq(dir, out) =>
      FixtureData.writeParquet(FixtureData.tables(spark), dir)
      TrendsMain.run(spark, TrendsMain.parseArgs(
        dayArgs(dir, s"$out/docs") :+ "--in-parallel=false"))
      val docs = spark.read.parquet(s"$out/docs")
      assert(docs.count() > 0)
      assert(docs.select("status_type").distinct().collect()
        .map(_.getString(0)).toSet ===
        Set("status", "retweetFromDistinctSources", "statusFromDistinctSources"))
      // distinct-sources-only mode writes just pass 3
      TrendsMain.run(spark, TrendsMain.parseArgs(
        dayArgs(dir, s"$out/docs3") :+ "--migrate-distinct-sources-only"))
      assert(spark.read.parquet(s"$out/docs3").select("status_type").distinct()
        .collect().map(_.getString(0)).toSet === Set("statusFromDistinctSources"))
    }
  }

  /** A run over tables where `alter` changed one table must raise naming
    * `column`, before the sink path exists. */
  private def failsClosed(column: String)(alter: TrendsTables => TrendsTables): Unit =
    withTempDirs("trends-tables", "trends-sink") { case Seq(dir, out) =>
      FixtureData.writeParquet(alter(FixtureData.tables(spark)), dir)
      val sink = s"$out/docs"
      val e = intercept[IllegalArgumentException](
        TrendsMain.run(spark, TrendsMain.parseArgs(dayArgs(dir, sink))))
      assert(e.getMessage.contains(column), e.getMessage)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(sink)))
    }

  private def retype(df: DataFrame, column: String, to: String): DataFrame =
    df.withColumn(column, col(column).cast(to))

  test("fails closed: a table lacking a declared column raises before writing") {
    failsClosed("total_favorites")(t =>
      t.copy(statusPopularity = t.statusPopularity.drop("total_favorites")))
  }

  test("fails closed: a column of another type raises before writing") {
    failsClosed("total_retweets")(t =>
      t.copy(highlight = retype(t.highlight, "total_retweets", "bigint")))
    failsClosed("ust_created_at")(t =>
      t.copy(weavingStatus = retype(t.weavingStatus, "ust_created_at", "string")))
  }
}
