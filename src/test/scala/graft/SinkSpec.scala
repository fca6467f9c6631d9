package graft

import graft.queries.HighlightQueries
import graft.queries.HighlightQueries.Params
import graft.sink.KeyedPartitionSink
import graft.jobs.TrendsJob

class SinkSpec extends SparkSpec {
  private lazy val t = FixtureData.tables(spark)
  private val params = Params(sinceDate = FixtureData.D, listId = "LIST", limit = -1)

  test("doc assembly: 12-field contract, malformed JSON skipped not fatal") {
    val result = HighlightQueries.curatedHighlights(t, params)
    val docs = KeyedPartitionSink.assembleDocs(result, "LIST", FixtureData.D, "status")
    val rows = docs.collect()
    assert(rows.nonEmpty)
    assert(docs.columns.toSeq === Seq("id", "twitterId", "username", "text", "url",
      "json", "publishedAt", "checkedAt", "isRetweet", "twitter_id",
      "totalRetweets", "totalFavorites", "list_id", "ingest_date", "status_type"))
    // twitter_id comes from the decoded doc (trends.go:699), equals statusId here
    assert(rows.forall(r => r.getAs[String]("twitter_id") === r.getAs[String]("twitterId")))
  }

  test("dynamic partition overwrite: re-running a day replaces only that partition") {
    withTempDirs("sink") { case Seq(dir) =>
      val result = HighlightQueries.curatedHighlights(t, params)
      val day1 = KeyedPartitionSink.assembleDocs(result, "LIST", "2023-03-10", "status")
      val day2 = KeyedPartitionSink.assembleDocs(result, "LIST", "2023-03-11", "status")
      KeyedPartitionSink.write(day1.union(day2), dir)
      val before = spark.read.parquet(dir)
      assert(before.select("ingest_date").distinct().count() === 2)
      val day1Count = before.filter(before("ingest_date") === "2023-03-10").count()

      // replay day 1 with fewer rows — day 2 must survive, day 1 replaced
      KeyedPartitionSink.write(day1.limit(1), dir)
      val after = spark.read.parquet(dir)
      assert(after.filter(after("ingest_date") === "2023-03-11").count() ===
        before.filter(before("ingest_date") === "2023-03-11").count())
      assert(after.filter(after("ingest_date") === "2023-03-10").count() === 1)
      assert(day1Count > 1)
    }
  }

  test("three-pass job writes all status types; dry-run writes nothing") {
    withTempDirs("job", "dry") { case Seq(dir, dry) =>
      TrendsJob.run(t, TrendsJob.Config(params, dir))
      val out = spark.read.parquet(dir)
      assert(out.select("status_type").distinct().count() === 3)

      val dryDir = s"$dry/none"
      TrendsJob.run(t, TrendsJob.Config(params, dryDir, dryRun = true))
      assert(!new java.io.File(dryDir).exists())
    }
  }

  test("distinct-sources-only mode runs exactly pass 3") {
    assert(TrendsJob.activePasses(true) ===
      Seq(("statusFromDistinctSources", true, false)))
    assert(TrendsJob.activePasses(false).size === 3)
  }
}
