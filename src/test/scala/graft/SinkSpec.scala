package graft

import org.apache.spark.sql.functions.{col, lit}

import graft.queries.HighlightQueries
import graft.queries.HighlightQueries.Params
import graft.sink.KeyedPartitionSink
import graft.jobs.TrendsJob

class SinkSpec extends SparkSpec {
  private lazy val t = FixtureData.tables(spark)
  private val params = Params(sinceDate = FixtureData.D, listId = "LIST", limit = -1)
  private def curated = HighlightQueries.curatedHighlights(t, params)
    .withColumn("status_type", lit("status"))

  test("doc assembly: 12-field contract, malformed JSON skipped not fatal") {
    val docs = KeyedPartitionSink.assembleDocs(curated, "LIST", FixtureData.D)
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
      val day1 = KeyedPartitionSink.assembleDocs(curated, "LIST", "2023-03-10")
      val day2 = KeyedPartitionSink.assembleDocs(curated, "LIST", "2023-03-11")
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

  test("a static session overwrite mode: the write still replaces only its own partitions, and the session keeps its mode") {
    withTempDirs("sink-static") { case Seq(dir) =>
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "static")
      try {
        val day1 = KeyedPartitionSink.assembleDocs(curated, "LIST", "2023-03-10")
        val day2 = KeyedPartitionSink.assembleDocs(curated, "LIST", "2023-03-11")
        KeyedPartitionSink.write(day1.union(day2), dir)
        val day2Count = spark.read.parquet(dir)
          .filter(col("ingest_date") === "2023-03-11").count()
        KeyedPartitionSink.write(day1.limit(1), dir)
        val after = spark.read.parquet(dir)
        assert(after.filter(col("ingest_date") === "2023-03-11").count() === day2Count)
        assert(day2Count > 0)
        assert(after.filter(col("ingest_date") === "2023-03-10").count() === 1)
        assert(spark.conf.get(key) === "static")
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
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
