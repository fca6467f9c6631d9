package graft

import org.apache.spark.sql.Row

import graft.queries.HighlightQueries
import graft.queries.HighlightQueries.Params

class HighlightQueriesSpec extends SparkSpec {
  private lazy val t = FixtureData.tables(spark)
  private val base = Params(sinceDate = FixtureData.D, listId = "LIST", limit = -1)

  test("curated: day bucket, retweet exclusion, deleted member, popularity max") {
    val rows = HighlightQueries.curatedHighlights(t, base).collect()
    // statuses 2 (pop-max 120), 1 (D+1 00:30 sample pulled back by −1h → 11), 5 (frozen 2)
    // excluded: 3 (retweet), 4 (prev-day bucket), 7 (deleted member), 6/8 (no highlight)
    assert(rows.map(r => (r.getAs[String]("statusId"), r.getAs[Int]("retweets"))).toSeq ===
      Seq(("102", 120), ("101", 11), ("105", 2)))
    val r102 = rows.head
    assert(r102.getAs[Int]("favorites") === 45) // same-day fav sample max
    assert(r102.getAs[String]("url") === "https://twitter.com/alpha/status/102")
    // checkedAt is the status CREATION time (trends.go:291), even when a
    // popularity sample exists (102) or none does (105)
    val r105 = rows.last
    assert(r105.getAs[java.sql.Timestamp]("checkedAt") ===
      java.sql.Timestamp.valueOf(s"${FixtureData.D} 01:00:00"))
    assert(r102.getAs[java.sql.Timestamp]("checkedAt") ===
      java.sql.Timestamp.valueOf(s"${FixtureData.D} 11:00:00"))
  }

  test("curated: includeRetweets=true means NO constraint (both kinds)") {
    val rows = HighlightQueries.curatedHighlights(
      t, base.copy(includeRetweets = true)).collect()
    assert(rows.map(_.getAs[String]("statusId")).toSeq ===
      Seq(("102")) ++ Seq("103", "101", "105")) // 120, 30, 11, 2
  }

  test("curated: pagination offset = page * limit (sane deviation)") {
    val page1 = HighlightQueries.curatedHighlights(
      t, base.copy(limit = 2, page = 1)).collect()
    assert(page1.map(_.getAs[String]("statusId")).toSeq === Seq("105"))
  }

  test("distinct sources: one row per publisher, argmax payload consistency") {
    val rows = HighlightQueries.distinctSourcesHighlights(t, base).collect()
    // alpha: statuses 1 (k=11), 2 (k=120), 8 (k=50, joined via screen_name
    //        branch) → winner 102; retweets = max(11,120,50)
    // delta: status 5 (k=2)
    // beta (retweet kind), eps (no list match), zeta (deleted author) excluded
    assert(rows.map(r => (r.getAs[String]("username"), r.getAs[String]("statusId"),
      r.getAs[Int]("retweets"))).toSeq ===
      Seq(("alpha", "102", 120), ("delta", "105", 2)))
    val alpha = rows.head
    assert(alpha.getAs[String]("tweet") === "hello two") // payload from winner row
    assert(alpha.getAs[Long]("id") === 2L)
    assert(alpha.getAs[Int]("favorites") === 45)
  }

  test("distinct sources: argmax tie broken by statusId desc, all payload consistent") {
    // drop popularity so statuses 102 and 108 tie at k = doc retweet_count = 50
    val noPop = t.copy(statusPopularity = t.statusPopularity.limit(0),
      highlight = t.highlight.limit(0))
    val rows = HighlightQueries.distinctSourcesHighlights(noPop, base).collect()
    val alpha = rows.find(_.getAs[String]("username") == "alpha").get
    assert(alpha.getAs[String]("statusId") === "108") // max tiebreak
    assert(alpha.getAs[String]("tweet") === "tie candidate")
    assert(alpha.getAs[Long]("id") === 8L)
  }

  test("distinct sources: retweet kind from doc presence when flag is NULL") {
    val rows = HighlightQueries.distinctSourcesHighlights(
      t, base.copy(includeRetweets = true)).collect()
    // only beta's status 103: is_retweet=true via highlight flag
    assert(rows.map(_.getAs[String]("username")).toSeq === Seq("beta"))
  }

  test("week mode (F4 corrected): trailing 7-day window under a frozen clock") {
    // now = D+2 → day-D statuses sit inside (now − 7d, now] → same rows as
    // day mode (the WHERE day filter still pins the day, per the reference's
    // clause structure)
    val fresh = HighlightQueries.curatedHighlights(
      t, base.copy(sinceLastWeek = true,
        nowOverride = Some(s"2023-03-12 12:00:00"))).collect()
    assert(fresh.map(_.getAs[String]("statusId")).toSeq === Seq("102", "101", "105"))
    // now = D+30 → the join's week window excludes every day-D status
    val stale = HighlightQueries.curatedHighlights(
      t, base.copy(sinceLastWeek = true,
        nowOverride = Some(s"2023-04-09 12:00:00"))).collect()
    assert(stale.isEmpty)
  }

  test("counts: faithful to the reference's count tree (J6 + popularity multiplication)") {
    // curated: h1,h2,h3,h5,h7 pass (NO retweet filter in the count —
    // trends.go:453-470), and the popularity LEFT JOIN multiplies h2 by its
    // two same-day samples → 6 (h1 has one pulled-back sample, others none)
    val curated = HighlightQueries.countHighlights(t, base, distinctSources = false)
      .collect().head.getLong(0)
    assert(curated === 6)
    // distinct: day-bucket statuses s1,s2,s3,s5,s6,s7,s8 (no kind filter, no
    // member exclusion, LEFT list join keeps unmatched rows) with s2
    // doubled by its samples → 8
    val distinct = HighlightQueries.countHighlights(t, base, distinctSources = true)
      .collect().head.getLong(0)
    assert(distinct === 8)
  }

  test("popularity scan over parquet: pinned to the day unless week-mode distinct") {
    withTempDirs("pop-pin") { case Seq(dir) =>
      FixtureData.writeParquet(t, dir)
      val onDisk = graft.jobs.TrendsMain.loadParquetTables(spark, dir)
      PopularityScan.assertPins(onDisk, base)
      // the pin is exact: same rows as the in-memory tables
      assert(HighlightQueries.curatedHighlights(onDisk, base).collect().toSeq ===
        HighlightQueries.curatedHighlights(t, base).collect().toSeq)
      assert(HighlightQueries.countHighlights(onDisk, base, distinctSources = true)
        .collect().head.getLong(0) === 8)
    }
  }
}
