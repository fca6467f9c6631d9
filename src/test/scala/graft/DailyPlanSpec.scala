package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, RowDataSourceScanExec,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}

import graft.jobs.{TrendsJob, TrendsMain}
import graft.model.Schemas
import graft.queries.HighlightQueries
import graft.queries.HighlightQueries.{Params, TrendsTables}

/**
 * The daily job's one plan: fusing the three passes changes no pass's rows,
 * and a run reads each table once in a handful of jobs.
 *
 * The fixture is FixtureData plus the rows where a join shared by the
 * passes could leak from one pass into another:
 *  - status 109 has two highlight rows, one retweet-flagged and one not;
 *  - statuses 110 and 111 have a NULL `is_retweet`, one with a retweet
 *    document and one without, and delta is on the list by screen name;
 *  - statuses 101, 102 and 109 match the list both by `aggregate_id` and
 *    by screen name;
 *  - [[withNullKey]] adds a deleted member with a NULL `usr_id` or a NULL
 *    twitter id, which empties the curated pass or the distinct-sources
 *    passes, and only those.
 */
class DailyPlanSpec extends SparkSpec {
  import DailyPlanSpec._

  private val D = FixtureData.D
  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val t: TrendsTables = {
    val base = FixtureData.tables(spark)
    def df(schema: org.apache.spark.sql.types.StructType, rows: Row*): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    base.copy(
      weavingStatus = base.weavingStatus.union(df(Schemas.weavingStatus,
        Row(9L, "109", "alpha", "two highlights", ts(s"$D 14:00:00"),
          FixtureData.doc("109", 40, 3, "9001")),
        Row(10L, "110", "beta", "null flag, retweet doc", ts(s"$D 16:00:00"),
          FixtureData.doc("110", 7, 2, "9002", retweeted = true)),
        Row(11L, "111", "delta", "null flag, status doc", ts(s"$D 17:00:00"),
          FixtureData.doc("111", 8, 1, "9005")))),
      highlight = base.highlight.union(df(Schemas.highlight,
        Row(9L, 10L, 1L, java.lang.Boolean.TRUE, ts(s"$D 14:00:00"), Int.box(60), Int.box(5)),
        Row(9L, 10L, 1L, java.lang.Boolean.FALSE, ts(s"$D 15:00:00"), Int.box(35), Int.box(4)),
        Row(10L, 10L, 2L, null, ts(s"$D 16:00:00"), Int.box(70), Int.box(6)),
        Row(11L, 10L, 1L, null, ts(s"$D 17:00:00"), Int.box(9), Int.box(1)))),
      publishersList = base.publishersList.union(df(Schemas.publishersList,
        Row(13L, "LIST", "delta", null))))
  }

  /** `t` with one more deleted member whose `usr_id` (member) or twitter
    * id (author) is NULL. */
  private def withNullKey(member: Boolean): TrendsTables = t.copy(
    weavingUser = t.weavingUser.union(spark.createDataFrame(
      java.util.Arrays.asList(
        if (member) Row(null, "deleted_guy", "9010") else Row(6L, "deleted_guy", null)),
      Schemas.weavingUser)))

  private def params(day: String, list: String, limit: Int = -1) =
    Params(sinceDate = day, listId = list, limit = limit)
  private val week = Some(s"$D 20:00:00")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  /** The job's docs and the union of its passes' single-pass views. */
  private def fusedAndSingle(t: TrendsTables, cfg: TrendsJob.Config) = (
    rows(TrendsJob.docs(t, cfg)),
    TrendsJob.activePasses(cfg.distinctSourcesOnly)
      .flatMap { case (st, ds, rt) => rows(TrendsJob.runPass(t, cfg, st, ds, rt)) }
      .sorted)

  test("fusing the passes changes no pass's rows: days, lists, week mode, distinct-only") {
    val cases = for {
      (day, now) <- Seq((D, None), ("2023-03-09", None), (D, week))
      list <- Seq("LIST", "OTHER")
      limit <- Seq(-1, 2)
      only <- Seq(false, true)
    } yield TrendsJob.Config(
      params(day, list, limit).copy(sinceLastWeek = now.isDefined, nowOverride = now),
      sinkPath = "unused", distinctSourcesOnly = only)
    cases.foreach { cfg =>
      val (fused, single) = fusedAndSingle(t, cfg)
      assert(fused === single, cfg)
    }
    // the cases are not vacuous: every pass of the day writes rows
    val (day, _) = fusedAndSingle(t, TrendsJob.Config(params(D, "LIST"), "unused"))
    assert(day.map(_.split('|').last).toSet ===
      TrendsJob.passes.map(_._1).toSet)
  }

  test("the planted rows land in the pass they belong to, and only there") {
    def top(df: DataFrame) = df.collect()
      .map(r => (r.getAs[String]("username"), r.getAs[String]("statusId"),
        r.getAs[Int]("retweets"))).toSeq
    val p = params(D, "LIST")
    // curated: 109's non-retweet highlight row (35); 110/111's NULL flag is
    // not `false`, so the INNER join's F5 filter drops them
    assert(top(HighlightQueries.curatedHighlights(t, p)) ===
      Seq(("alpha", "102", 120), ("alpha", "109", 35), ("alpha", "101", 11),
        ("delta", "105", 2)))
    // retweets: 109 by its flagged row (60), 110 by its retweet document (70)
    assert(top(HighlightQueries.distinctSourcesHighlights(t,
      p.copy(includeRetweets = true))) ===
      Seq(("beta", "110", 70), ("alpha", "109", 60)))
    // statuses: 111's NULL flag fails the ON clause, so it is NULL-extended
    // and reaches the list by screen name with its document's count (8)
    assert(top(HighlightQueries.distinctSourcesHighlights(t, p)) ===
      Seq(("alpha", "102", 120), ("delta", "111", 8)))
  }

  /** The reference's query text for one pass (trends.go:279-392) in Spark
    * SQL over the tables as temp views, unsorted and unpaginated, with the
    * deviations HighlightQueries documents: the sane favorites chain and
    * the argmax tiebreak pinned to the status id. */
  private def referenceSql(p: Params, distinct: Boolean): String = {
    def day(c: String) = s"to_date($c - INTERVAL 1 HOUR) = DATE '${p.sinceDate}'"
    def sinceWhen(dayCond: String) = p.nowOverride.filter(_ => p.sinceLastWeek)
      .fold(dayCond)(now =>
        s"s.ust_created_at > TIMESTAMP '$now' - INTERVAL 7 DAYS + INTERVAL 1 HOUR")
    val retweets = if (p.includeRetweets) "" else "AND h.is_retweet = false"
    val lists = s"pl.public_id IN ('${p.listId}', '${p.deprecatedListId}')"
    val pop = """LEFT JOIN status_popularity p ON p.status_id = h.status_id
      |  AND to_date(p.checked_at - INTERVAL 1 HOUR) = to_date(h.publication_date_time - INTERVAL 1 HOUR)""".stripMargin
    def deleted(key: String) = s"""SELECT $key FROM weaving_user u, publishers_list d
      |  WHERE d.deleted_at IS NOT NULL AND d.screen_name IS NOT NULL
      |    AND u.usr_twitter_username = d.screen_name""".stripMargin
    def doc(path: String) = s"get_json_object(s.ust_api_document, '$$.$path')"
    if (!distinct)
      s"""SELECT concat('https://twitter.com/', s.ust_full_name, '/status/', s.ust_status_id) AS url,
         |  s.ust_full_name AS username, s.ust_text AS tweet, s.ust_created_at AS publicationDate,
         |  s.ust_api_document AS json,
         |  MAX(COALESCE(p.total_retweets, h.total_retweets)) AS retweets,
         |  MAX(COALESCE(p.total_favorites, h.total_favorites)) AS favorites,
         |  s.ust_id AS id, s.ust_status_id AS statusId, h.is_retweet AS is_retweet,
         |  s.ust_created_at AS checkedAt
         |FROM highlight h
         |JOIN weaving_status s ON s.ust_id = h.status_id AND ${sinceWhen(day("s.ust_created_at"))}
         |JOIN publishers_list pl ON h.aggregate_id = pl.id AND $lists
         |$pop
         |WHERE ${day("h.publication_date_time")} $retweets
         |  AND h.member_id NOT IN (${deleted("usr_id")})
         |GROUP BY s.ust_status_id, s.ust_full_name, s.ust_text, s.ust_created_at,
         |  s.ust_api_document, s.ust_id, h.is_retweet, h.publication_date_time""".stripMargin
    else {
      val k = s"COALESCE(p.total_retweets, h.total_retweets, CAST(${doc("retweet_count")} AS INT))"
      val kind = s"COALESCE(h.is_retweet, ${doc("retweeted_status_result")} IS NOT NULL, false)"
      s"""SELECT concat('https://twitter.com/', username, '/status/', top.statusId) AS url,
         |  username, top.tweet AS tweet, top.publicationDate AS publicationDate,
         |  top.json AS json, retweets, favorites, top.id AS id, top.statusId AS statusId,
         |  top.is_retweet AS is_retweet, top.publicationDate AS checkedAt
         |FROM (SELECT s.ust_full_name AS username,
         |    MAX(named_struct('k', $k, 'statusId', s.ust_status_id, 'tweet', s.ust_text,
         |      'publicationDate', s.ust_created_at, 'json', s.ust_api_document,
         |      'id', s.ust_id, 'is_retweet', $kind)) AS top,
         |    MAX($k) AS retweets,
         |    MAX(COALESCE(p.total_favorites, h.total_favorites,
         |      CAST(${doc("favorite_count")} AS INT))) AS favorites
         |  FROM weaving_status s
         |  LEFT JOIN highlight h ON s.ust_id = h.status_id
         |    AND ${sinceWhen(day("h.publication_date_time"))} $retweets
         |  JOIN publishers_list pl ON (h.aggregate_id = pl.id
         |    OR (s.ust_full_name = pl.screen_name AND pl.screen_name IS NOT NULL)) AND $lists
         |  $pop
         |  WHERE ${day("s.ust_created_at")} AND $kind = ${p.includeRetweets}
         |    AND CAST(${doc("user.id_str")} AS BIGINT) NOT IN (
         |      ${deleted("CAST(usr_twitter_id AS BIGINT)")})
         |  GROUP BY s.ust_full_name)""".stripMargin
    }
  }

  test("each single-pass view equals the reference SQL on the planted rows") {
    val views = Seq("weaving_status" -> t.weavingStatus, "highlight" -> t.highlight,
      "publishers_list" -> t.publishersList,
      "status_popularity" -> t.statusPopularity, "weaving_user" -> t.weavingUser)
    views.foreach { case (name, df) => df.createOrReplaceTempView(name) }
    try for {
      now <- Seq(None, week)
      list <- Seq("LIST", "OTHER")
      (_, distinct, rt) <- TrendsJob.passes
    } {
      val p = params(D, list).copy(includeRetweets = rt,
        sinceLastWeek = now.isDefined, nowOverride = now)
      val view =
        if (distinct) HighlightQueries.distinctSourcesHighlights(t, p)
        else HighlightQueries.curatedHighlights(t, p)
      assert(rows(view) === rows(spark.sql(referenceSql(p, distinct))), p)
    } finally views.foreach { case (name, _) => spark.catalog.dropTempView(name) }
  }

  test("a NULL key in the deleted-member list empties only the pass that reads it") {
    val cfg = TrendsJob.Config(params(D, "LIST"), "unused")
    def types(t: TrendsTables) =
      rows(TrendsJob.docs(t, cfg)).map(_.split('|').last).toSet
    val distinct = Set("retweetFromDistinctSources", "statusFromDistinctSources")
    assert(types(withNullKey(member = true)) === distinct)
    assert(types(withNullKey(member = false)) === Set("status"))
    Seq(true, false).foreach { member =>
      val (fused, single) = fusedAndSingle(withNullKey(member), cfg)
      assert(fused === single)
    }
  }

  test("one run: at most 10 jobs, one scan per table, nothing left persisted") {
    withTempDirs("daily-tables", "daily-sink") { case Seq(dir, out) =>
      FixtureData.writeParquet(t, dir)
      val onDisk = TrendsMain.loadParquetTables(spark, dir)
      val cfg = TrendsJob.Config(params(D, "LIST", limit = 10), s"$out/docs")
      TrendsJob.run(onDisk, cfg) // warm-up: the first run also loads classes
      val pinned = spark.sparkContext.getPersistentRDDs.keySet
      val (_, jobs) = jobsOf(TrendsJob.run(onDisk, cfg))
      info(s"$jobs jobs")
      assert(jobs <= 10, s"$jobs jobs")
      assert(spark.sparkContext.getPersistentRDDs.keySet === pinned)
      assert(spark.read.parquet(s"$out/docs").select("status_type").distinct()
        .count() === 3)

      val docs = TrendsJob.docs(onDisk, cfg)
      docs.collect()
      assert(scansByTable(docs) === tables.map(_ -> 1).toMap,
        docs.queryExecution.executedPlan)
    }
  }
}

object DailyPlanSpec {

  val tables: Seq[String] = Seq("weaving_status", "highlight", "publishers_list",
    "status_popularity", "weaving_user")

  /** How many scans of each table an executed plan runs: adaptive stages
    * are walked into, reused exchanges (leaves) are not. Parquet scans are
    * named by their directory, JDBC scans by their table. */
  def scansByTable(df: DataFrame): Map[String, Int] = {
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
      case r: RowDataSourceScanExec => // "JDBCRelation(<table>) [numPartitions=1]"
        Seq(r.relation.toString.stripPrefix("JDBCRelation(").takeWhile(_ != ')')
          .toLowerCase)
      case other => other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).groupBy(identity).map {
      case (name, seen) => name -> seen.size
    }
  }
}
