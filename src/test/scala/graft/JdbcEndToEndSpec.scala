package graft

import java.sql.DriverManager

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.jobs.TrendsJob
import graft.queries.HighlightQueries.Params
import graft.sources.JdbcSource
import graft.sources.JdbcSource.JdbcConfig
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

/** The north star's full "relational DB in → relational DB out" lifecycle
  * against embedded Derby: five tables loaded over JDBC, the three-pass job,
  * the scoped upsert back over JDBC — and the streaming foreachBatch twin. */
class JdbcEndToEndSpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graft_e2e;create=true"
  private val cfg = JdbcConfig(url, "org.apache.derby.iapi.jdbc.AutoloadedDriver")

  private def ddl(st: java.sql.Statement, sql: String): Unit =
    try { st.executeUpdate(sql); () }
    catch { // idempotent create: ignore "table already exists" (X0Y32)
      case e: java.sql.SQLException if e.getSQLState == "X0Y32" => ()
    }

  private lazy val db: Unit = {
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    ddl(st,
      """CREATE TABLE sink_docs (
        |  id BIGINT, twitterId VARCHAR(32), username VARCHAR(64),
        |  text VARCHAR(512), url VARCHAR(256), json VARCHAR(2048),
        |  publishedAt VARCHAR(32), checkedAt VARCHAR(32),
        |  isRetweet BOOLEAN, twitter_id VARCHAR(32),
        |  totalRetweets INT, totalFavorites INT,
        |  list_id VARCHAR(64), ingest_date VARCHAR(10),
        |  status_type VARCHAR(64))""".stripMargin)
    ddl(st,
      """CREATE TABLE daily_counts (
        |  day DATE, event_type VARCHAR(32),
        |  n_events BIGINT, total_value DOUBLE)""".stripMargin)
    ddl(st,
      """CREATE TABLE user_sessions (
        |  user_id BIGINT, session_start TIMESTAMP,
        |  session_end TIMESTAMP, n_events BIGINT)""".stripMargin)
    // the five source tables — explicit VARCHAR DDL (Derby cannot compare
    // the CLOBs Spark's default StringType mapping would create), populated
    // through the library's own prepared-statement sink
    ddl(st,
      """CREATE TABLE weaving_status (
        |  ust_id BIGINT, ust_status_id VARCHAR(32), ust_full_name VARCHAR(64),
        |  ust_text VARCHAR(512), ust_created_at TIMESTAMP,
        |  ust_api_document VARCHAR(2048))""".stripMargin)
    ddl(st,
      """CREATE TABLE highlight (
        |  status_id BIGINT, aggregate_id BIGINT, member_id BIGINT,
        |  is_retweet BOOLEAN, publication_date_time TIMESTAMP,
        |  total_retweets INT, total_favorites INT)""".stripMargin)
    ddl(st,
      """CREATE TABLE publishers_list (
        |  id BIGINT, public_id VARCHAR(64), screen_name VARCHAR(64),
        |  deleted_at TIMESTAMP)""".stripMargin)
    ddl(st,
      """CREATE TABLE status_popularity (
        |  status_id BIGINT, checked_at TIMESTAMP,
        |  total_retweets INT, total_favorites INT)""".stripMargin)
    ddl(st,
      """CREATE TABLE weaving_user (
        |  usr_id BIGINT, usr_twitter_username VARCHAR(64),
        |  usr_twitter_id VARCHAR(32))""".stripMargin)
    st.close(); conn.close()
    val t = FixtureData.tables(spark)
    def put(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      graft.sink.JdbcUpsertSink.write(df, url, name, scopes = Seq(Nil))
    put(t.weavingStatus, "weaving_status")
    put(t.highlight, "highlight")
    put(t.publishersList, "publishers_list")
    put(t.statusPopularity, "status_popularity")
    put(t.weavingUser, "weaving_user")
  }

  test("three-pass job: JDBC tables in, scoped JDBC upsert out, replay-safe") {
    db
    val jobCfg = TrendsJob.Config(
      Params(sinceDate = FixtureData.D, listId = "LIST", limit = -1),
      sinkPath = "unused")
    TrendsJob.runOverJdbc(spark, cfg, jobCfg, url, "sink_docs")
    val first = JdbcSource.table(spark, cfg, "sink_docs").collect()
    assert(first.nonEmpty)
    // pass-1 curated rows present with their type discriminator
    assert(first.map(_.getAs[String]("STATUS_TYPE")).toSet ===
      Set("status", "retweetFromDistinctSources", "statusFromDistinctSources"))
    // replaying the same day is idempotent: the (list, date) scope is
    // pre-deleted, so row count is unchanged
    TrendsJob.runOverJdbc(spark, cfg, jobCfg, url, "sink_docs")
    val second = JdbcSource.table(spark, cfg, "sink_docs").collect()
    assert(second.length === first.length)
  }

  test("popularity scan over JDBC: pinned to the day unless week-mode distinct") {
    db
    PopularityScan.assertPins(JdbcSource.trendsTables(spark, cfg),
      Params(sinceDate = FixtureData.D, listId = "LIST", limit = -1))
  }

  test("JDBC tables into the parquet sink: --in-parallel=false writes one file a partition") {
    db
    // without coalescing, each pass's sort leaves several partitions, so
    // a bounded write is what keeps one file a partition
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try withTempDirs("trends-sink") { case Seq(out) =>
      graft.jobs.TrendsMain.run(spark, graft.jobs.TrendsMain.parseArgs(Array(
        s"--since-date=${FixtureData.D}", "--publishers-list-id=LIST",
        s"--jdbc-url=$url", s"--sink-path=$out/docs", "--limit=-1",
        "--in-parallel=false")))
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
      val parts =
        try st.iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
          .toSeq.groupBy(_.getParent)
        finally st.close()
      assert(parts.size === 3, parts.keys) // one partition per pass type
      assert(parts.values.forall(_.size == 1), parts)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("streaming daily counts upsert over JDBC: per-group scope, no dups") {
    db
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cp = java.nio.file.Files.createTempDirectory("jdbc-cp").toString
    def ev(id: Long, t: String, typ: String, v: Double) =
      Event(id, java.sql.Timestamp.valueOf(t), 1L, typ, v, "{}")
    val input = MemoryStream[Event]
    val q = EventStreams.writeDailyUpsertJdbc(
      EventStreams.dailyCounts(input.toDF(), lateness = "1 hour"),
      url, "daily_counts", cp)
    try {
      input.addData(
        ev(1, "2024-01-01 12:00:00", "view", 1.0),
        ev(2, "2024-01-01 12:30:00", "click", 9.0))
      q.processAllAvailable()
      // second batch updates only the view group; click must survive
      input.addData(ev(3, "2024-01-01 13:00:00", "view", 2.0))
      q.processAllAvailable()
      val back = JdbcSource.table(spark, cfg, "daily_counts").collect()
        .map(r => r.getAs[String]("EVENT_TYPE") -> r.getAs[Long]("N_EVENTS"))
        .toMap
      assert(back === Map("view" -> 2L, "click" -> 1L))
    } finally q.stop()
  }

  test("sessionizeTws → keyed JDBC upsert: timer-closed sessions land, replay is a no-op") {
    db
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val cp = java.nio.file.Files.createTempDirectory("sess-cp").toString
      def ev(id: Long, t: String, u: Long) =
        Event(id, java.sql.Timestamp.valueOf(t), u, "view", 1.0, "{}")
      val input = MemoryStream[Event]
      val keyCols = Seq("user_id", "session_start")
      val q = EventStreams.writeKeyedUpsertJdbc(
        EventStreams.sessionizeTws(input.toDS(),
          gapMs = 10 * 60 * 1000L, lateness = "0 seconds").toDF(),
        keyCols, url, "user_sessions", cp,
        mode = org.apache.spark.sql.streaming.OutputMode.Append())
      try {
        input.addData(
          ev(1, "2024-01-01 10:00:00", 1),
          ev(2, "2024-01-01 10:05:00", 1))
        q.processAllAvailable()
        def rows() = JdbcSource.table(spark, cfg, "user_sessions").collect()
          .map(r => (r.getAs[Long]("USER_ID"),
            r.getAs[java.sql.Timestamp]("SESSION_START").toString,
            r.getAs[java.sql.Timestamp]("SESSION_END").toString,
            r.getAs[Long]("N_EVENTS")))
        assert(rows().isEmpty, "session upserted before its timer fired")
        // user 2's 11:00 event pushes the watermark past 10:15 — user 1's
        // timer fires, the closed session rides foreachBatch into Derby
        input.addData(ev(3, "2024-01-01 11:00:00", 2))
        q.processAllAvailable()
        val first = rows()
        assert(first.toSeq === Seq(
          (1L, "2024-01-01 10:00:00.0", "2024-01-01 10:05:00.0", 2L)))
        // replay: Structured Streaming re-invokes the foreachBatch body
        // with the same batch content after a failure — calling it again
        // with the emitted session must leave the table unchanged
        val emitted = spark.createDataFrame(
          java.util.List.of(org.apache.spark.sql.Row(1L,
            java.sql.Timestamp.valueOf("2024-01-01 10:00:00"),
            java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 2L)),
          org.apache.spark.sql.Encoders
            .product[EventStreams.UserSession].schema)
        EventStreams.upsertBatchKeyed(emitted, keyCols, url, "user_sessions")
        assert(rows().toSeq === first.toSeq, "replayed batch duplicated rows")
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }
}
