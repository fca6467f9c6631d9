package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.model.Schemas
import graft.queries.HighlightQueries.TrendsTables

/**
 * Tiny in-memory tweet-domain fixtures exercising the FIXTURES.md §A edge
 * cases: day-boundary rows under the −1h shift, 0/1/many popularity samples,
 * argmax ties, NULL is_retweet with/without `retweeted_status_result`,
 * deleted members, malformed JSON, screen-name-vs-aggregate list matches.
 *
 * Day under test D = 2023-03-10; bucket(ts) = date(ts − 1h), so
 * D 00:30 buckets to D−1 and D 01:00 buckets to D.
 */
object FixtureData {
  val D = "2023-03-10"
  private def ts(s: String) = Timestamp.valueOf(s)

  def doc(idStr: String, rt: Int, fav: Int, userId: String,
          retweeted: Boolean = false): String = {
    val rsr = if (retweeted) """"retweeted_status_result": {"id": "x"},""" else ""
    s"""{"id_str": "$idStr", "full_text": "t", "retweet_count": $rt,
       | "favorite_count": $fav, $rsr "user": {"id_str": "$userId"}}""".stripMargin
  }

  def tables(spark: SparkSession): TrendsTables = {
    def df(schema: org.apache.spark.sql.types.StructType, rows: Row*): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

    val weavingStatus = df(Schemas.weavingStatus,
      Row(1L, "101", "alpha", "hello one", ts(s"$D 10:00:00"), doc("101", 5, 2, "9001")),
      Row(2L, "102", "alpha", "hello two", ts(s"$D 11:00:00"), doc("102", 50, 6, "9001")),
      Row(3L, "103", "beta", "a retweet", ts(s"$D 09:00:00"), doc("103", 9, 1, "9002", retweeted = true)),
      Row(4L, "104", "gamma", "prev day", ts(s"$D 00:30:00"), doc("104", 1, 0, "9004")),
      Row(5L, "105", "delta", "boundary in", ts(s"$D 01:00:00"), doc("105", 1, 0, "9005")),
      Row(6L, "106", "eps", "bad json", ts(s"$D 12:00:00"), "{bad"),
      Row(7L, "107", "zeta", "deleted author", ts(s"$D 12:00:00"), doc("107", 3, 1, "9003")),
      Row(8L, "108", "alpha", "tie candidate", ts(s"$D 13:00:00"), doc("108", 50, 6, "9001")))

    val highlight = df(Schemas.highlight,
      Row(1L, 10L, 1L, java.lang.Boolean.FALSE, ts(s"$D 10:00:00"), Int.box(7), Int.box(3)),
      Row(2L, 10L, 1L, java.lang.Boolean.FALSE, ts(s"$D 11:00:00"), Int.box(20), Int.box(8)),
      Row(3L, 10L, 2L, java.lang.Boolean.TRUE, ts(s"$D 09:00:00"), Int.box(30), Int.box(1)),
      Row(4L, 10L, 1L, java.lang.Boolean.FALSE, ts(s"$D 00:30:00"), Int.box(4), Int.box(2)),
      Row(5L, 10L, 1L, java.lang.Boolean.FALSE, ts(s"$D 01:00:00"), Int.box(2), Int.box(1)),
      Row(7L, 10L, 3L, java.lang.Boolean.FALSE, ts(s"$D 12:00:00"), Int.box(9), Int.box(4)))

    val publishersList = df(Schemas.publishersList,
      Row(10L, "LIST", "alpha", null),
      Row(11L, "OTHER", "deleted_guy", ts(s"$D 00:00:00")),
      Row(12L, "LIST", null, null))

    val statusPopularity = df(Schemas.statusPopularity,
      // status 2: two same-day samples (MAX picks 120/45) + one next-day (excluded)
      Row(2L, ts(s"$D 12:00:00"), Int.box(100), Int.box(40)),
      Row(2L, ts(s"$D 13:00:00"), Int.box(120), Int.box(45)),
      Row(2L, ts("2023-03-11 10:00:00"), Int.box(999), Int.box(999)),
      // status 1: sampled at D+1 00:30 — the −1h shift pulls it back into day D
      Row(1L, ts("2023-03-11 00:30:00"), Int.box(11), Int.box(5)))

    val weavingUser = df(Schemas.weavingUser,
      Row(1L, "alpha", "9001"),
      Row(2L, "beta", "9002"),
      Row(3L, "deleted_guy", "9003"))

    TrendsTables(weavingStatus, highlight, publishersList, statusPopularity, weavingUser)
  }

  /** Writes `t` as the `<table>.parquet` dirs `TrendsMain --tables-dir`
    * reads. */
  def writeParquet(t: TrendsTables, dir: String): Unit =
    Seq("weaving_status" -> t.weavingStatus, "highlight" -> t.highlight,
      "publishers_list" -> t.publishersList,
      "status_popularity" -> t.statusPopularity,
      "weaving_user" -> t.weavingUser).foreach { case (name, df) =>
      df.write.parquet(s"$dir/$name.parquet")
    }
}
