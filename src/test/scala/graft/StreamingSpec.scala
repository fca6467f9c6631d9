package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  implicit private lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ev(id: Long, t: String, user: Long, typ: String, v: Double) =
    Event(id, ts(t), user, typ, v, "{}")

  test("dailyCounts: -1h shifted tumbling day windows over a stream") {
    val input = MemoryStream[Event]
    val q = EventStreams.dailyCounts(input.toDF(), lateness = "1 hour")
      .writeStream.format("memory").queryName("daily")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(
        ev(1, "2024-01-01 00:30:00", 1, "view", 1.0),  // −1h → 2023-12-31
        ev(2, "2024-01-01 01:30:00", 1, "view", 2.0),  // −1h → 2024-01-01
        ev(3, "2024-01-01 12:00:00", 2, "view", 3.0),
        ev(4, "2024-01-02 02:00:00", 1, "click", 4.0))
      q.processAllAvailable()
      val rows = spark.table("daily").collect()
        .map(r => (r.getAs[java.sql.Date]("day").toString,
          r.getAs[String]("event_type"), r.getAs[Long]("n_events"))).toSet
      assert(rows === Set(
        ("2023-12-31", "view", 1L),
        ("2024-01-01", "view", 2L),
        ("2024-01-02", "click", 1L)))
    } finally q.stop()
  }

  test("hoppingCounts: each event lands in size/slide overlapping windows") {
    val input = MemoryStream[Event]
    val q = EventStreams.hoppingCounts(input.toDF())
      .writeStream.format("memory").queryName("hopping")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(
        ev(1, "2024-01-01 10:05:00", 1, "view", 1.0),
        ev(2, "2024-01-01 10:20:00", 1, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("hopping").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("window_start").toString,
          r.getAs[Long]("n"))).toSet
      // event 1 in windows starting 09:15..10:00; event 2 in 09:30..10:15;
      // the 09:30/09:45/10:00 windows hold both
      assert(rows === Set(
        ("2024-01-01 09:15:00.0", 1L),
        ("2024-01-01 09:30:00.0", 2L),
        ("2024-01-01 09:45:00.0", 2L),
        ("2024-01-01 10:00:00.0", 2L),
        ("2024-01-01 10:15:00.0", 1L)))
    } finally q.stop()
  }

  test("userSessions: gap-based session windows") {
    val input = MemoryStream[Event]
    val q = EventStreams.userSessions(input.toDF(), gap = "10 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(
        ev(1, "2024-01-01 10:00:00", 1, "view", 1.0),
        ev(2, "2024-01-01 10:05:00", 1, "view", 1.0), // same session
        ev(3, "2024-01-01 11:00:00", 1, "view", 1.0), // new session
        ev(4, "2024-01-01 10:00:00", 2, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("sessions").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events")))
      assert(rows.count(_._1 == 1L) === 2) // two sessions for user 1
      assert(rows.filter(_._1 == 1L).map(_._2).sorted.toSeq === Seq(1L, 2L))
    } finally q.stop()
  }

  test("runningMaxPerUser: keyed state = last-writer-wins upsert semantics") {
    val input = MemoryStream[Event]
    val q = EventStreams.runningMaxPerUser(input.toDS())
      .writeStream.format("memory").queryName("maxes")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(ev(1, "2024-01-01 10:00:00", 1, "view", 5.0))
      q.processAllAvailable()
      input.addData(
        ev(2, "2024-01-01 10:01:00", 1, "view", 3.0),  // lower — max stays 5
        ev(3, "2024-01-01 10:02:00", 2, "view", 7.0))
      q.processAllAvailable()
      val latest = spark.table("maxes").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Double]("max_value"), r.getAs[Long]("n_seen")))
        .groupBy(_._1).map { case (k, vs) => k -> vs.maxBy(_._3) }
      assert(latest(1L) === ((1L, 5.0, 2L)))
      assert(latest(2L) === ((2L, 7.0, 1L)))
    } finally q.stop()
  }

  test("runningMaxPerUserTws: transformWithState twin matches mapGroupsWithState") {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Event]
      val q = EventStreams.runningMaxPerUserTws(input.toDS())
        .writeStream.format("memory").queryName("maxes_tws")
        .outputMode(OutputMode.Update()).start()
      try {
        input.addData(ev(1, "2024-01-01 10:00:00", 1, "view", 5.0))
        q.processAllAvailable()
        input.addData(
          ev(2, "2024-01-01 10:01:00", 1, "view", 3.0), // lower — max stays 5
          ev(3, "2024-01-01 10:02:00", 2, "view", 7.0))
        q.processAllAvailable()
        // same input sequence as the mapGroupsWithState test — same state
        val latest = spark.table("maxes_tws").collect()
          .map(r => (r.getAs[Long]("user_id"), r.getAs[Double]("max_value"),
            r.getAs[Long]("n_seen")))
          .groupBy(_._1).map { case (k, vs) => k -> vs.maxBy(_._3) }
        assert(latest(1L) === ((1L, 5.0, 2L)))
        assert(latest(2L) === ((2L, 7.0, 1L)))
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  test("sessionizeTws: event-time timer closes the session after the gap") {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Event]
      val q = EventStreams.sessionizeTws(input.toDS(),
          gapMs = 10 * 60 * 1000L, lateness = "0 seconds")
        .writeStream.format("memory").queryName("sessions_tws")
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData(
          ev(1, "2024-01-01 10:00:00", 1, "view", 1.0),
          ev(2, "2024-01-01 10:05:00", 1, "view", 1.0))
        q.processAllAvailable()
        assert(spark.table("sessions_tws").isEmpty, "session closed too early")
        // user 2's 11:00 event pushes the watermark past 10:15 — user 1's
        // timer fires and emits the closed session; user 2 stays open
        input.addData(ev(3, "2024-01-01 11:00:00", 2, "view", 1.0))
        q.processAllAvailable()
        val out = spark.table("sessions_tws").collect()
          .map(r => (r.getAs[Long]("user_id"),
            r.getAs[java.sql.Timestamp]("session_start").toString,
            r.getAs[java.sql.Timestamp]("session_end").toString,
            r.getAs[Long]("n_events")))
        assert(out.toSeq === Seq(
          (1L, "2024-01-01 10:00:00.0", "2024-01-01 10:05:00.0", 2L)))
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  test("dedupedEvents: duplicate event ids collapse, state bounded by watermark") {
    val input = MemoryStream[Event]
    val q = EventStreams.dedupedEvents(input.toDF(), lateness = "1 hour")
      .writeStream.format("memory").queryName("deduped")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        ev(1, "2024-01-01 10:00:00", 1, "view", 1.0),
        ev(1, "2024-01-01 10:00:00", 1, "view", 1.0), // same-batch dup
        ev(2, "2024-01-01 10:01:00", 1, "view", 2.0))
      q.processAllAvailable()
      input.addData(ev(1, "2024-01-01 10:02:00", 1, "view", 9.0)) // cross-batch dup
      q.processAllAvailable()
      val ids = spark.table("deduped").collect().map(_.getAs[Long]("event_id"))
      assert(ids.sorted.toSeq === Seq(1L, 2L))
    } finally q.stop()
  }

  test("enrichedEvents: stream-static broadcast join attaches dimension data") {
    val dim = Seq(("view", 1.0), ("click", 5.0)).toDF("event_type", "weight")
    val input = MemoryStream[Event]
    val q = EventStreams.enrichedEvents(input.toDF(), dim)
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        ev(1, "2024-01-01 10:00:00", 1, "view", 1.0),
        ev(2, "2024-01-01 10:01:00", 1, "purchase", 2.0)) // no dim row → null
      q.processAllAvailable()
      val rows = spark.table("enriched").collect()
        .map(r => r.getAs[Long]("event_id") ->
          (if (r.isNullAt(r.fieldIndex("weight"))) None else Some(r.getAs[Double]("weight"))))
        .toMap
      assert(rows === Map(1L -> Some(1.0), 2L -> None))
    } finally q.stop()
  }

  test("correlatedEvents: stream-stream interval join pairs events in the window") {
    val views = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val q = EventStreams.correlatedEvents(views.toDF(), clicks.toDF(),
        within = "30 minutes", lateness = "1 hour")
      .writeStream.format("memory").queryName("correlated")
      .outputMode(OutputMode.Append()).start()
    try {
      views.addData(
        ev(1, "2024-01-01 10:00:00", 1, "view", 1.0),
        ev(2, "2024-01-01 10:00:00", 2, "view", 1.0))
      clicks.addData(
        ev(10, "2024-01-01 10:10:00", 1, "click", 1.0), // within 30m of view 1
        ev(11, "2024-01-01 11:00:00", 1, "click", 1.0), // outside the window
        ev(12, "2024-01-01 10:05:00", 3, "click", 1.0)) // other user
      q.processAllAvailable()
      val pairs = spark.table("correlated").collect()
        .map(r => (r.getAs[Long]("l_id"), r.getAs[Long]("r_id")))
      assert(pairs.toSet === Set((1L, 10L)))
    } finally q.stop()
  }

  test("correlatedEventsLeftOuter: unmatched left emits nulls after the watermark") {
    val views = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val q = EventStreams.correlatedEventsLeftOuter(views.toDF(), clicks.toDF(),
        within = "30 minutes", lateness = "10 minutes")
      .writeStream.format("memory").queryName("correlated_outer")
      .outputMode(OutputMode.Append()).start()
    try {
      views.addData(
        ev(1, "2024-01-01 10:00:00", 1, "view", 1.0),  // will match
        ev(2, "2024-01-01 10:00:00", 2, "view", 1.0))  // never matches
      clicks.addData(
        ev(10, "2024-01-01 10:10:00", 1, "click", 1.0))
      q.processAllAvailable()
      // advance BOTH watermarks far past view 2's join window so the
      // null verdict becomes provable and its state evictable
      views.addData(ev(3, "2024-01-01 12:00:00", 9, "view", 1.0))
      clicks.addData(ev(99, "2024-01-01 12:00:00", 9, "click", 1.0))
      q.processAllAvailable()
      q.processAllAvailable()
      val rows = spark.table("correlated_outer").collect()
        .map(r => (r.getAs[Long]("l_id"), Option(r.getAs[Any]("r_id"))))
        .toSet
      assert(rows.contains((1L, Some(10L))), s"matched pair missing: $rows")
      assert(rows.contains((2L, None)),
        s"unmatched left row was never emitted with null right: $rows")
    } finally q.stop()
  }

  test("writeDailyUpsert: micro-batches land as overwritable day partitions") {
    withTempDirs("stream-sink", "stream-cp") { case Seq(dir, cp) =>
      val input = MemoryStream[Event]
      val q = EventStreams.writeDailyUpsert(
        EventStreams.dailyCounts(input.toDF(), lateness = "1 hour"),
        s"$dir/out", cp)
      try {
        input.addData(
          ev(1, "2024-01-01 12:00:00", 1, "view", 1.0),
          ev(5, "2024-01-01 12:30:00", 2, "click", 9.0))
        q.processAllAvailable()
        // batch 2 updates ONLY the view group — the click group's partition
        // must survive (update-mode batches carry just the changed groups, so
        // partitioning must be by the full (day, event_type) key)
        input.addData(ev(2, "2024-01-01 13:00:00", 1, "view", 2.0))
        q.processAllAvailable()
        val out = spark.read.parquet(s"$dir/out")
        val day = out.filter($"day" === "2024-01-01").collect()
          .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n_events"))
          .toMap
        assert(day === Map("view" -> 2L, "click" -> 1L))
      } finally q.stop()
    }
  }
}
