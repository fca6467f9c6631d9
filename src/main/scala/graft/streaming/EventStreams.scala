package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode,
  TimerValues, ValueState}
import org.apache.spark.sql.types._

import graft.sink.KeyedPartitionSink

/**
 * Structured Streaming generalization of the reference's daily-batch
 * contract (SURVEY §2.9): the cron-driven "query one day, delete the day's
 * sink node, rewrite it" loop becomes an event-time windowed stream with a
 * watermark and an idempotent `foreachBatch` upsert — same replay semantics,
 * continuous instead of daily.
 */
object EventStreams {

  /** events-table schema for file streams (TESTDATA.md). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-based stream over a directory of event parquet files. */
  def readFileStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /**
   * Daily tumbling-window counts with the reference's −1h shifted event time
   * (P8) — the streaming twin of CoreQueries.q12/q20. The watermark bounds
   * state: a day's window closes `lateness` after the day ends, exactly the
   * window in which the reference would have re-run its batch.
   */
  def dailyCounts(events: DataFrame, lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(
        window(col("ts") - expr("INTERVAL '1' HOUR"), "1 day").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"))
      .select(to_date(col("w.start")).as("day"), col("event_type"),
        col("n_events"), col("total_value"))

  /** HOPPING (sliding) windows — the streaming twin of the batch q63:
    * every event lands in size/slide overlapping windows (Spark expands
    * it before the stateful aggregate); the watermark closes each window
    * `lateness` after its end, so state is bounded by (span of open
    * windows) × (slide density), never by stream length. */
  def hoppingCounts(events: DataFrame, size: String = "1 hour",
                    slide: String = "15 minutes",
                    lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), size, slide).as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("n"))

  /** Session windows per user — the generalization step beyond the
    * reference's fixed day buckets (SURVEY §7.1 step 7). */
  def userSessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), gap).as("s"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("s.start").as("session_start"), col("s.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))

  /**
   * Streaming exact dedup — the streaming twin of the batch Dedup.exact
   * tier: one state entry per key, EVICTED once the watermark passes it
   * (`dropDuplicatesWithinWatermark`), so state is bounded by the lateness
   * horizon instead of growing with the stream — the only shape that
   * survives an unbounded 100 TB/day feed. Exactly-once per key within the
   * horizon; a duplicate arriving later than `lateness` is out-of-contract
   * (same contract as any watermarked op).
   */
  def dedupedEvents(events: DataFrame, lateness: String = "1 hour"): DataFrame =
    events.withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("event_id")

  /**
   * Stream-static enrichment join: per micro-batch hash join against a
   * static dimension (the batch side is re-read each trigger, broadcast
   * when small) — how reference-data lookups attach to an event stream
   * without any streaming state.
   */
  def enrichedEvents(events: DataFrame, dim: DataFrame,
                     key: String = "event_type"): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /**
   * Watermarked stream-stream interval join: pair each left event with the
   * right-stream events of the same user that happened within `within`
   * AFTER it (attribution-style correlation). Both sides carry watermarks
   * and the join condition bounds the time range in BOTH directions, so
   * Spark can size and EVICT the join state — the unbounded-state trap of
   * naive stream-stream joins is structurally avoided.
   */
  def correlatedEvents(left: DataFrame, right: DataFrame,
                       within: String = "1 hour",
                       lateness: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", lateness)
      .select(col("event_id").as("l_id"), col("ts").as("l_ts"),
        col("user_id"), col("event_type").as("l_type"))
    val r = right.withWatermark("ts", lateness)
      .select(col("event_id").as("r_id"), col("ts").as("r_ts"),
        col("user_id").as("r_user"), col("event_type").as("r_type"))
    l.join(r,
      col("user_id") === col("r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL '$within'"))
      .select(col("l_id"), col("r_id"), col("user_id"),
        col("l_type"), col("r_type"), col("l_ts"), col("r_ts"))
  }

  /**
   * LEFT OUTER stream-stream interval join: like [[correlatedEvents]] but
   * an unmatched left event IS emitted (null right columns) — once the
   * watermark proves no matching right row can still arrive. Outer
   * stream-stream joins REQUIRE both the watermark and the time-range
   * condition (Spark rejects the join otherwise): together they bound how
   * long a left row must be retained before the null verdict is safe,
   * which is also exactly the state-eviction bound.
   */
  def correlatedEventsLeftOuter(left: DataFrame, right: DataFrame,
                                within: String = "1 hour",
                                lateness: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", lateness)
      .select(col("event_id").as("l_id"), col("ts").as("l_ts"),
        col("user_id"), col("event_type").as("l_type"))
    val r = right.withWatermark("ts", lateness)
      .select(col("event_id").as("r_id"), col("ts").as("r_ts"),
        col("user_id").as("r_user"), col("event_type").as("r_type"))
    l.join(r,
        col("user_id") === col("r_user") &&
          col("r_ts") >= col("l_ts") &&
          col("r_ts") <= col("l_ts") + expr(s"INTERVAL '$within'"),
        "left_outer")
      .select(col("l_id"), col("r_id"), col("user_id"),
        col("l_type"), col("r_type"), col("l_ts"), col("r_ts"))
  }

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double, props: String)
  final case class KeyedMax(user_id: Long, max_value: Double, n_seen: Long)

  /**
   * Custom keyed state via mapGroupsWithState: the running per-key maximum —
   * the streaming equivalent of the reference's last-writer-wins keyed
   * upsert (S5, trends.go:712-737), where each new popularity sample updates
   * the key's document. State is one tiny record per key, so it scales with
   * distinct keys, not events.
   */
  def runningMaxPerUser(events: Dataset[Event]): Dataset[KeyedMax] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[Event], state: GroupState[KeyedMax]) =>
          val prev = state.getOption.getOrElse(KeyedMax(key, Double.MinValue, 0L))
          val next = rows.foldLeft(prev) { (acc, e) =>
            KeyedMax(key, math.max(acc.max_value, e.value), acc.n_seen + 1)
          }
          state.update(next)
          next
      }
  }

  /**
   * The same running per-key maximum on `transformWithState` — Spark 4's
   * successor to mapGroupsWithState: typed named state slots
   * (Value/List/MapState) with per-state TTL, event/processing-time timers,
   * and the RocksDB state store underneath (incremental checkpoints — the
   * tier a long-lived keyed stream over 100 TB of events needs; the old API
   * keeps whole-state snapshots). Requires
   * `spark.sql.streaming.stateStore.providerClass =
   * ...state.RocksDBStateStoreProvider`; StreamingSpec proves
   * output-equivalence with [[runningMaxPerUser]] on the same input.
   */
  def runningMaxPerUserTws(events: Dataset[Event]): Dataset[KeyedMax] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningMaxProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** One KeyedMax ValueState per key (no TTL — the keyed document lives as
    * long as the reference's Firebase node would). */
  class RunningMaxProcessor extends StatefulProcessor[Long, Event, KeyedMax] {
    @transient private var state: ValueState[KeyedMax] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[KeyedMax]("max",
        Encoders.product[KeyedMax], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[KeyedMax] = {
      val prev =
        if (state.exists()) state.get()
        else KeyedMax(key, Double.MinValue, 0L)
      val next = rows.foldLeft(prev) { (acc, e) =>
        KeyedMax(key, math.max(acc.max_value, e.value), acc.n_seen + 1)
      }
      state.update(next)
      Iterator.single(next)
    }
  }

  final case class UserSession(user_id: Long,
                               session_start: java.sql.Timestamp,
                               session_end: java.sql.Timestamp,
                               n_events: Long)
  // not `private`: the generated encoder class must be able to reference it
  // (a private case class forces SafeProjection into interpreter fallback)
  final case class SessionAgg(start: Long, end: Long, n: Long)

  /**
   * Event-time session detection on the FULL transformWithState surface —
   * state slot + event-time TIMERS: each key accumulates its open session
   * in a ValueState and keeps exactly one timer armed at (session end +
   * gap); when the watermark passes it, [[SessionProcessor.handleExpiredTimer]]
   * emits the closed session and clears the state. Compared to the
   * session_window aggregation ([[userSessions]]) this shape also supports
   * side effects and per-key logic at close time — the streaming twin of a
   * keyed sink flush. State per key is one 24-byte record + one timer,
   * independent of event volume.
   */
  def sessionizeTws(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
                    lateness: String = "1 hour"): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Open-session accumulator with a single re-armed event-time timer. */
  class SessionProcessor(gapMs: Long)
      extends StatefulProcessor[Long, Event, UserSession] {
    @transient private var sess: ValueState[SessionAgg] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[SessionAgg]("sess",
        Encoders.product[SessionAgg], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[UserSession] = {
      var lo = Long.MaxValue; var hi = Long.MinValue; var n = 0L
      rows.foreach { e =>
        val t = e.ts.getTime
        lo = math.min(lo, t); hi = math.max(hi, t); n += 1
      }
      if (n > 0) {
        val next =
          if (sess.exists()) {
            val c = sess.get()
            SessionAgg(math.min(c.start, lo), math.max(c.end, hi), c.n + n)
          } else SessionAgg(lo, hi, n)
        sess.update(next)
        // one active timer per key: re-arm at the new session end + gap
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(next.end + gapMs)
      }
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long, timers: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[UserSession] = {
      if (!sess.exists()) Iterator.empty
      else {
        val c = sess.get()
        sess.clear()
        Iterator.single(UserSession(key,
          new java.sql.Timestamp(c.start), new java.sql.Timestamp(c.end), c.n))
      }
    }
  }

  /**
   * Idempotent streaming sink: every micro-batch is written through the same
   * dynamic-partition-overwrite path as the batch job, so replays of a batch
   * (failure recovery) rewrite the affected day partitions instead of
   * duplicating them — the exactly-once story the reference got from
   * delete-then-insert (S6).
   */
  def writeDailyUpsert(daily: DataFrame, path: String,
                       checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    daily.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // Partition by the FULL group key: Update mode emits only the
        // changed (day, event_type) groups, so overwriting day-level
        // partitions would silently delete the day's untouched event types.
        // With (day, event_type) partitions each overwritten directory is
        // exactly one emitted group — true upsert granularity. The
        // overwrite mode is a writer option: the session's is untouched.
        batch.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("day", "event_type")
          .parquet(path)
      }
      .start()

  /**
   * One micro-batch of a keyed JDBC upsert: delete-then-insert scoped to
   * exactly the key tuples the batch carries, via
   * [[graft.sink.JdbcUpsertSink.writeStagedKeyed]] — the batch's
   * distinct keys are staged into a per-invocation staging table BY THE
   * EXECUTORS (unique name — concurrent writers never collide) and
   * the delete is one set-based `WHERE EXISTS`, so no key value ever
   * materializes on the driver (a per-document-key stream with millions
   * of distinct keys per batch costs the driver nothing). This is the
   * function Structured Streaming re-invokes verbatim when it replays a
   * failed batch, so calling it twice on the same content must be (and
   * is) a no-op — the replay-idempotence contract the specs exercise
   * directly.
   */
  def upsertBatchKeyed(batch: DataFrame, keyCols: Seq[String],
                       url: String, table: String): Unit = {
    require(keyCols.nonEmpty, "keyed upsert needs at least one key column")
    // the batch feeds two passes (distinct keys into the stage, then the
    // rows) — pin it so the second pass never recomputes the source
    val b = batch.persist()
    try graft.sink.JdbcUpsertSink.writeStagedKeyed(b, url, table, keyCols)
    finally { b.unpersist(); () }
  }

  /**
   * The north star's "Structured Streaming + JDBC" sink, generalized to
   * any group key: each micro-batch upserts into a relational table
   * through [[upsertBatchKeyed]]'s scoped delete-then-insert. Works for
   * Update-mode aggregations (changed groups re-emitted → their scopes
   * rewritten) and Append-mode finalized emissions alike (e.g.
   * [[sessionizeTws]] timer-closed sessions, where a replayed batch
   * re-emits the same closed sessions and the scope delete absorbs them).
   */
  def writeKeyedUpsertJdbc(df: DataFrame, keyCols: Seq[String], url: String,
                           table: String, checkpoint: String,
                           mode: OutputMode = OutputMode.Update())
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode(mode)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertBatchKeyed(batch, keyCols, url, table)
      }
      .start()

  /** Daily-counts instance of [[writeKeyedUpsertJdbc]] — the reference's
    * per-(day, list) delete-then-insert cycle (S5/S6) as a stream. */
  def writeDailyUpsertJdbc(daily: DataFrame, url: String, table: String,
                           checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    writeKeyedUpsertJdbc(daily, Seq("day", "event_type"), url, table, checkpoint)
}
