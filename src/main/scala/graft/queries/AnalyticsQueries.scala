package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Joins, Sessionize}

/**
 * Round-4 analytics extensions: the time-series / corpus-statistics
 * operators a training-data pipeline leans on beyond dedup and ANN —
 * sessionization, interval joins, rolling windows, frequency analysis.
 * Every query here is oracle-gated (DuckDB twin on the same parquet).
 */
object AnalyticsQueries {

  /** q46 — BATCH sessionization (gaps-and-islands, 30-minute gap): the
    * batch twin of the streaming sessionizers. One shuffle on the key, one
    * sort, two window passes Catalyst fuses over the same spec. */
  def q46Sessionize(spark: SparkSession, dir: String): DataFrame =
    Sessionize.sessions(
        Tables.events(spark, dir).select(col("user_id"), col("ts")),
        "user_id", "ts", gapMinutes = 30)
      .orderBy(col("user_id"), col("session_start"))

  val q46Sql: String =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |x AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |              > INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS brk
      |  FROM e),
      |s AS (
      |  SELECT user_id, ts,
      |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS session_seq
      |  FROM x)
      |SELECT user_id, session_seq,
      |  min(ts) AS session_start, max(ts) AS session_end,
      |  count(*) AS n_events,
      |  epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
      |FROM s
      |GROUP BY user_id, session_seq
      |ORDER BY user_id, session_start""".stripMargin

  /** q47 — keyless INTERVAL JOIN: every `error` event opens a 15-minute
    * incident window; each non-error event counts the windows covering it.
    * The engine turns the inequality join into a bucketed equi-join
    * (Joins.intervalJoin) — the oracle is DuckDB's native IEJoin over the
    * raw inequality, an independent implementation of the semantics. */
  def q47IntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val probes = ev.filter(col("event_type") =!= "error")
      .select(col("event_id"), col("ts"))
    val windows = ev.filter(col("event_type") === "error")
      .select(col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 15 MINUTES")).as("w_end"))
    val matched = Joins.intervalJoin(probes, "ts", windows, "w_start", "w_end",
        bucketMicros = 15L * 60L * 1000000L)
      .groupBy(col("event_id")).agg(count(lit(1)).as("n_windows"))
    probes.select(col("event_id"))
      .join(matched, Seq("event_id"), "left")
      .select(col("event_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"))
      .orderBy(col("event_id"))
  }

  val q47Sql: String =
    """WITH e AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
      |w AS (
      |  SELECT ts AS w_start, ts + INTERVAL 15 MINUTE AS w_end
      |  FROM e WHERE event_type = 'error'),
      |p AS (SELECT event_id, ts FROM e WHERE event_type <> 'error')
      |SELECT p.event_id, count(w.w_start) AS n_windows
      |FROM p LEFT JOIN w ON p.ts >= w.w_start AND p.ts < w.w_end
      |GROUP BY p.event_id
      |ORDER BY event_id""".stripMargin

  /** q48 — ROLLUP with grouping_id: the OLAP subtotal surface
    * (detail rows, per-flag subtotals, grand total in ONE pass — Spark
    * plans a single Expand + hash aggregate, not three scans). Sums ride
    * DECIMAL so subtotal re-aggregation is order-exact. */
  def q48Rollup(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"))
      .select(col("l_returnflag"), col("l_linestatus"), col("gid"),
        col("n"), col("sum_qty"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)
  }

  val q48Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |  count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""
      .stripMargin

  /** q49 — per-event window analytics: inter-event gap (lag), running
    * event count and DECIMAL-exact running value sum, percent_rank of the
    * event's value within its user. One shuffle on user_id; every window
    * shares the (user_id | ts, event_id) sort, so Catalyst evaluates them
    * in a single Window operator over one sort pass. */
  def q49WindowAnalytics(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
    val byTime = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val running = byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byValue = Window.partitionBy(col("user_id"))
      .orderBy(col("value"))
    ev.select(
        col("event_id"), col("user_id"),
        (unix_micros(col("ts")) -
          lag(unix_micros(col("ts")), 1).over(byTime)).as("gap_us"),
        count(lit(1)).over(running).as("run_n"),
        sum(col("value").cast("decimal(18,2)")).over(running)
          .cast("double").as("run_value"),
        percent_rank().over(byValue).as("pr"))
      .orderBy(col("event_id"))
  }

  val q49Sql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
      |  FROM events)
      |SELECT event_id, user_id,
      |  epoch_us(ts) - lag(epoch_us(ts), 1)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us,
      |  count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2)))
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS DOUBLE) AS run_value,
      |  percent_rank() OVER (PARTITION BY user_id ORDER BY value) AS pr
      |FROM e
      |ORDER BY event_id""".stripMargin

  /** q50 — time-series gap-fill + forward fill (TimeSeries op): densify
    * each user's activity onto a daily grid and carry the last day's value
    * across gaps. The oracle rebuilds the spine with generate_series and
    * fills with IGNORE NULLS — an independent formulation of the same
    * semantics. */
  def q50DailyGapfill(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TimeSeries.dailyForwardFill(
        Tables.events(spark, dir), "user_id", "ts",
        sum(col("value").cast("decimal(18,2)")))
      .select(col("user_id"), col("day"), col("n"),
        col("value").cast("double").as("value"))
      .orderBy(col("user_id"), col("day"))

  val q50Sql: String =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    count(*) AS n,
      |    sum(CAST(value AS DECIMAL(18,2))) AS day_value
      |  FROM events GROUP BY 1, 2),
      |bounds AS (
      |  SELECT user_id, min(day) AS d0, max(day) AS d1
      |  FROM daily GROUP BY user_id),
      |spine AS (
      |  SELECT user_id, CAST(unnest(generate_series(
      |    CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
      |    INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM bounds)
      |SELECT s.user_id, s.day,
      |  coalesce(d.n, 0) AS n,
      |  CAST(last_value(d.day_value IGNORE NULLS) OVER (
      |    PARTITION BY s.user_id ORDER BY s.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    AS value
      |FROM spine s LEFT JOIN daily d
      |  ON s.user_id = d.user_id AND s.day = d.day
      |ORDER BY s.user_id, s.day""".stripMargin

  /** q55 — exact distributed quantiles (discrete): per event_type, the
    * p50/p90/p99 of `value` selected by row_number over one sort — the
    * scalable exact-quantile pattern (one shuffle + window; no
    * driver-side percentile state). Indices use pure integer ceil
    * arithmetic ((k·n + k−1… ) div m form) so both engines select the
    * identical row — a float p·n would round differently per engine. */
  def q55ExactQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    ev.select(col("event_type"), col("value"), col("event_id"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(
        max(col("n")).as("n"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("value")))
          .as("p50"),
        max(when(col("rn") === expr("(9 * n + 9) div 10"), col("value")))
          .as("p90"),
        max(when(col("rn") === expr("(99 * n + 99) div 100"), col("value")))
          .as("p99"))
      .orderBy(col("event_type"))
  }

  val q55Sql: String =
    """WITH r AS (
      |  SELECT event_type, value,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY value, event_id) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events)
      |SELECT event_type, max(n) AS n,
      |  max(CASE WHEN rn = (n + 1) // 2 THEN value END) AS p50,
      |  max(CASE WHEN rn = (9 * n + 9) // 10 THEN value END) AS p90,
      |  max(CASE WHEN rn = (99 * n + 99) // 100 THEN value END) AS p99
      |FROM r
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** q57 — Z-order (Morton) key computation ([[graft.ops.ZOrder]]): the
    * bit-interleave that buys two-dimensional min/max data skipping from
    * one physical sort order, computed by the FUSED native expression
    * (functions.MortonKey, full codegen). The oracle runs the five-step
    * magic-number spread in SQL — pure integer shifts/masks, so the hash
    * gate proves the native codegen's bit-exactness end to end;
    * FunctionsSpec pins native == builtin chain, ZOrderSpec the LAYOUT
    * effect (per-file spans tight in both dimensions). */
  def q57ZorderKey(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.select(
        col("event_id"),
        col("user_id").bitwiseAND(lit(0xFFFFL)).as("x"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").bitwiseAND(lit(0xFFFFL)).as("y"))
      .withColumn("zkey", graft.ops.ZOrder.zkeyNative(col("x"), col("y")))
      .orderBy(col("event_id"))
  }

  private[queries] def spreadSql(v: String): String = {
    val s1 = s"($v & 65535)"
    val s2 = s"(($s1 | ($s1 << 8)) & 16711935)"
    val s3 = s"(($s2 | ($s2 << 4)) & 252645135)"
    val s4 = s"(($s3 | ($s3 << 2)) & 858993459)"
    s"(($s4 | ($s4 << 1)) & 1431655765)"
  }

  val q57Sql: String = {
    val sx = spreadSql("x")
    val sy = spreadSql("y")
    """WITH e AS (
      |  SELECT event_id,
      |    user_id & 65535 AS x,
      |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) & 65535 AS y
      |  FROM events)
      |SELECT event_id, x, y, (__SX__ | (__SY__ << 1)) AS zkey
      |FROM e
      |ORDER BY event_id""".stripMargin
      .replace("__SX__", sx).replace("__SY__", sy)
  }

  /** q58 — approximate distinct (HyperLogLog++) with an error-bound gate:
    * the approximate value itself is engine-specific, so the gated output
    * is the exact count plus the BOOLEAN "HLL landed within 5 %" — the
    * oracle asserts TRUE, so a sketch drifting out of tolerance fails the
    * round. This is the honest way to oracle-gate an approximate operator
    * (the sketch, not its exact twin, is what runs at 100 TB: mergeable,
    * fixed memory, one pass). */
  def q58ApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_exact"),
        approx_count_distinct(col("user_id"), rsd = 0.02).as("__approx"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("__approx") - col("n_exact")).cast("double") / col("n_exact")
          <= 0.05).as("approx_ok"))
      .orderBy(col("event_type"))
  }

  val q58Sql: String =
    """SELECT event_type,
      |  count(DISTINCT user_id) AS n_exact,
      |  TRUE AS approx_ok
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** q59 — incremental aggregate maintenance ([[graft.ops.IncrementalAgg]]):
    * history is aggregated once into algebraic partials, the late batch is
    * aggregated alone, the two partial sets MERGE — and the gate proves
    * merge(partials(old), partials(new)) ≡ full recompute (the oracle
    * aggregates the whole table directly). Sums ride DECIMAL, so the
    * equality is exact, not approximate. */
  def q59IncrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.IncrementalAgg
    val ev = Tables.events(spark, dir)
      .withColumn("day", to_date(col("ts")))
    val pivot = lit("2024-01-25").cast("date")
    val stored = IncrementalAgg.partials(
      ev.filter(col("day") < pivot), Seq("day"), "value")
    val batch = IncrementalAgg.partials(
      ev.filter(col("day") >= pivot), Seq("day"), "value")
    IncrementalAgg.finalize(
        IncrementalAgg.merge(stored, batch, Seq("day")))
      .orderBy(col("day"))
  }

  val q59Sql: String =
    """SELECT CAST(ts AS DATE) AS day,
      |  count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*)
      |    AS mean,
      |  min(value) AS vmin, max(value) AS vmax
      |FROM events
      |GROUP BY 1
      |ORDER BY day""".stripMargin

  /** q60 — dense global row index ([[graft.ops.GlobalIndex]]): the
    * two-phase range-partition + offset numbering whose result equals the
    * naive single-reducer `row_number() OVER (ORDER BY …)` row-for-row —
    * which is exactly what the oracle runs (DuckDB can afford the global
    * sort; a 100 TB Spark job cannot, which is the point of the op). */
  def q60GlobalIndex(spark: SparkSession, dir: String): DataFrame =
    graft.ops.GlobalIndex.withGlobalIndex(
        Tables.events(spark, dir).select(col("event_id"), col("ts")),
        "gidx", col("ts"), col("event_id"))
      .select(col("event_id"), col("gidx"))
      .orderBy(col("event_id"))

  val q60Sql: String =
    """SELECT event_id,
      |  CAST(row_number() OVER (ORDER BY ts, event_id) - 1 AS BIGINT)
      |    AS gidx
      |FROM events
      |ORDER BY event_id""".stripMargin

  /** The event-type domain, pinned so `pivot` needs NO discovery pass —
    * at 100 TB the two-job "collect distinct values, then pivot" shape is
    * a full extra scan; a declared domain keeps pivot single-pass. */
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** q61 — PIVOT (long→wide): per-day DECIMAL-exact value totals spread
    * across one column per event type. Catalyst plans the declared-domain
    * pivot as a single hash aggregate with conditional sums — exactly the
    * CASE-expression form the oracle spells out. */
  def q61Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .pivot("event_type", eventTypes)
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double"))
      .orderBy(col("day"))

  val q61Sql: String = {
    val cols = eventTypes.map(t =>
      s"""  CAST(sum(CASE WHEN event_type = '$t'
         |    THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS "$t""""
        .stripMargin).mkString(",\n")
    s"""SELECT CAST(ts AS DATE) AS day,
       |$cols
       |FROM events
       |GROUP BY 1
       |ORDER BY day""".stripMargin
  }

  /** q62 — UNPIVOT (wide→long): lineitem's three amount columns melted to
    * (metric, amount) rows. Spark's native `unpivot` is map-only (an
    * Expand node — no shuffle, no UNION re-scan); the oracle is the
    * 3-way UNION ALL it replaces. */
  def q62Unpivot(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "metric", "amount")
      // the synthetic lineitem has duplicate (orderkey, linenumber) pairs
      // (q01's r3 finding) — amount makes the output order total
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"),
        col("amount"))

  val q62Sql: String =
    """SELECT l_orderkey, l_linenumber, metric, amount FROM (
      |  SELECT l_orderkey, l_linenumber,
      |    'l_quantity' AS metric, l_quantity AS amount FROM lineitem
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber,
      |    'l_extendedprice', l_extendedprice FROM lineitem
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber,
      |    'l_discount', l_discount FROM lineitem)
      |ORDER BY l_orderkey, l_linenumber, metric, amount""".stripMargin

  /** q63 — HOPPING (sliding) windows, batch twin of the streaming tier:
    * 1-hour windows every 15 minutes, so each event lands in 4 — Spark's
    * native `window()` plans this as a 4-row Expand (map-only) before one
    * hash aggregate. The oracle derives the same epoch-aligned window
    * starts with integer arithmetic. */
  def q63HoppingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
      .select(col("window.start").as("window_start"), col("n"), col("total"))
      .orderBy(col("window_start"))

  val q63Sql: String =
    """WITH hop AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, value FROM events),
      |assigned AS (
      |  SELECT make_timestamp((us // 900000000) * 900000000
      |      - k * 900000000) AS window_start,
      |    value
      |  FROM hop, UNNEST(generate_series(0, 3)) AS u(k))
      |SELECT window_start, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM assigned
      |GROUP BY 1
      |ORDER BY window_start""".stripMargin

  /** q64 — NTILE deciles: per event_type, value deciles with exact
    * per-bucket stats (both engines implement SQL-standard ntile: the
    * first n mod k buckets take the extra row; ties resolved by the
    * unique event_id order column). */
  def q64NtileDeciles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy(col("event_type"), col("decile"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("vmin"), max(col("value")).as("vmax"))
      .orderBy(col("event_type"), col("decile"))
  }

  val q64Sql: String =
    """WITH d AS (
      |  SELECT event_type, value,
      |    CAST(ntile(10) OVER (PARTITION BY event_type
      |      ORDER BY value, event_id) AS BIGINT) AS decile
      |  FROM events)
      |SELECT event_type, decile, count(*) AS n,
      |  min(value) AS vmin, max(value) AS vmax
      |FROM d
      |GROUP BY 1, 2
      |ORDER BY event_type, decile""".stripMargin

  /** q65 — funnel via FORWARD as-of join ([[Joins.asofJoinForward]]):
    * each view's NEXT purchase by the same user; a view converts if it
    * arrives within the hour. Same one-shuffle/one-window-scan shape as
    * the backward as-of. The oracle runs DuckDB's native ASOF on NEGATED
    * epoch times (largest -t_p ≤ -t_v ⟺ smallest t_p ≥ t_v) — an
    * independent formulation of "next event". */
  def q65Funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("pus"))
    Joins.asofJoinForward(views, purchases, "user_id", "ts", Seq("pus"))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_views"),
        count(when(
          col("asof_pus") - unix_micros(col("ts")) <= 3600L * 1000000L,
          lit(1))).as("n_converted"))
      .orderBy(col("day"))
  }

  val q65Sql: String =
    """WITH v AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
      |    -epoch_us(CAST(ts AS TIMESTAMP)) AS nt
      |  FROM events WHERE event_type = 'view'),
      |p AS (
      |  SELECT user_id, -epoch_us(CAST(ts AS TIMESTAMP)) AS nt,
      |    MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS pus
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      |j AS (
      |  SELECT v.event_id, v.ts, v.user_id, p.pus
      |  FROM v ASOF LEFT JOIN p
      |    ON v.user_id = p.user_id AND v.nt >= p.nt)
      |SELECT CAST(ts AS DATE) AS day,
      |  count(*) AS n_views,
      |  count(CASE WHEN pus - epoch_us(ts) <= 3600000000 THEN 1 END)
      |    AS n_converted
      |FROM j
      |GROUP BY 1
      |ORDER BY day""".stripMargin
}
