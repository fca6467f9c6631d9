package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Bfs, Cep, PageRank}

/**
 * q165-q170 — the sequential-analytics + experimentation tier: pattern
 * matching over per-user event streams ([[graft.ops.Cep]] — the
 * MATCH_RECOGNIZE capability), graph centrality on the near-dup pair
 * table ([[graft.ops.PageRank]]), and the A/B-test / time-weighted /
 * streak / week-over-week reports an event warehouse serves daily —
 * all stated in exact integer (or decimal) arithmetic so every gate is
 * a hash gate.
 */
object SequenceQueries {

  /** q165 — CEP funnel: every `view (click)* purchase` run per user,
    * contiguous in the user's event stream ordered by (ts, event_id),
    * completing within 30 minutes ([[Cep.funnelMatches]]). A
    * data-dependent-length pattern is beyond LEAD/LAG — this is the
    * sequential operator, one key shuffle + one O(1)-state forward scan.
    * The oracle reaches the same matches declaratively: for each
    * purchase row, the maximal click-run ending immediately before it,
    * with the row before that run required to be a view. */
  def q165CepFunnel(spark: SparkSession, dir: String): DataFrame =
    Cep.funnelMatches(Tables.events(spark, dir), "user_id",
        unix_micros(col("ts")), col("event_id"), col("event_type"),
        startType = "view", midType = "click", endType = "purchase",
        maxSpanUs = 30L * 60L * 1000000L)
      .withColumnRenamed("n_mid", "n_clicks")
      .orderBy(col("user_id"), col("start_us"), col("end_us"))

  val q165Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS t, event_type,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS rn
      |  FROM events),
      |g AS (
      |  SELECT *, rn - row_number() OVER (
      |    PARTITION BY user_id, event_type ORDER BY rn) AS grp
      |  FROM e),
      |cr AS (
      |  SELECT user_id, max(rn) AS rn_hi, CAST(count(*) AS BIGINT) AS len
      |  FROM g WHERE event_type = 'click' GROUP BY user_id, grp),
      |p AS (
      |  SELECT e.user_id, e.rn, e.t AS end_us,
      |    coalesce(cr.len, 0) AS n_clicks
      |  FROM e LEFT JOIN cr
      |    ON cr.user_id = e.user_id AND cr.rn_hi = e.rn - 1
      |  WHERE e.event_type = 'purchase')
      |SELECT p.user_id, v.t AS start_us, p.end_us,
      |  CAST(p.n_clicks AS BIGINT) AS n_clicks
      |FROM p JOIN e v
      |  ON v.user_id = p.user_id AND v.rn = p.rn - 1 - p.n_clicks
      | AND v.event_type = 'view'
      |WHERE p.end_us - v.t <= 1800000000
      |ORDER BY p.user_id, start_us, end_us""".stripMargin

  /** q166 — fixed-point PageRank (k = 3 rounds, d = 0.85, scale 10¹²)
    * over the standard near-dup pair table ([[PairStore]] — its seventh
    * consumer): which documents are the CENTERS of duplication clusters.
    * All-integer power iteration ([[PageRank.fixedPoint]]); the oracle
    * recomputes the pairs brute-force and unrolls the same three rounds
    * in `//` floor arithmetic. */
  def q166PageRank(spark: SparkSession, dir: String): DataFrame =
    PageRank.fixedPoint(
        PairStore.nearDupPairs(spark, dir).select(col("id_a"),
          col("id_b")), k = 3)
      .orderBy(col("id"))

  // concatenated OUTSIDE any stripMargin literal (the embedded q26
  // oracle contains SQL `||` — the q92 convention)
  val q166Sql: String = {
    def round(n: Int, prev: String): String =
      s"""i$n AS (
         |  SELECT e.dst AS id,
         |    CAST(150000000000 + (85 * sum(p.pr // d.outdeg)) // 100
         |      AS BIGINT) AS pr
         |  FROM edges e
         |  JOIN deg d ON d.src = e.src
         |  JOIN $prev p ON p.id = e.src
         |  GROUP BY e.dst)""".stripMargin
    "WITH pairs AS (\n" + graft.queries.ExtQueries.q26Sql + "\n),\n" +
      """edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |deg AS (
        |  SELECT src, CAST(count(*) AS BIGINT) AS outdeg
        |  FROM edges GROUP BY src),
        |p0 AS (SELECT src AS id, CAST(1000000000000 AS BIGINT) AS pr
        |       FROM deg),
        |""".stripMargin +
      round(1, "p0") + ",\n" + round(2, "i1") + ",\n" + round(3, "i2") +
      """
        |SELECT i3.id, d.outdeg AS degree, i3.pr
        |FROM i3 JOIN deg d ON d.src = i3.id
        |ORDER BY id""".stripMargin
  }

  /** q167 — two-proportion A/B test components: users deterministically
    * split by user_id parity, "converted" = had any purchase event. The
    * pooled z² statistic is stated as an exact integer fraction,
    * z² = (x_a·n_b − x_b·n_a)²·(n_a+n_b) /
    *      (n_a·n_b·(x_a+x_b)·(n_a+n_b−x_a−x_b)),
    * carried in DECIMAL(38,0) and gated as strings (the q98 convention —
    * the squared cross term exceeds int64 at production user counts).
    * Two hash aggs + a 1-row × 1-row join; nothing driver-side. */
  def q167AbTest(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("conv"))
      .withColumn("variant", pmod(col("user_id"), lit(2L)))
    val g = per.groupBy(col("variant"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("x"))
    val a = g.filter(col("variant") === 0)
      .select(col("n").as("n_a"), col("x").as("x_a"))
    val b = g.filter(col("variant") === 1)
      .select(col("n").as("n_b"), col("x").as("x_b"))
    def d(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    a.crossJoin(broadcast(b))
      .withColumn("cross_d",
        d(col("x_a")) * d(col("n_b")) - d(col("x_b")) * d(col("n_a")))
      .select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
        (col("cross_d") * col("cross_d") *
          d(col("n_a") + col("n_b"))).cast("string").as("z2_num"),
        (d(col("n_a")) * d(col("n_b")) * d(col("x_a") + col("x_b")) *
          d(col("n_a") + col("n_b") - col("x_a") - col("x_b")))
          .cast("string").as("z2_den"))
  }

  val q167Sql: String =
    """WITH per AS (
      |  SELECT user_id,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      |  FROM events GROUP BY user_id),
      |g AS (
      |  SELECT user_id % 2 AS variant, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(conv) AS BIGINT) AS x
      |  FROM per GROUP BY 1),
      |a AS (SELECT n AS n_a, x AS x_a FROM g WHERE variant = 0),
      |b AS (SELECT n AS n_b, x AS x_b FROM g WHERE variant = 1)
      |SELECT n_a, x_a, n_b, x_b,
      |  CAST((CAST(x_a AS HUGEINT) * n_b - CAST(x_b AS HUGEINT) * n_a)
      |     * (CAST(x_a AS HUGEINT) * n_b - CAST(x_b AS HUGEINT) * n_a)
      |     * (n_a + n_b) AS VARCHAR) AS z2_num,
      |  CAST(CAST(n_a AS HUGEINT) * n_b * (x_a + x_b)
      |     * (n_a + n_b - x_a - x_b) AS VARCHAR) AS z2_den
      |FROM a CROSS JOIN b""".stripMargin

  /** q168 — time-weighted average of the event `value` per user (the
    * TWAP statistic): each event's value holds until the user's next
    * event; segments weight fixed-point cents by exact micro-second
    * durations, so the per-user components are exact BIGINT sums and
    * the final average one integer division (Spark's `DIV` and DuckDB's
    * `//` both truncate toward zero — verified on negative operands, so
    * a negative-value corpus still matches). One partitioned sort + one
    * agg. */
  def q168Twap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("t"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("t2", lead(col("t"), 1).over(w))
      .filter(col("t2").isNotNull)
      .select(col("user_id"), col("cents"), (col("t2") - col("t")).as("dur"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_segments"),
        sum(col("dur")).as("dur_us"),
        sum(col("cents") * col("dur")).as("wsum_cents_us"))
      .withColumn("twap_cents",
        when(col("dur_us") > 0L, expr("wsum_cents_us DIV dur_us")))
      .orderBy(col("user_id"))
  }

  val q168Sql: String =
    """WITH b AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS t,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |s AS (
      |  SELECT user_id, cents, t,
      |    lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS t2
      |  FROM b)
      |SELECT user_id, count(*) AS n_segments,
      |  CAST(sum(t2 - t) AS BIGINT) AS dur_us,
      |  CAST(sum(cents * (t2 - t)) AS BIGINT) AS wsum_cents_us,
      |  CASE WHEN sum(t2 - t) > 0 THEN
      |    CAST(sum(cents * (t2 - t)) // sum(t2 - t) AS BIGINT) END
      |    AS twap_cents
      |FROM s WHERE t2 IS NOT NULL
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q169 — reset streaks: per user, runs of non-error events between
    * `error` events (the reliability "current streak" report family) —
    * the gaps-and-islands reduction keyed by the running error count.
    * One partitioned sort; island and error aggs both map-side-combine. */
  def q169ResetStreaks(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("event_id"))
      .rowsBetween(Long.MinValue, 0)
    val base = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("t"),
        (col("event_type") === "error").as("is_err"))
      .withColumn("rid",
        sum(when(col("is_err"), 1L).otherwise(0L)).over(w))
    val islands = base.filter(!col("is_err"))
      .groupBy(col("user_id"), col("rid"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_streaks"), max(col("len")).as("max_streak"))
    base.groupBy(col("user_id"))
      .agg(sum(when(col("is_err"), 1L).otherwise(0L)).as("n_errors"))
      .join(islands, Seq("user_id"), "left_outer")
      .na.fill(0L, Seq("n_streaks", "max_streak"))
      .orderBy(col("user_id"))
  }

  val q169Sql: String =
    """WITH b AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS t,
      |    (event_type = 'error') AS is_err
      |  FROM events),
      |r AS (
      |  SELECT *, CAST(sum(CASE WHEN is_err THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY user_id ORDER BY t, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS BIGINT) AS rid
      |  FROM b),
      |i AS (
      |  SELECT user_id, rid, CAST(count(*) AS BIGINT) AS len
      |  FROM r WHERE NOT is_err GROUP BY 1, 2),
      |p AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_streaks,
      |    max(len) AS max_streak
      |  FROM i GROUP BY 1),
      |e AS (
      |  SELECT user_id,
      |    CAST(sum(CASE WHEN is_err THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_errors
      |  FROM b GROUP BY 1)
      |SELECT e.user_id, n_errors,
      |  coalesce(n_streaks, 0) AS n_streaks,
      |  coalesce(max_streak, 0) AS max_streak
      |FROM e LEFT JOIN p USING (user_id)
      |ORDER BY user_id""".stripMargin

  /** q170 — week-over-week change report: weekly event counts per type
    * (epoch-day DIV 7 calendar weeks, the q147 bucketing) with the
    * positional previous week's count and the delta in exact basis
    * points — Spark's `DIV` and DuckDB's `//` both truncate toward
    * zero, so a shrinking week (negative delta) states the identical
    * operation. (The calendar-gap-aware lag family is q146's.) */
  def q170WowDeltas(spark: SparkSession, dir: String): DataFrame = {
    val day = datediff(to_date(col("ts")),
      lit("1970-01-01").cast("date")).cast("long")
    val weekly = Tables.events(spark, dir)
      .select(col("event_type"), day.as("day"))
      .withColumn("week", expr("day DIV 7"))
      .groupBy(col("event_type"), col("week"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("week"))
    weekly
      .withColumn("prev_n", lag(col("n"), 1).over(w))
      .withColumn("delta_bp",
        when(col("prev_n").isNotNull,
          expr("((n - prev_n) * 10000) DIV prev_n")))
      .orderBy(col("event_type"), col("week"))
  }

  val q170Sql: String =
    """WITH weekly AS (
      |  SELECT event_type,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |      AS BIGINT) // 7 AS week,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |l AS (
      |  SELECT event_type, week, n,
      |    lag(n) OVER (PARTITION BY event_type ORDER BY week) AS prev_n
      |  FROM weekly)
      |SELECT event_type, week, n, prev_n,
      |  CASE WHEN prev_n IS NOT NULL THEN
      |    CAST(((n - prev_n) * 10000) // prev_n AS BIGINT) END AS delta_bp
      |FROM l ORDER BY event_type, week""".stripMargin

  /** q171 — decile lift table (the gains chart of a targeting model):
    * users ranked into activity deciles, conversion per decile, and
    * each decile's lift against the overall rate in exact basis points
    * (x_d·N·10⁴ DIV (n_d·X) — one integer fraction, no IEEE). The
    * global NTILE the report is defined by would be a single-reducer
    * sort — instead the rank comes from [[graft.ops.GlobalIndex]]'s
    * two-phase distributed index and the decile from the SQL-standard
    * front-loaded-remainder formula on (rank, N), which the oracle's
    * plain `ntile(10) OVER (ORDER BY …)` must reproduce row-for-row;
    * N is the index's own row-count column. Two hash aggs over users;
    * totals ride a 1-row broadcast. */
  def q171DecileLift(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
    val indexed = graft.ops.GlobalIndex.withIndexAndCount(per, "idx",
      "n_all", col("n_events"), col("user_id"))
    // ntile(k): first N mod k buckets take ceil(N/k) rows
    val decile = {
      val q = expr("n_all DIV 10"); val r = expr("n_all % 10")
      val boundary = r * (q + 1)
      when(col("idx") < boundary, expr("idx DIV (n_all DIV 10 + 1)") + 1)
        .otherwise(
          expr("(idx - (n_all % 10) * (n_all DIV 10 + 1))" +
            " DIV (n_all DIV 10)") + (r + 1))
    }
    val byDecile = indexed.withColumn("decile", decile)
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_conv"))
    val totals = per.agg(count(lit(1)).as("n_total"),
      sum(col("conv")).as("x_total"))
    byDecile.crossJoin(broadcast(totals))
      .select(col("decile"), col("n_users"), col("n_conv"),
        expr("(n_conv * 10000) DIV n_users").as("conv_bp"),
        // zero-conversion corpus: lift is undefined (0/0) — emit NULL on
        // both engines rather than Spark-NULL vs DuckDB division error
        when(col("x_total") > 0,
          expr("(n_conv * n_total * 10000) DIV (n_users * x_total)"))
          .as("lift_bp"))
      .orderBy(col("decile"))
  }

  val q171Sql: String =
    """WITH per AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS conv
      |  FROM events GROUP BY user_id),
      |d AS (
      |  SELECT user_id, conv,
      |    CAST(ntile(10) OVER (ORDER BY n_events, user_id) AS BIGINT)
      |      AS decile
      |  FROM per),
      |g AS (
      |  SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
      |    CAST(sum(conv) AS BIGINT) AS n_conv
      |  FROM d GROUP BY decile),
      |t AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_total,
      |    CAST(sum(conv) AS BIGINT) AS x_total
      |  FROM per)
      |SELECT decile, n_users, n_conv,
      |  CAST((n_conv * 10000) // n_users AS BIGINT) AS conv_bp,
      |  CAST(CASE WHEN x_total > 0
      |    THEN (n_conv * n_total * 10000) // (n_users * x_total) END
      |    AS BIGINT) AS lift_bp
      |FROM g CROSS JOIN t ORDER BY decile""".stripMargin

  /** q172 — activation funnel with ALTERNATION in the Kleene segment:
    * `signup (view|click)* purchase` within two hours — the
    * [[Cep]] matcher's multi-type mid set (browsing of either kind
    * between account creation and first purchase). Same one-shuffle
    * O(1)-state scan as q165; the oracle's run detection switches from
    * the event-type run to the is-browsing-flag run. */
  def q172ActivationFunnel(spark: SparkSession, dir: String): DataFrame =
    Cep.funnelMatches(Tables.events(spark, dir), "user_id",
        unix_micros(col("ts")), col("event_id"), col("event_type"),
        startType = "signup", midTypes = Set("view", "click"),
        endType = "purchase", maxSpanUs = 2L * 3600L * 1000000L)
      .orderBy(col("user_id"), col("start_us"), col("end_us"))

  val q172Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS t, event_type,
      |    (event_type IN ('view', 'click')) AS is_mid,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS rn
      |  FROM events),
      |g AS (
      |  SELECT *, rn - row_number() OVER (
      |    PARTITION BY user_id, is_mid ORDER BY rn) AS grp
      |  FROM e),
      |mr AS (
      |  SELECT user_id, max(rn) AS rn_hi, CAST(count(*) AS BIGINT) AS len
      |  FROM g WHERE is_mid GROUP BY user_id, grp),
      |p AS (
      |  SELECT e.user_id, e.rn, e.t AS end_us,
      |    coalesce(mr.len, 0) AS n_mid
      |  FROM e LEFT JOIN mr
      |    ON mr.user_id = e.user_id AND mr.rn_hi = e.rn - 1
      |  WHERE e.event_type = 'purchase')
      |SELECT p.user_id, v.t AS start_us, p.end_us,
      |  CAST(p.n_mid AS BIGINT) AS n_mid
      |FROM p JOIN e v
      |  ON v.user_id = p.user_id AND v.rn = p.rn - 1 - p.n_mid
      | AND v.event_type = 'signup'
      |WHERE p.end_us - v.t <= 7200000000
      |ORDER BY p.user_id, start_us, end_us""".stripMargin

  /** q173 — equi-depth histogram of l_extendedprice (fixed-point
    * cents), k = 20: the statistic a cost-based optimizer stores per
    * column — bucket boundaries that equalize ROW COUNT, not value
    * range (q100 is the equi-width twin). Bucket of a row = its exact
    * global rank via ⌊rank·k/N⌋, and the rank comes from
    * [[graft.ops.GlobalIndex]]'s two-phase distributed numbering (the
    * naive `row_number() OVER (ORDER BY …)` single-reducer plan is the
    * ORACLE'S job). Per bucket: exact count, boundary values, sum. */
  def q173EquidepthHistogram(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(spark, dir)
      .select(round(col("l_extendedprice") * 100).cast("long").as("cents"),
        col("l_orderkey"), col("l_linenumber"))
    graft.ops.GlobalIndex.withIndexAndCount(base, "idx", "n_all",
        col("cents"), col("l_orderkey"), col("l_linenumber"))
      .withColumn("bucket", expr("(idx * 20) DIV n_all"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("cents")).as("lo_cents"),
        max(col("cents")).as("hi_cents"),
        sum(col("cents")).as("sum_cents"))
      .orderBy(col("bucket"))
  }

  val q173Sql: String =
    """WITH b AS (
      |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
      |    l_orderkey, l_linenumber
      |  FROM lineitem),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM b),
      |r AS (
      |  SELECT cents,
      |    CAST(row_number() OVER
      |      (ORDER BY cents, l_orderkey, l_linenumber) AS BIGINT) - 1
      |      AS idx
      |  FROM b)
      |SELECT CAST((idx * 20) // n_all AS BIGINT) AS bucket,
      |  count(*) AS n_rows,
      |  min(cents) AS lo_cents, max(cents) AS hi_cents,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM r CROSS JOIN t
      |GROUP BY 1 ORDER BY bucket""".stripMargin

  /** q190 — QUANTIFIED CEP funnel: `signup (view|click){1,1} purchase`
    * within two hours ([[Cep.funnelMatchesQuant]]) — the
    * MATCH_RECOGNIZE `{n,m}` quantifier on the same one-shuffle
    * O(1)-state scan (the run counter IS the quantifier; a run past the
    * cap dies in place, contiguity means no suffix can revive it).
    * "Exactly one browsing event between account creation and first
    * purchase": both bounds bind on this corpus — the minimum excludes
    * the common zero-browse activations, the cap excludes real 2-browse
    * runs. The oracle is q172's declarative maximal-run detection with
    * the run length pinned to 1. */
  def q190QuantFunnel(spark: SparkSession, dir: String): DataFrame =
    Cep.funnelMatchesQuant(Tables.events(spark, dir), "user_id",
        unix_micros(col("ts")), col("event_id"), col("event_type"),
        startType = "signup", midTypes = Set("view", "click"),
        endType = "purchase", minMid = 1L, maxMid = 1L,
        maxSpanUs = 2L * 3600L * 1000000L)
      .orderBy(col("user_id"), col("start_us"), col("end_us"))

  val q190Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS t, event_type,
      |    (event_type IN ('view', 'click')) AS is_mid,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS rn
      |  FROM events),
      |g AS (
      |  SELECT *, rn - row_number() OVER (
      |    PARTITION BY user_id, is_mid ORDER BY rn) AS grp
      |  FROM e),
      |mr AS (
      |  SELECT user_id, max(rn) AS rn_hi, CAST(count(*) AS BIGINT) AS len
      |  FROM g WHERE is_mid GROUP BY user_id, grp),
      |p AS (
      |  SELECT e.user_id, e.rn, e.t AS end_us,
      |    coalesce(mr.len, 0) AS n_mid
      |  FROM e LEFT JOIN mr
      |    ON mr.user_id = e.user_id AND mr.rn_hi = e.rn - 1
      |  WHERE e.event_type = 'purchase')
      |SELECT p.user_id, v.t AS start_us, p.end_us,
      |  CAST(p.n_mid AS BIGINT) AS n_mid
      |FROM p JOIN e v
      |  ON v.user_id = p.user_id AND v.rn = p.rn - 1 - p.n_mid
      | AND v.event_type = 'signup'
      |WHERE p.end_us - v.t <= 7200000000
      |  AND p.n_mid = 1
      |ORDER BY p.user_id, start_us, end_us""".stripMargin

  /** q191 — multi-source BFS reach ([[graft.ops.Bfs.hopDistances]]):
    * minimum hop distance (≤ 4) from every "flagged" node (doc_id ≡ 0
    * mod 7) through the near-dup graph — the contamination blast-radius
    * census ("which documents sit within k duplication hops of a flagged
    * one"), and the engine's level-synchronous answer to the oracle's
    * literal `WITH RECURSIVE` walk. Reads the memoized [[PairStore]]
    * pair table like every graph consumer (q92/q142/q166/q155); the
    * oracle recomputes the pairs from scratch via the embedded q26
    * contract, so a stale store breaks the hash. */
  def q191BfsReach(spark: SparkSession, dir: String): DataFrame = {
    val pairs = PairStore.nearDupPairs(spark, dir)
      .select(col("id_a"), col("id_b"))
    val seeds = pairs.select(col("id_a").as("id"))
      .unionByName(pairs.select(col("id_b").as("id")))
      .filter(col("id") % 7 === 0)
    Bfs.hopDistances(pairs, seeds, maxHops = 4).orderBy(col("id"))
  }

  // concatenated OUTSIDE any stripMargin literal (the embedded q26
  // oracle contains SQL `||` — the q92/q166 convention). AS MATERIALIZED
  // is load-bearing: without it DuckDB re-evaluates the pair pipeline
  // inside every recursion step (measured >27 min at sf0.1 vs ~6 min
  // materialized, identical result).
  val q191Sql: String =
    "WITH RECURSIVE pairs AS MATERIALIZED (\n" +
      graft.queries.ExtQueries.q26Sql + "\n),\n" +
      """edges AS MATERIALIZED (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |seeds AS (
        |  SELECT DISTINCT src AS id FROM edges WHERE src % 7 = 0),
        |walk(id, d) AS (
        |  SELECT id, 0 FROM seeds
        |  UNION
        |  SELECT e.dst, w.d + 1
        |  FROM walk w JOIN edges e ON e.src = w.id
        |  WHERE w.d < 4)
        |SELECT id, CAST(min(d) AS BIGINT) AS dist
        |FROM walk GROUP BY id ORDER BY id""".stripMargin
}
