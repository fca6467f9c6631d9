package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Artifacts, Tables}
import graft.ops.{Agreement, BitmapIndex, CountMin, GlobalIndex,
  RecordLinkage, Robust, Skyline, Spearman, WeightedSample}
import graft.plans.{ConstraintCatalog, PkFkJoinElimination}

/**
 * Round-9 tier (q200-q209): the optimizer / storage / statistics
 * frontier — a declared-constraint Catalyst rewrite rule, Iceberg-v2
 * equality deletes on the zoned source, Fellegi-Sunter record linkage,
 * deterministic systematic PPS sampling, two classic bitwise summary
 * structures (count-min sketch, block bitmap index), and three exact
 * statistics (Cohen's kappa, winsorized robust moments, Spearman rank
 * correlation). Reference scope: none of these exist in the reference
 * (a 750-line SQL-shipping worker); they are the engine-tier surface a
 * 100 TB training-data pipeline needs, per the build brief.
 */
object FrontierQueries {

  /** q200 — PK-FK inner-join ELIMINATION by a custom Catalyst
    * `Rule[LogicalPlan]` ([[graft.plans.PkFkJoinElimination]], installed
    * through `spark.experimental.extraOptimizations`): the customer ⋈
    * nation join below reads nothing from nation, the key pair is
    * declared RI (and PlanShapeSpec re-verifies the data satisfies it),
    * so the optimized plan scans ONLY customer — the oracle keeps the
    * join and must agree, which is precisely the rewrite's soundness
    * contract. Spec-locked: zero Join nodes with the rule, one without. */
  def q200JoinElim(spark: SparkSession, dir: String): DataFrame = {
    ConstraintCatalog.declareRi("c_nationkey", "n_nationkey")
    PkFkJoinElimination.install(spark)
    val c = Tables.customer(spark, dir)
    // dim side: bare scan (no spread) — the eliminable shape BI tools emit
    val n = spark.read.parquet(s"$dir/nation.parquet")
    c.join(n, c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
          .as("total_bal"))
      .orderBy(col("c_mktsegment"))
  }

  val q200Sql: String =
    """SELECT c_mktsegment,
      |  count(*) AS n_cust,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // the zoned table with its deletes, stored once per session and
  // documents snapshot ([[graft.Artifacts]]): the layout + delete is the
  // stored state, the query is the steady-state merge-on-read scan
  private def deletedZonedPath(spark: SparkSession, dir: String): String =
    Artifacts.stored(spark, "zoned-del",
        Seq(Tables.path(dir, "documents"))) { tmp =>
      val docs = Tables.documents(spark, dir)
      graft.sources.ZonedCorpus.write(docs, tmp,
        expr("doc_id DIV 64"), Seq("doc_id", "n_chars"))
      graft.sources.ZonedCorpus.deleteWhere(
        docs.filter(expr("n_chars % 7 = 0")).select(col("doc_id")), tmp)
      tmp
    }

  /** q201 — EQUALITY DELETES, merge-on-read
    * ([[graft.sources.ZonedCorpus.deleteWhere]]): doc_ids with
    * n_chars % 7 = 0 are logically deleted from the zoned documents
    * table — no data file rewritten, the delete zone stores key VALUES
    * (so compaction can never invalidate it), the pre-delete snapshot
    * still time-travels, and a raw scan REFUSES to serve the table
    * without acknowledging the pending deletes (spec-locked). The gate
    * reads the merged view and must equal the oracle's NOT-filter. */
  def q201EqualityDeletes(spark: SparkSession, dir: String): DataFrame = {
    val path = deletedZonedPath(spark, dir)
    graft.sources.ZonedCorpus.readWithDeletes(spark, path)
      .orderBy(col("doc_id"))
  }

  val q201Sql: String =
    """SELECT doc_id, text, lang, source, n_chars
      |FROM documents
      |WHERE NOT (n_chars % 7 = 0)
      |ORDER BY doc_id""".stripMargin

  /** q202 — Fellegi-Sunter RECORD LINKAGE
    * ([[graft.ops.RecordLinkage.linkPasses]]): customers vs a
    * deterministically dirtied copy (digit-swapped names on custkey%7,
    * segment wiped on %5, balance band shifted on %3), candidates from
    * TWO FINE blocking passes — (nation, reversed-name-prefix-8): key
    * cardinality scales with the data, catches every clean-name pair;
    * (nation, band, segment): fixed-domain but narrow, catches the
    * dirty-name pairs whose band+segment survived — unioned and
    * pair-deduped. Scored by integer log-weights over three field rules
    * (reversed-name Jaro-Winkler via the DuckDB-bit-parity native
    * kernel, segment equality, band equality), classified match /
    * possible. Pairs dirty in BOTH name and (band or segment) escape
    * both passes — the disclosed recall bound every production linker
    * has. The single-pass nation-only variant measured 59.6× at 10×
    * data (quadratic); this shape is the fix. */
  def q202RecordLinkage(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val c = Tables.customer(spark, dir)
    val a = c.select(
      col("c_custkey").as("id_a"),
      col("c_name").as("name_a"),
      col("c_nationkey").as("nk_a"),
      col("c_mktsegment").as("seg_a"),
      floor(col("c_acctbal") / 100.0).cast("long").as("band_a"))
    val b = c.select(
      (col("c_custkey") + 1000000L).as("id_b"),
      when(expr("c_custkey % 7 = 0"),
        translate(col("c_name"), "012", "OIZ"))
        .otherwise(col("c_name")).as("name_b"),
      col("c_nationkey").as("nk_b"),
      when(expr("c_custkey % 5 = 0"), lit("UNKNOWN"))
        .otherwise(col("c_mktsegment")).as("seg_b"),
      (floor(col("c_acctbal") / 100.0).cast("long") +
        when(expr("c_custkey % 3 = 0"), 1L).otherwise(0L)).as("band_b"))
    // ADVISED passes, default since round 13: [[graft.ops.Skew.maybeHot]]'s
    // sketch pre-verdict certifies these fine flat blocking keys in one
    // cheap pass per side and falls through to the identical plain
    // joins, so the round-12 overhead that had parked the advisor
    // (exact verdict at 1.6–3.0× the whole plain link) is gone; a hot
    // block distribution (the thing a production linker can't rule out
    // at author time) would pay the exact advisor and salt only the hot
    // blocks. Struct keys are null-FIELD-filtered inside, so candidates
    // equal the round-12 conjunction passes exactly.
    RecordLinkage.linkPassesAdvised(a, b,
        passKeys = Seq(
          struct(col("nk_a"),
              substring(reverse(col("name_a")), 1, 8)) ->
            struct(col("nk_b"),
              substring(reverse(col("name_b")), 1, 8)),
          struct(col("nk_a"), col("band_a"), col("seg_a")) ->
            struct(col("nk_b"), col("band_b"), col("seg_b"))),
        idCols = Seq("id_a", "id_b"),
        rules = Seq(
          RecordLinkage.FieldRule("name",
            expr("jaro_winkler(reverse(name_a), reverse(name_b)) >= 0.95"),
            40, 30),
          RecordLinkage.FieldRule("segment",
            col("seg_a") === col("seg_b"), 15, 10),
          RecordLinkage.FieldRule("band",
            col("band_a") === col("band_b"), 25, 20)),
        tMatch = 50, tPossible = 25)
      .select(col("id_a"), col("id_b"), col("score"), col("verdict"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val q202Sql: String =
    """WITH a AS (
      |  SELECT c_custkey AS id_a, c_name AS name_a,
      |    c_nationkey AS nk_a, c_mktsegment AS seg_a,
      |    CAST(floor(c_acctbal / 100.0) AS BIGINT) AS band_a
      |  FROM customer),
      |b AS (
      |  SELECT c_custkey + 1000000 AS id_b,
      |    CASE WHEN c_custkey % 7 = 0
      |      THEN translate(c_name, '012', 'OIZ') ELSE c_name END AS name_b,
      |    c_nationkey AS nk_b,
      |    CASE WHEN c_custkey % 5 = 0
      |      THEN 'UNKNOWN' ELSE c_mktsegment END AS seg_b,
      |    CAST(floor(c_acctbal / 100.0) AS BIGINT)
      |      + CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END AS band_b
      |  FROM customer),
      |cand AS (
      |  SELECT a.*, b.* FROM a JOIN b ON nk_a = nk_b
      |    AND substr(reverse(name_a), 1, 8) = substr(reverse(name_b), 1, 8)
      |  UNION
      |  SELECT a.*, b.* FROM a JOIN b ON nk_a = nk_b
      |    AND band_a = band_b AND seg_a = seg_b),
      |scored AS (
      |  SELECT id_a, id_b,
      |    CAST(CASE WHEN jaro_winkler_similarity(
      |        reverse(name_a), reverse(name_b)) >= 0.95
      |      THEN 40 ELSE -30 END
      |    + CASE WHEN seg_a = seg_b THEN 15 ELSE -10 END
      |    + CASE WHEN band_a = band_b THEN 25 ELSE -20 END
      |      AS BIGINT) AS score
      |  FROM cand)
      |SELECT id_a, id_b, score,
      |  CASE WHEN score >= 50 THEN 'match' ELSE 'possible' END AS verdict
      |FROM scored WHERE score >= 25
      |ORDER BY id_a, id_b""".stripMargin

  /** q203 — deterministic weight-proportional SYSTEMATIC sampling
    * ([[graft.ops.WeightedSample.systematic]]): ~100 documents selected
    * proportional to n_chars via exact stride crossings over the
    * two-phase exclusive prefix sum — every heavy doc guaranteed in,
    * reproducible on any partitioning, no RNG. The oracle replays the
    * stride arithmetic on a window prefix sum. */
  def q203WeightedSample(spark: SparkSession, dir: String): DataFrame =
    WeightedSample.systematic(
        Tables.documents(spark, dir).select(col("doc_id"), col("n_chars")),
        col("n_chars"), target = 100L, col("doc_id"))
      .orderBy(col("doc_id"))

  val q203Sql: String =
    """WITH c AS (
      |  SELECT doc_id, n_chars,
      |    COALESCE(sum(n_chars) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS wprev
      |  FROM documents),
      |t AS (SELECT greatest(1, sum(n_chars) // 100) AS s FROM documents)
      |SELECT doc_id, n_chars FROM c, t
      |WHERE (wprev + n_chars) // s > wprev // s
      |ORDER BY doc_id""".stripMargin

  /** q204 — COUNT-MIN SKETCH ([[graft.ops.CountMin]]): 4×64 counter
    * sketch over event user_ids built as ONE map-side-combinable hash
    * aggregation (the sketch is a monoid — the shuffle carries at most
    * depth×width cells per task, never rows), then point estimates for
    * a probe set decoded as the min over hash rows, joined with exact
    * truth. Explicit modular hash family ⇒ the oracle rebuilds the
    * sketch cell-for-cell; est ≥ true is the CMS guarantee, equality
    * the gate. */
  def q204CountMin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val sketch = CountMin.build(ev, col("user_id"), depth = 4, width = 64)
    val probes = ev.filter(expr("user_id % 13 = 0"))
    val est = CountMin.estimate(sketch, probes, col("user_id"),
      depth = 4, width = 64)
    val truth = ev.filter(expr("user_id % 13 = 0"))
      .groupBy(col("user_id").as("k"))
      .agg(count(lit(1)).as("true_n"))
    est.join(truth, Seq("k"))
      .select(col("k"), col("est"), col("true_n"))
      .orderBy(col("k"))
  }

  val q204Sql: String =
    """WITH h(d, a, b) AS (VALUES
      |  (0, 100000000000000003, 10000000000000061),
      |  (1, 300000000000000011, 50000000000000051),
      |  (2, 700000000000000033, 900000000000000059),
      |  (3, 1200000000000000011, 1500000000000000041)),
      |cells AS (
      |  SELECT d, CAST((((CAST(user_id AS HUGEINT) * a + b)
      |      % 2305843009213693951 + 2305843009213693951)
      |      % 2305843009213693951) % 64 AS BIGINT) AS bucket,
      |    count(*) AS n
      |  FROM events CROSS JOIN h
      |  GROUP BY 1, 2),
      |probes AS (
      |  SELECT DISTINCT user_id AS k FROM events WHERE user_id % 13 = 0),
      |est AS (
      |  SELECT p.k, CAST(min(COALESCE(c.n, 0)) AS BIGINT) AS est
      |  FROM probes p CROSS JOIN h
      |  LEFT JOIN cells c ON c.d = h.d
      |    AND c.bucket = CAST((((CAST(p.k AS HUGEINT) * h.a + h.b)
      |      % 2305843009213693951 + 2305843009213693951)
      |      % 2305843009213693951) % 64 AS BIGINT)
      |  GROUP BY p.k),
      |tru AS (
      |  SELECT user_id AS k, count(*) AS true_n FROM events
      |  WHERE user_id % 13 = 0 GROUP BY 1)
      |SELECT e.k, e.est, t.true_n
      |FROM est e JOIN tru t USING (k)
      |ORDER BY k""".stripMargin

  /** q205 — BLOCK BITMAP INDEX ([[graft.ops.BitmapIndex]]): rows get
    * dense global positions (two-phase numbering), 64-row blocks pack
    * into one word per (predicate, block) via bit_or, and the boolean
    * algebra (engagement-type AND/OR high-value) runs on words with
    * popcount — 64× less data than the row stream. The oracle counts
    * the predicates DIRECTLY, so the gate proves the whole index round
    * trip equals the truth. */
  def q205BitmapIndex(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    val indexed = GlobalIndex.withGlobalIndex(ev, "pos", col("event_id"))
    val bitmaps = BitmapIndex.build(indexed, "pos", Map(
      "engaged" -> col("event_type").isin("click", "view"),
      "big" -> (col("value") >= 100.0)))
    BitmapIndex.algebra(bitmaps, "engaged", "big")
  }

  val q205Sql: String =
    """SELECT
      |  CAST(sum(CASE WHEN event_type IN ('click','view')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |  CAST(sum(CASE WHEN value >= 100.0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_b,
      |  CAST(sum(CASE WHEN event_type IN ('click','view')
      |    AND value >= 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_and,
      |  CAST(sum(CASE WHEN event_type IN ('click','view')
      |    OR value >= 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_or
      |FROM events""".stripMargin

  /** q206 — COHEN'S KAPPA ([[graft.ops.Agreement.cohensKappa]]):
    * agreement between two deterministic document "raters" (size class
    * from n_chars vs size class from whitespace-stripped length) in
    * exact integer arithmetic — one K×K confusion aggregate, DECIMAL
    * numerator/denominator internally, PUBLISHED AS BIGINT (raw
    * decimal columns surface differently per client engine — the
    * round-10 hash-miss class), IEEE-identical final division. */
  def q206CohensKappa(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val rated = d.select(
      when(col("n_chars") < 150, "S")
        .when(col("n_chars") < 350, "M").otherwise("L").as("r1"),
      when(length(regexp_replace(col("text"), " ", "")) < 120, "S")
        .when(length(regexp_replace(col("text"), " ", "")) < 280, "M")
        .otherwise("L").as("r2"))
    Agreement.cohensKappa(rated, col("r1"), col("r2"))
  }

  val q206Sql: String =
    """WITH rated AS (
      |  SELECT
      |    CASE WHEN n_chars < 150 THEN 'S'
      |      WHEN n_chars < 350 THEN 'M' ELSE 'L' END AS r1,
      |    CASE WHEN length(replace(text, ' ', '')) < 120 THEN 'S'
      |      WHEN length(replace(text, ' ', '')) < 280 THEN 'M'
      |      ELSE 'L' END AS r2
      |  FROM documents),
      |cells AS (
      |  SELECT r1 AS ka, r2 AS kb, count(*) AS n_ab
      |  FROM rated GROUP BY 1, 2),
      |m AS (
      |  SELECT CAST(sum(n_ab) AS BIGINT) AS n,
      |    CAST(COALESCE(sum(CASE WHEN ka = kb THEN n_ab END), 0)
      |      AS BIGINT) AS agree_n
      |  FROM cells),
      |pe AS (
      |  SELECT COALESCE(sum(r1k * r2k), 0) AS pe_num FROM
      |    (SELECT ka, sum(n_ab) AS r1k FROM cells GROUP BY ka) x
      |    JOIN (SELECT kb, sum(n_ab) AS r2k FROM cells GROUP BY kb) y
      |    ON x.ka = y.kb)
      |SELECT n, agree_n,
      |  CAST(pe_num AS BIGINT) AS pe_num,
      |  CAST(n * agree_n - pe_num AS BIGINT) AS kappa_num,
      |  CAST(n * n - pe_num AS BIGINT) AS kappa_den,
      |  round(CAST(n * agree_n - pe_num AS DOUBLE)
      |    / CAST(n * n - pe_num AS DOUBLE), 9) AS kappa
      |FROM m CROSS JOIN pe""".stripMargin

  /** q207 — WINSORIZED robust moments ([[graft.ops.Robust.winsorized]]):
    * event values clamped at the EXACT global [p5, p95] order
    * statistics (two-phase rank, no single-reducer window), counts of
    * clamped tails, DECIMAL-quantized winsorized sum and mean. */
  def q207Winsorized(spark: SparkSession, dir: String): DataFrame =
    Robust.winsorized(Tables.events(spark, dir), col("value"),
      pLoMille = 50, pHiMille = 950, col("event_id"))

  val q207Sql: String =
    """WITH r AS (
      |  SELECT value,
      |    row_number() OVER (ORDER BY value, event_id) AS rn,
      |    count(*) OVER () AS n
      |  FROM events),
      |cut AS (
      |  SELECT max(n) AS n,
      |    max(CASE WHEN rn = (50 * n + 999) // 1000 THEN value END) AS lo,
      |    max(CASE WHEN rn = (950 * n + 999) // 1000 THEN value END) AS hi
      |  FROM r)
      |SELECT c.n, c.lo, c.hi,
      |  CAST(sum(CASE WHEN value < c.lo THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_low,
      |  CAST(sum(CASE WHEN value > c.hi THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_high,
      |  CAST(sum(CAST(least(greatest(value, c.lo), c.hi)
      |    AS DECIMAL(18,2))) AS DOUBLE) AS wsum,
      |  CAST(sum(CAST(least(greatest(value, c.lo), c.hi)
      |    AS DECIMAL(18,2))) AS DOUBLE) / c.n AS wmean
      |FROM events CROSS JOIN cut c
      |GROUP BY c.n, c.lo, c.hi""".stripMargin

  /** q208 — exact SPEARMAN rank correlation
    * ([[graft.ops.Spearman.correlate]]): tie-averaged ranks kept ×2 in
    * longs, computed by NDV-scale two-phase prefix sums (never a global
    * rank window), five exact sufficient sums (DECIMAL internally,
    * BIGINT on the published surface), one IEEE-exact final rho. Variables: document size vs whitespace count — the
    * distribution-free "does length track token count" check. */
  def q208Spearman(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(
      col("n_chars").as("x"),
      (length(col("text")) -
        length(regexp_replace(col("text"), " ", ""))).cast("long").as("y"))
    Spearman.correlate(d, col("x"), col("y"))
  }

  val q208Sql: String =
    """WITH pts AS (
      |  SELECT n_chars AS x,
      |    CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT)
      |      AS y
      |  FROM documents),
      |ranked AS (
      |  SELECT
      |    2 * rank() OVER (ORDER BY x)
      |      + count(*) OVER (PARTITION BY x) - 1 AS r1,
      |    2 * rank() OVER (ORDER BY y)
      |      + count(*) OVER (PARTITION BY y) - 1 AS r2
      |  FROM pts)
      |SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(r1) AS BIGINT) AS sx,
      |  CAST(sum(r2) AS BIGINT) AS sy,
      |  CAST(sum(r1 * r1) AS BIGINT) AS sxx,
      |  CAST(sum(r2 * r2) AS BIGINT) AS syy,
      |  CAST(sum(r1 * r2) AS BIGINT) AS sxy,
      |  round(CAST(count(*) * sum(r1 * r2) - sum(r1) * sum(r2) AS DOUBLE)
      |    / sqrt(CAST(count(*) * sum(r1 * r1) - sum(r1) * sum(r1)
      |        AS DOUBLE)
      |      * CAST(count(*) * sum(r2 * r2) - sum(r2) * sum(r2)
      |        AS DOUBLE)), 9) AS rho
      |FROM ranked""".stripMargin

  /** q209 — 2-D SKYLINE ([[graft.ops.Skyline.pareto2d]]): the Pareto
    * frontier of user activity (event count, peak value in cents) —
    * per-x maxima + the exclusive running max over strictly-greater x,
    * O(n) data movement where the oracle's NOT-EXISTS formulation is
    * the quadratic naive shape (spelled as a window for floor speed). */
  def q209Skyline(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("x"),
        round(max(col("value")) * 100.0).cast("long").as("y"))
    Skyline.pareto2d(pts, col("x"), col("y"))
      .orderBy(col("x"))
  }

  val q209Sql: String =
    """WITH pts AS (
      |  SELECT count(*) AS x,
      |    CAST(round(max(value) * 100.0) AS BIGINT) AS y
      |  FROM events GROUP BY user_id),
      |perx AS (SELECT x, max(y) AS y FROM pts GROUP BY x),
      |hw AS (
      |  SELECT x, y, max(y) OVER (ORDER BY x DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
      |  FROM perx)
      |SELECT x, y FROM hw
      |WHERE hwm IS NULL OR y > hwm
      |ORDER BY x""".stripMargin

  // the bloom-zoned layout (hive-style category zones + per-zone equality
  // blooms on `source`), stored once per session and documents snapshot
  // ([[graft.Artifacts]])
  private def bloomZonedPath(spark: SparkSession, dir: String): String =
    Artifacts.stored(spark, "zoned-bloom",
        Seq(Tables.path(dir, "documents"))) { tmp =>
      graft.sources.ZonedCorpus.write(
        Tables.documents(spark, dir), tmp,
        coalesce(col("source"), lit("null")),
        Seq("doc_id", "n_chars"), bloomCols = Seq("source"))
      tmp
    }

  /** q210 — zone BLOOM-FILTER pruning
    * ([[graft.sources.ZonedManifest]] blooms): min/max stats cannot
    * prune STRING equality, the per-zone 8192-bit xxhash64 bloom can —
    * `source = 'src1'` plans only the zones whose bloom admits the
    * literal (driver-side, zero files opened for the rest; the
    * ZonedSourceSpec locks the partition counts, this gate locks the
    * answer). Equality is still re-checked post-scan — a bloom false
    * positive costs a zone scan, never a wrong row. */
  def q210BloomPruning(spark: SparkSession, dir: String): DataFrame = {
    val path = bloomZonedPath(spark, dir)
    spark.read.format("graft.sources.ZonedSource").load(path)
      .filter(col("source") === "src1")
      .orderBy(col("doc_id"))
  }

  val q210Sql: String =
    """SELECT doc_id, text, lang, source, n_chars
      |FROM documents
      |WHERE source = 'src1'
      |ORDER BY doc_id""".stripMargin

  /** q211 — storage ENCODING ADVISOR
    * ([[graft.ops.EncodingAdvisor]]): exact (n, ndv, runs) per candidate
    * column under the table's sort order — run counting is the
    * order-dependent statistic, computed two-phase (partitioned lag +
    * driver boundary stitching, never a single-reducer lag window) —
    * and the RLE/DICT/PLAIN verdict by integer cross-multiplication. */
  def q211EncodingAdvisor(spark: SparkSession, dir: String): DataFrame =
    graft.ops.EncodingAdvisor.advise(
        Tables.events(spark, dir),
        Seq(col("user_id"), col("event_id")),
        Seq("user_id", "event_type", "event_id"))
      .orderBy(col("column"))

  val q211Sql: String = {
    def prof(c: String) =
      s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS ndv,
         |  CAST(1 + sum(CASE WHEN rn > 1 AND $c IS DISTINCT FROM prev
         |    THEN 1 ELSE 0 END) AS BIGINT) AS runs
         |FROM (SELECT $c, lag($c) OVER (ORDER BY user_id, event_id)
         |    AS prev, row_number() OVER (ORDER BY user_id, event_id)
         |    AS rn FROM events) t""".stripMargin
    val cols = Seq("event_id", "event_type", "user_id")
    val profiles = cols.map(prof).mkString(
      "WITH p AS (\n", "\nUNION ALL\n", ")\n")
    profiles +
      """SELECT "column", n, ndv, runs,
        |  CASE WHEN n = 0 THEN 'EMPTY'
        |    WHEN runs * 4 <= n THEN 'RLE'
        |    WHEN ndv * 16 <= n THEN 'DICT'
        |    ELSE 'PLAIN' END AS advice
        |FROM p ORDER BY "column"""".stripMargin
  }

  /** q212 — INCREMENTAL count-min ingest: four simulated micro-batches
    * each build their own CMS ([[graft.ops.CountMin.build]] — a
    * monoid), the partial sketches merge by cell addition, and the
    * merged table must equal the one-shot sketch — which is exactly
    * what the oracle computes. The streaming-ingest contract for
    * sketches: ingest cost is O(batch), the stored summary never needs
    * the raw history. */
  def q212IncrementalCms(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val parts = (0 until 4).map(b =>
      CountMin.build(ev.filter(expr(s"event_id % 4 = $b")),
        col("user_id"), depth = 4, width = 64))
    parts.reduce((x, y) => x.unionAll(y))
      .groupBy(col("d"), col("bucket"))
      .agg(sum(col("n")).as("n"))
      .orderBy(col("d"), col("bucket"))
  }

  val q212Sql: String =
    """WITH h(d, a, b) AS (VALUES
      |  (0, 100000000000000003, 10000000000000061),
      |  (1, 300000000000000011, 50000000000000051),
      |  (2, 700000000000000033, 900000000000000059),
      |  (3, 1200000000000000011, 1500000000000000041))
      |SELECT d, CAST((((CAST(user_id AS HUGEINT) * a + b)
      |    % 2305843009213693951 + 2305843009213693951)
      |    % 2305843009213693951) % 64 AS BIGINT) AS bucket,
      |  count(*) AS n
      |FROM events CROSS JOIN h
      |GROUP BY 1, 2
      |ORDER BY d, bucket""".stripMargin

  /** q213 — block RANGE-SUM INDEX ([[graft.ops.RangeSumIndex]]): the
    * materialized aggregate tile — interior blocks answered from the
    * index (metadata), only the ≤ 2 edge blocks per range touch rows.
    * Five event-id ranges probed; the oracle computes each range
    * directly from the data, so the gate proves the decomposition. */
  def q213RangeSumIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"))
    val idx = graft.ops.RangeSumIndex.build(ev, col("event_id"),
      col("user_id"), blockWidth = 100L)
    val ranges = Seq(
      (1L, 0L, 999L), (2L, 150L, 2049L), (3L, 777L, 777L),
      (4L, 300L, 399L), (5L, 12L, 8888L))
      .toDF("id", "lo", "hi")
    graft.ops.RangeSumIndex.probe(ranges, idx, ev, col("event_id"),
        col("user_id"), blockWidth = 100L)
      .orderBy(col("id"))
  }

  /** q215 — IN-LIST zone pruning on the bloomed layout: `source IN
    * ('src0','src2')` prunes every zone where NO member may be present
    * (per-member stats/bloom disjunction — the EqualTo logic folded
    * over the list). IN-lists are the second most common pruning shape
    * BI tools emit after equality; rows still re-checked post-scan. */
  def q215InListPruning(spark: SparkSession, dir: String): DataFrame = {
    val path = bloomZonedPath(spark, dir)
    spark.read.format("graft.sources.ZonedSource").load(path)
      .filter(col("source").isin("src0", "src2"))
      .orderBy(col("doc_id"))
  }

  val q215Sql: String =
    """SELECT doc_id, text, lang, source, n_chars
      |FROM documents
      |WHERE source IN ('src0', 'src2')
      |ORDER BY doc_id""".stripMargin

  /** q214 — LEFT-OUTER join elimination under a UNIQUE-only declaration
    * ([[graft.plans.PkFkJoinElimination]], the weaker sibling of q200's
    * inner-join case): a left join against a unique key emits exactly
    * one row per left row whether it matches or not, so when nothing
    * above reads the right side the join vanishes — no referential
    * integrity, no non-null assumption, just uniqueness. BI tools emit
    * this shape for every optional dimension. Oracle keeps the join. */
  def q214LeftJoinElim(spark: SparkSession, dir: String): DataFrame = {
    ConstraintCatalog.declareUnique("c_custkey")
    PkFkJoinElimination.install(spark)
    val o = Tables.orders(spark, dir)
    val c = spark.read.parquet(s"$dir/customer.parquet")
    o.join(c, o("o_custkey") === c("c_custkey"), "left_outer")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"))
      .orderBy(col("o_orderpriority"))
  }

  val q214Sql: String =
    """SELECT o_orderpriority,
      |  count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS total_price
      |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // the zoned REGION dim for the DSv2 join-elim gate — the
  // tiny-dimension-as-stored-table shape BI stacks put behind every star
  // join — stored once per session and region snapshot
  // ([[graft.Artifacts]])
  private def zonedRegionPath(spark: SparkSession, dir: String): String =
    Artifacts.stored(spark, "zoned-region",
        Seq(Tables.path(dir, "region"))) { tmp =>
      // long/string layout contract: key cast at WRITE time so the
      // stored pk attribute joins bare (a Cast in the join condition
      // would rightly veto the rewrite)
      graft.sources.ZonedCorpus.write(
        Tables.region(spark, dir).select(
          col("r_regionkey").cast("long").as("r_regionkey"),
          col("r_name")), tmp,
        expr("r_regionkey DIV 2"), Seq("r_regionkey"))
      tmp
    }

  /** q216 — PK-FK join elimination over a DSv2 (ZonedSource) dimension
    * ([[graft.plans.PkFkJoinElimination]] extended past its round-9
    * all-DSv2 veto): the planned ZonedScan exposes its pushed-filter
    * list through [[graft.sources.GraftScanIntrospection]], an EMPTY
    * list plus the IsNotNull-only residual admits the leaf, and the
    * declared RI is TABLE-BOUND to the zoned layout's root path — a
    * same-named column on any other table no longer qualifies (the
    * round-9 soundness advice). nation ⋈ zoned(region) reads nothing
    * from region ⇒ the optimized plan scans ONLY nation; the oracle
    * keeps the join. JoinElimSpec re-pins the veto shapes (filtered
    * zoned scan, binding mismatch, opaque v2 scan). */
  def q216JoinElimZoned(spark: SparkSession, dir: String): DataFrame = {
    val zpath = zonedRegionPath(spark, dir)
    ConstraintCatalog.declareRi("n_regionkey", "r_regionkey",
      pkTableTag = zpath)
    PkFkJoinElimination.install(spark)
    val n = Tables.nation(spark, dir)
      .withColumn("n_regionkey", col("n_regionkey").cast("long"))
    val r = spark.read.format("graft.sources.ZonedSource").load(zpath)
    n.join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_nations"),
        max(length(col("n_name"))).cast("long").as("max_name_len"))
      .orderBy(col("n_regionkey"))
  }

  val q216Sql: String =
    """SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
      |  count(*) AS n_nations,
      |  CAST(max(length(n_name)) AS BIGINT) AS max_name_len
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY n_regionkey
      |ORDER BY n_regionkey""".stripMargin

  /** q217 — HIGH-CARDINALITY disjunctive join (q05's shape where the
    * rewrite's advantage is MEASURABLE): q05's nation-key disjunct
    * makes the RESULT quadratic by declared semantics, so at 10× data
    * its scaling row only shows output growth. Here both disjuncts are
    * selective — same entity key OR same account balance in cents
    * (~1.1M-value domain) — so output stays near-linear and the scaling
    * row isolates the JOIN work. Since round 11 the query states the
    * raw OR and [[graft.plans.DisjunctiveJoinRewrite]] plans it as the
    * compensated union of hash equi-joins — never the
    * BroadcastNestedLoopJoin Spark plans for a raw OR. */
  def q217DisjunctHighCard(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir).select(col("s_suppkey"),
      round(col("s_acctbal") * 100).cast("long").as("s_cents"))
    val c = Tables.customer(spark, dir).select(col("c_custkey"),
      round(col("c_acctbal") * 100).cast("long").as("c_cents"))
    s.join(c, col("s_suppkey") === col("c_custkey") ||
        col("s_cents") === col("c_cents"))
      .select(col("s_suppkey"), col("c_custkey"))
      .dropDuplicates("s_suppkey", "c_custkey")
      .orderBy(col("s_suppkey"), col("c_custkey"))
  }

  val q217Sql: String =
    """SELECT DISTINCT s_suppkey, c_custkey
      |FROM supplier JOIN customer
      |  ON s_suppkey = c_custkey
      |  OR CAST(round(s_acctbal * 100) AS BIGINT)
      |    = CAST(round(c_acctbal * 100) AS BIGINT)
      |ORDER BY s_suppkey, c_custkey""".stripMargin

  /** q218 — GROUPED range-sum index
    * ([[graft.ops.RangeSumIndex.buildGrouped]]/probeGrouped): q213's
    * block decomposition with a group key riding every join — 25 ranges
    * (5 id windows × 5 event types) answered in ONE pass against the
    * per-type index, interior blocks from metadata, ≤ 2 edge blocks per
    * (range, group) from data. The per-key/windowed analytics shape
    * ("per event type, value sums over k id windows"). */
  def q218GroupedRangeSum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val idx = graft.ops.RangeSumIndex.buildGrouped(ev, col("event_type"),
      col("event_id"), col("user_id"), blockWidth = 100L)
    val types = Seq("click", "error", "purchase", "signup", "view")
    val windows =
      Seq((0L, 999L), (150L, 2049L), (777L, 777L), (300L, 399L),
        (12L, 8888L))
    val ranges = (for {
      (t, ti) <- types.zipWithIndex
      ((lo, hi), wi) <- windows.zipWithIndex
    } yield ((ti * windows.size + wi + 1).toLong, t, lo, hi))
      .toDF("id", "g", "lo", "hi")
    graft.ops.RangeSumIndex.probeGrouped(ranges, idx, ev,
        col("event_type"), col("event_id"), col("user_id"),
        blockWidth = 100L)
      .orderBy(col("id"))
  }

  val q218Sql: String = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val windows =
      Seq((0L, 999L), (150L, 2049L), (777L, 777L), (300L, 399L),
        (12L, 8888L))
    val values = (for {
      (t, ti) <- types.zipWithIndex
      ((lo, hi), wi) <- windows.zipWithIndex
    } yield s"(${ti * windows.size + wi + 1}, '$t', $lo, $hi)")
      .mkString(",\n  ")
    s"""WITH r(id, g, lo, hi) AS (VALUES
      |  $values)
      |SELECT CAST(id AS BIGINT) AS id, g, CAST(lo AS BIGINT) AS lo,
      |  CAST(hi AS BIGINT) AS hi,
      |  CAST(COALESCE(sum(CASE WHEN event_type = g
      |    AND event_id >= lo AND event_id <= hi THEN user_id END), 0)
      |    AS BIGINT) AS range_sum,
      |  CAST(COALESCE(sum(CASE WHEN event_type = g
      |    AND event_id >= lo AND event_id <= hi THEN 1 END), 0)
      |    AS BIGINT) AS range_n
      |FROM r CROSS JOIN events
      |GROUP BY id, g, lo, hi
      |ORDER BY id""".stripMargin
  }

  /** q219 — THREE-disjunct OR-join through
    * [[graft.plans.DisjunctiveJoinRewrite]]: entity key OR balance
    * cents OR the 9-digit name suffix. The suffix disjunct duplicates
    * the key disjunct EXACTLY (both names zero-pad the key to 9
    * digits), so the rule's complement compensation is load-bearing —
    * branch 3 must emit zero rows or the bag double-counts; the oracle
    * states the raw 3-way OR. Also the k>2 gate for the rewrite's
    * n-ary guard chain (¬d1 ∧ ¬d2 on the last branch). */
  def q219TripleDisjunct(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir).select(col("s_suppkey"),
      round(col("s_acctbal") * 100).cast("long").as("s_cents"),
      expr("right(s_name, 9)").as("s_sfx"))
    val c = Tables.customer(spark, dir).select(col("c_custkey"),
      round(col("c_acctbal") * 100).cast("long").as("c_cents"),
      expr("right(c_name, 9)").as("c_sfx"))
    s.join(c, col("s_suppkey") === col("c_custkey") ||
        col("s_cents") === col("c_cents") ||
        col("s_sfx") === col("c_sfx"))
      .groupBy(col("s_suppkey"))
      .agg(count(lit(1)).as("n_matches"),
        min(col("c_custkey")).as("min_cust"),
        max(col("c_custkey")).as("max_cust"))
      .orderBy(col("s_suppkey"))
  }

  val q219Sql: String =
    """SELECT s_suppkey, count(*) AS n_matches,
      |  min(c_custkey) AS min_cust, max(c_custkey) AS max_cust
      |FROM supplier JOIN customer
      |  ON s_suppkey = c_custkey
      |  OR CAST(round(s_acctbal * 100) AS BIGINT)
      |    = CAST(round(c_acctbal * 100) AS BIGINT)
      |  OR right(s_name, 9) = right(c_name, 9)
      |GROUP BY s_suppkey
      |ORDER BY s_suppkey""".stripMargin

  /** q221 — And-around-Or disjunctive join WITHOUT a top-level hash key
    * (the round-12 arm of [[graft.plans.DisjunctiveJoinRewrite]]): the
    * shape a cross-side filter produces after predicate pushdown merges
    * it into the join condition — `ON (key OR cents) WHERE s_acctbal >
    * c_acctbal`. Neither conjunct of the And is a cross-side equality,
    * so pre-round-12 Spark (and the rule's pure-Or form) planned the
    * whole thing as a BroadcastNestedLoopJoin; now the disjunction
    * branches into hash joins and the range conjunct rides every branch
    * as a residual. The oracle states the raw ON + WHERE. */
  def q221DisjunctFiltered(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir).select(col("s_suppkey"),
      col("s_acctbal"),
      round(col("s_acctbal") * 100).cast("long").as("s_cents"))
    val c = Tables.customer(spark, dir).select(col("c_custkey"),
      col("c_acctbal"),
      round(col("c_acctbal") * 100).cast("long").as("c_cents"))
    s.join(c, (col("s_suppkey") === col("c_custkey") ||
        col("s_cents") === col("c_cents")) &&
        col("s_acctbal") > col("c_acctbal"))
      .groupBy(col("s_suppkey"))
      .agg(count(lit(1)).as("n_matches"),
        min(col("c_custkey")).as("min_cust"),
        max(col("c_custkey")).as("max_cust"))
      .orderBy(col("s_suppkey"))
  }

  val q221Sql: String =
    """SELECT s_suppkey, count(*) AS n_matches,
      |  min(c_custkey) AS min_cust, max(c_custkey) AS max_cust
      |FROM supplier JOIN customer
      |  ON (s_suppkey = c_custkey
      |    OR CAST(round(s_acctbal * 100) AS BIGINT)
      |      = CAST(round(c_acctbal * 100) AS BIGINT))
      |WHERE s_acctbal > c_acctbal
      |GROUP BY s_suppkey
      |ORDER BY s_suppkey""".stripMargin

  /** q224 — EXISTS with OR'd keys (the LEFT-SEMI arm of
    * [[graft.plans.DisjunctiveJoinRewrite]], round 13): suppliers with
    * a customer sharing either the key or the exact cents balance —
    * `EXISTS (… k OR cents …)`. A semi join on a pure disjunction plans
    * as a BroadcastNestedLoopJoin (the inner-join union compensation
    * does not transfer: one left row can match different right rows in
    * different branches); the rule's first-matching-disjunct routing
    * turns it into Semi(d1) ∪ (Anti(d1) → Semi(d2)) — three hash joins,
    * each left row owned by its first matching disjunct. Oracle states
    * the raw EXISTS. */
  def q224ExistsDisjunct(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir).select(col("s_suppkey"),
      col("s_name"),
      round(col("s_acctbal") * 100).cast("long").as("s_cents"))
    // only every-3rd customer participates — non-trivial selectivity on
    // BOTH disjuncts (suppkey∉3ℤ suppliers must hit the cents key)
    val c = Tables.customer(spark, dir)
      .filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey"),
        round(col("c_acctbal") * 100).cast("long").as("c_cents"))
    s.join(c, col("s_suppkey") === col("c_custkey") ||
        col("s_cents") === col("c_cents"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_suppkey"))
  }

  val q224Sql: String =
    """SELECT s_suppkey, s_name FROM supplier s
      |WHERE EXISTS (
      |  SELECT 1 FROM customer c
      |  WHERE c.c_custkey % 3 = 0
      |    AND (s.s_suppkey = c.c_custkey
      |      OR CAST(round(s.s_acctbal * 100) AS BIGINT)
      |        = CAST(round(c.c_acctbal * 100) AS BIGINT)))
      |ORDER BY s_suppkey""".stripMargin

  /** q225 — NOT EXISTS with OR'd keys (the LEFT-ANTI arm, the
    * reference's F7 NOT-IN cousin — trends.go:321-327's deleted-
    * publisher anti join generalized to a disjunctive key): suppliers
    * with NO customer sharing key or cents. ¬∃r:(d1∨d2) ⟺ ¬∃d1 ∧ ¬∃d2,
    * so the rule chains two hash anti joins — no union, no guards,
    * no nested loop. */
  def q225NotExistsDisjunct(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir).select(col("s_suppkey"),
      col("s_name"),
      round(col("s_acctbal") * 100).cast("long").as("s_cents"))
    val c = Tables.customer(spark, dir)
      .filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey"),
        round(col("c_acctbal") * 100).cast("long").as("c_cents"))
    s.join(c, col("s_suppkey") === col("c_custkey") ||
        col("s_cents") === col("c_cents"), "left_anti")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_suppkey"))
  }

  val q225Sql: String =
    """SELECT s_suppkey, s_name FROM supplier s
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM customer c
      |  WHERE c.c_custkey % 3 = 0
      |    AND (s.s_suppkey = c.c_custkey
      |      OR CAST(round(s.s_acctbal * 100) AS BIGINT)
      |        = CAST(round(c.c_acctbal * 100) AS BIGINT)))
      |ORDER BY s_suppkey""".stripMargin

  /** q226 — LEFT OUTER join with OR'd keys (the LEFT-OUTER arm of
    * [[graft.plans.DisjunctiveJoinRewrite]], round 13 second pass):
    * every supplier with its disjunct-matched customers OR a null pad —
    * the enrichment shape `LEFT JOIN dim ON (k1 OR k2)` a user writes
    * when a row must survive even if no key matches. Pre-rewrite this
    * plans as a BroadcastNestedLoopJoin; the rule emits the inner
    * compensated union for matched pairs plus a null-padded anti-chain
    * for the unmatched remainder — all hash joins. count(c_custkey)
    * (not count(*)) makes the null pads visible as n_matches = 0.
    * Oracle states the raw LEFT JOIN. */
  def q226LeftOuterDisjunct(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir).select(col("s_suppkey"),
      round(col("s_acctbal") * 100).cast("long").as("s_cents"))
    val c = Tables.customer(spark, dir)
      .filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey"),
        round(col("c_acctbal") * 100).cast("long").as("c_cents"))
    s.join(c, col("s_suppkey") === col("c_custkey") ||
        col("s_cents") === col("c_cents"), "left_outer")
      .groupBy(col("s_suppkey"))
      .agg(count(col("c_custkey")).as("n_matches"),
        min(col("c_custkey")).as("min_cust"),
        max(col("c_custkey")).as("max_cust"))
      .orderBy(col("s_suppkey"))
  }

  val q226Sql: String =
    """SELECT s_suppkey, count(c_custkey) AS n_matches,
      |  min(c_custkey) AS min_cust, max(c_custkey) AS max_cust
      |FROM supplier s LEFT JOIN
      |  (SELECT c_custkey, c_acctbal FROM customer
      |   WHERE c_custkey % 3 = 0) c
      |  ON s.s_suppkey = c.c_custkey
      |  OR CAST(round(s.s_acctbal * 100) AS BIGINT)
      |    = CAST(round(c.c_acctbal * 100) AS BIGINT)
      |GROUP BY s_suppkey
      |ORDER BY s_suppkey""".stripMargin

  /** q227 — FULL OUTER join with OR'd keys (the FULL-OUTER arm of
    * [[graft.plans.DisjunctiveJoinRewrite]]): the reconciliation shape
    * `FULL JOIN other ON (k1 OR k2)` — every supplier AND every
    * candidate customer survives, matched or not. The rule emits the
    * inner compensated union plus BOTH null-padded anti-chain
    * remainders (left, and the mirrored right chain — Spark has no
    * right-anti type, so the chain runs sides-swapped). Grouping on
    * `coalesce(s_suppkey, -1)` makes both remainders visible: group −1
    * collects the right-only customers, n_matched = 0 marks the
    * left-only suppliers. Oracle states the raw FULL JOIN. */
  def q227FullOuterDisjunct(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir).select(col("s_suppkey"),
      round(col("s_acctbal") * 100).cast("long").as("s_cents"))
    val c = Tables.customer(spark, dir)
      .filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey"),
        round(col("c_acctbal") * 100).cast("long").as("c_cents"))
    s.join(c, col("s_suppkey") === col("c_custkey") ||
        col("s_cents") === col("c_cents"), "full_outer")
      .groupBy(coalesce(col("s_suppkey"), lit(-1L)).as("grp"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("c_custkey")).as("n_matched"),
        min(col("c_custkey")).as("min_cust"),
        max(col("c_custkey")).as("max_cust"))
      .orderBy(col("grp"))
  }

  val q227Sql: String =
    """SELECT COALESCE(s_suppkey, -1) AS grp, count(*) AS n_rows,
      |  count(c_custkey) AS n_matched,
      |  min(c_custkey) AS min_cust, max(c_custkey) AS max_cust
      |FROM supplier s FULL JOIN
      |  (SELECT c_custkey, c_acctbal FROM customer
      |   WHERE c_custkey % 3 = 0) c
      |  ON s.s_suppkey = c.c_custkey
      |  OR CAST(round(s.s_acctbal * 100) AS BIGINT)
      |    = CAST(round(c.c_acctbal * 100) AS BIGINT)
      |GROUP BY 1
      |ORDER BY grp""".stripMargin

  /** q220 — advisor-driven SALTED JOIN on a genuinely skewed key
    * ([[graft.ops.Skew.advisedJoin]]): the join topology where salting
    * actually changes wall time (Skew's own scale note — GROUP-BY skew
    * is largely defused by map-side partials, a hot JOIN key's probe
    * work serializes onto one reducer with no partial aggregation to
    * save it). The left side derives a hot key — every even event_id
    * collapses onto user 0, so key 0 carries ~50% of the table while
    * the other ~ndv keys stay at the mean — and joins the per-user
    * profile (fan-out 1, output linear). [[graft.ops.Skew.skewAdvisor]]
    * flags exactly key 0 (freq·ndv ≈ n/2·ndv ≫ 4n at every SF, while a
    * tolerable key's freq·ndv ≈ n/2) and assigns its own bucket count;
    * tolerable keys ride salt 0 with a single right-side copy. The result is provably the plain join (salt assignment never
    * reaches the output), which is the oracle. Scale evidence lives in
    * the round-11 probe: at sf1wh with broadcast disabled (the regime a
    * too-big-to-broadcast right side forces at 100 TB) the advised plan
    * is measured against the unsalted shuffle join. */
  def q220AdvisedJoinSkew(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val left = ev.select(col("event_type"), col("value"),
      when(col("event_id") % 2 === 0, lit(0L)).otherwise(col("user_id"))
        .as("skew_uid"))
    val profile = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("user_events"))
    graft.ops.Skew.advisedJoin(left, profile, "skew_uid", "user_id",
        hotFactor = 4L)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("user_events")).as("sum_user_events"),
        sum(col("value").cast("decimal(18,2)")).as("sum_value"))
      .withColumn("sum_value", col("sum_value").cast("double"))
      .orderBy(col("event_type"))
  }

  val q220Sql: String =
    """WITH l AS (
      |  SELECT event_type, value,
      |    CASE WHEN event_id % 2 = 0 THEN 0 ELSE user_id END AS skew_uid
      |  FROM events),
      |p AS (
      |  SELECT user_id, count(*) AS user_events FROM events
      |  GROUP BY user_id)
      |SELECT l.event_type, count(*) AS n,
      |  CAST(sum(p.user_events) AS BIGINT) AS sum_user_events,
      |  CAST(sum(CAST(l.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM l JOIN p ON l.skew_uid = p.user_id
      |GROUP BY l.event_type
      |ORDER BY l.event_type""".stripMargin

  val q213Sql: String =
    """WITH r(id, lo, hi) AS (VALUES
      |  (1, 0, 999), (2, 150, 2049), (3, 777, 777),
      |  (4, 300, 399), (5, 12, 8888))
      |SELECT CAST(id AS BIGINT) AS id, CAST(lo AS BIGINT) AS lo,
      |  CAST(hi AS BIGINT) AS hi,
      |  CAST(COALESCE(sum(CASE WHEN event_id >= lo AND event_id <= hi
      |    THEN user_id END), 0) AS BIGINT) AS range_sum,
      |  CAST(COALESCE(sum(CASE WHEN event_id >= lo AND event_id <= hi
      |    THEN 1 END), 0) AS BIGINT) AS range_n
      |FROM r CROSS JOIN events
      |GROUP BY id, lo, hi
      |ORDER BY id""".stripMargin
}
