package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Exact Spearman rank correlation with tie-averaged (fractional) ranks —
 * the distribution-free companion to [[Ols]]'s exact Pearson machinery:
 * how monotone is the relation between two columns, computed from
 * integer sufficient statistics only.
 *
 * Tie handling: the average rank of a value v is
 * `(2·|{x < v}| + |{x = v}| + 1) / 2` — kept ×2 in longs (`rank2`), so
 * ties never touch floating point. ρ is then Pearson over the rank2
 * pairs: five sums computed in DECIMAL(38,0) and PUBLISHED as BIGINT
 * (each ≤ 8·N³ — exact in a long up to N ≈ 10⁶ rows; past that,
 * publish the DECIMAL rendered as a STRING, the documented escape
 * hatch — raw decimal columns surface differently per engine: round 10
 * hash-missed on Spark Decimal objects vs DuckDB float64 for
 * numerically identical sums), then one final double division + sqrt,
 * QUANTIZED to 9 decimals. The rank2 cross-products in the rho
 * formula reach ~8·N⁴ > 2^53 well before N hits test scale, so the
 * exact→double cast is where engines can differ by an ulp (round 9:
 * DuckDB vs Spark hash miss on exactly this column) — the hashed
 * surface carries the exact sums and a 1e-9-granular rho, never a raw
 * IEEE quotient. Residual risk, disclosed: 9-decimal rounding is
 * engine-implemented, so a quotient within an ulp of a .5e-9 boundary
 * could still split; consumers needing bit-certainty re-derive rho
 * from the published exact sums.
 *
 * Spark shape — NO single-reducer rank window: per-variable value
 * counts (one hash agg, NDV-sized), then `|{x < v}|` from the
 * [[TwoPhaseScan.cumSums]] running count over the SORTED DISTINCT
 * VALUES (NDV rows, range-partitioned), joined back to the row frame.
 * The data is scanned once per variable + once for the final sums; all
 * rank arithmetic happens on NDV-scale frames.
 *
 * Exactness bound, disclosed: the rho cross-products (n·sxx, sx²) reach
 * ~8·N⁴, so the internal DECIMAL(38,0) holds them exactly up to
 * N ≈ 10⁹ rows; past that, publish the five sums (exact in DECIMAL to
 * ≤ 8·N³, as strings beyond BIGINT range) and finish the division in
 * the consumer's wide-integer arithmetic.
 */
object Spearman {

  /** rank2 (= 2 × tie-averaged rank) per distinct value of `v` in `df`:
    * frame of (value, rank2). */
  private def rank2ByValue(df: DataFrame, v: Column): DataFrame = {
    val counts = df.select(v.as("value")).groupBy(col("value"))
      .agg(count(lit(1)).as("cnt"))
    TwoPhaseScan.cumSums(counts, Seq(col("value")),
        Seq(("cnt", "__cum", "__tot")))
      // |{x < v}| = __cum − cnt, so 2·|{x < v}| + cnt + 1 = 2·__cum − cnt + 1
      .select(col("value"),
        (lit(2L) * col("__cum") - col("cnt") + 1L).as("rank2"))
  }

  /**
   * Spearman ρ between `x` and `y` (both orderable, non-null rows only
   * is the caller's contract): one row of exact sums
   * (n, sx, sy, sxx, syy, sxy — all over rank2) plus the double `rho`.
   */
  def correlate(df: DataFrame, x: Column, y: Column): DataFrame = {
    val d = "decimal(38,0)"
    val rows = df.select(x.as("xv"), y.as("yv"))
    val rx = rank2ByValue(rows, col("xv"))
      .withColumnRenamed("value", "xv").withColumnRenamed("rank2", "r1")
    val ry = rank2ByValue(rows, col("yv"))
      .withColumnRenamed("value", "yv").withColumnRenamed("rank2", "r2")
    val ranked = rows.join(rx, Seq("xv")).join(ry, Seq("yv"))
    val s = ranked.agg(
      count(lit(1)).as("n"),
      sum(col("r1").cast(d)).cast(d).as("sxd"),
      sum(col("r2").cast(d)).cast(d).as("syd"),
      sum((col("r1").cast(d) * col("r1").cast(d))).cast(d).as("sxxd"),
      sum((col("r2").cast(d) * col("r2").cast(d))).cast(d).as("syyd"),
      sum((col("r1").cast(d) * col("r2").cast(d))).cast(d).as("sxyd"))
    s.withColumn("rho",
        round((col("n").cast(d) * col("sxyd") - col("sxd") * col("syd"))
          .cast("double") /
          sqrt((col("n").cast(d) * col("sxxd") - col("sxd") * col("sxd"))
            .cast("double") *
            (col("n").cast(d) * col("syyd") - col("syd") * col("syd"))
              .cast("double")), 9))
      .select(col("n"),
        col("sxd").cast("long").as("sx"),
        col("syd").cast("long").as("sy"),
        col("sxxd").cast("long").as("sxx"),
        col("syyd").cast("long").as("syy"),
        col("sxyd").cast("long").as("sxy"),
        col("rho"))
  }
}
