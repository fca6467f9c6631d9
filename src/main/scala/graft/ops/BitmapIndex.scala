package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Block bitmap index — the Roaring-bitmap/bitmap-index idea cut to its
 * distributable core: assign every row a dense GLOBAL position (the
 * [[GlobalIndex]] two-phase numbering — never a single-reducer window),
 * cut positions into 64-row blocks, and materialize one 64-bit word per
 * (predicate, block) with `bit_or` of `1 << (pos mod 64)`. Boolean
 * predicate algebra then runs on WORDS, not rows: `count(p AND q)` =
 * Σ popcount(word_p & word_q), `OR` likewise — ~64× less data than the
 * row stream, and the bitmap table is reusable across queries the way a
 * real bitmap index is.
 *
 * 100 TB shape: numbering is the standard two-phase scan (range shuffle
 * + per-partition offsets); the bitmap build is ONE hash
 * aggregation with map-side combine (bit_or is a monoid); the algebra
 * joins bitmaps block-on-block — both sides already hash-partitioned by
 * block, and any one predicate's bitmap is rows/64 words.
 *
 * Everything is exact integer bit arithmetic — no floats, no sketches —
 * so the DuckDB oracle can recompute counts DIRECTLY from the
 * predicates; the gate proves the whole index round trip (number → pack
 * → AND/OR → popcount) equals the truth.
 */
object BitmapIndex {

  /**
   * One bitmap per named predicate over the globally-numbered frame:
   * rows of (name, block, word). `indexed` must carry the dense 0-based
   * long `posCol` ([[GlobalIndex.withGlobalIndex]]).
   */
  def build(indexed: DataFrame, posCol: String,
            preds: Map[String, Column]): DataFrame = {
    require(preds.nonEmpty, "need at least one predicate")
    // pure bit ops (block = pos >> 6, bit = pos & 63): exact at any
    // position magnitude — no double-division rounding anywhere
    val pos = col(posCol)
    val withMask = indexed.withColumn("__mask",
      expr(s"shiftleft(1L, CAST($posCol & 63 AS INT))"))
    val parts = preds.toSeq.map { case (name, p) =>
      withMask.filter(p)
        .groupBy(shiftright(pos, 6).as("block"))
        .agg(expr("bit_or(__mask)").as("word"))
        .select(lit(name).as("name"), col("block"), col("word"))
    }
    parts.reduce((x, y) => x.unionAll(y))
  }

  /** Word-level AND/OR counts of two predicates' bitmaps: one row
    * (n_a, n_b, n_and, n_or). Missing blocks are all-zero words. */
  def algebra(bitmaps: DataFrame, a: String, b: String): DataFrame = {
    val wa = bitmaps.filter(col("name") === a)
      .select(col("block"), col("word").as("wa"))
    val wb = bitmaps.filter(col("name") === b)
      .select(col("block"), col("word").as("wb"))
    wa.join(wb, Seq("block"), "full_outer")
      .select(coalesce(col("wa"), lit(0L)).as("wa"),
        coalesce(col("wb"), lit(0L)).as("wb"))
      .agg(
        sum(bit_count(col("wa"))).cast("long").as("n_a"),
        sum(bit_count(col("wb"))).cast("long").as("n_b"),
        sum(bit_count(col("wa").bitwiseAND(col("wb")))).cast("long")
          .as("n_and"),
        sum(bit_count(col("wa").bitwiseOR(col("wb")))).cast("long")
          .as("n_or"))
  }
}
