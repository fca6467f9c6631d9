package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Artifacts, Tables}
import graft.ops.Dedup
import graft.sources.DeclaredParquet

/**
 * The STANDARD near-dup pair table (bigram MinHash-LSH, k=64/bands=16,
 * J ≥ 0.5, exact-verified — the q26 contract), stored once per session and
 * documents snapshot through [[graft.Artifacts]]: in a production corpus
 * warehouse the dedup pair table is a materialized artifact, which every
 * downstream report (clustering q43, degree census q92, provenance q126,
 * canonicalization q129, token accounting q133, reach census q138, …)
 * READS rather than recomputes. The first consumer in a session pays the
 * pair-engine run and a parquet write; the rest pay a scan of a
 * few-hundred-row table.
 *
 * q26 itself keeps calling the live engine — it gates the pair
 * computation; these consumers gate what's built ON the pairs, against
 * oracles that recompute the pairs brute-force from scratch, so a stale
 * or corrupted store breaks every consumer's hash.
 */
object PairStore {

  /** The standard pair table (id_a < id_b, exact jaccard). */
  def nearDupPairs(spark: SparkSession, dir: String): DataFrame =
    DeclaredParquet.readInferred(spark, Artifacts.stored(spark, "pairs",
        Seq(Tables.path(dir, "documents"))) { out =>
      val pairs = Dedup.minhashLshPairs(Tables.documents(spark, dir),
        "doc_id", "text", n = 2, k = 64, bands = 16, threshold = 0.5)
      try pairs.write.mode("overwrite").parquet(out)
      finally pairs.unpersist(blocking = false)
      out
    })
}
