package graft.ops

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Artifacts, Tables}

/**
 * IVF-style bucketed ANN storage: the embeddings table written PARTITIONED
 * BY its axis-sign-LSH bucket, so a query probes a Hamming ball of buckets
 * through parquet PARTITION PRUNING — the scan touches only the probed
 * directories instead of the corpus (Similarity.scala's 100 TB story, now
 * implemented: the `PartitionFilters: [sign_bucket IN (…)]` line in the
 * plan is asserted by BucketedAnnSpec).
 *
 * At cluster scale the index build is a one-off job (one shuffle-free pass
 * adding the bucket column + a partitioned write) and queries are
 * O(corpus / 2^nPlanes · |ball|) scans. Locally the index is cached under
 * java.io.tmpdir across processes, keyed by the source table's
 * [[graft.Artifacts.fingerprint]], so a changed source never serves a
 * stale index. Concurrent first builds race safely — each builds into a
 * private temp dir and the first atomic rename wins.
 */
object BucketedAnn {

  val NPlanes = 8
  val Dim = 64
  val Stride: Int = Dim / NPlanes

  /** Deterministic local cache path for a source dir's index. */
  def indexPath(dir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_ann_index_" +
      Artifacts.fingerprint(Tables.path(dir, "embeddings"))

  /** Build (once) a bucket-partitioned copy of `embeddings` at `path`,
    * bucketed by `bucket` (any plan-time sign-LSH expression). */
  private def buildIndex(spark: SparkSession, dir: String, path: String,
                         bucket: org.apache.spark.sql.Column): String = {
    if (!Files.exists(Paths.get(path, "_SUCCESS"))) {
      val tmp = s"$path.build-${ProcessHandle.current().pid()}-${System.nanoTime()}"
      Tables.embeddings(spark, dir)
        .withColumn("sign_bucket", bucket.cast("int"))
        // co-locate each bucket before the partitioned write: ONE file per
        // bucket directory instead of one per (task × bucket) — a probe
        // then opens |ball| files, not |ball| × writer-parallelism
        .repartition(col("sign_bucket"))
        .write.mode("overwrite")
        .partitionBy("sign_bucket")
        .parquet(tmp)
      try Files.move(Paths.get(tmp), Paths.get(path),
        StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileSystemException =>
        // a concurrent builder won the rename — use theirs, drop ours
        Artifacts.deleteRecursively(Paths.get(tmp))
      }
    }
    path
  }

  /** Build (once) the axis-sign bucket-partitioned copy of `embeddings`. */
  def ensureIndex(spark: SparkSession, dir: String): String =
    buildIndex(spark, dir, indexPath(dir),
      Similarity.axisSignBucket(col("embedding"), NPlanes, Stride))

  // --- seeded-rotation variant --------------------------------------------

  /** Default rotation seed — part of the index identity (path + probes). */
  val RotSeed = 20260813L

  /** Cache path of the ROTATED index: same content fingerprint, distinct
    * namespace per seed (a rotated and an axis index never alias). */
  def rotIndexPath(dir: String, seed: Long = RotSeed): String =
    s"${sys.props("java.io.tmpdir")}/graft_ann_rot_${seed}_" +
      Artifacts.fingerprint(Tables.path(dir, "embeddings"))

  /** Build (once) the seeded-rotation bucket-partitioned index — the
    * anisotropy-proof stored path: bucket bits mix every dimension through
    * the seeded projection (Similarity.seededPlanes), so skewed real-world
    * embeddings still spread across 2^NPlanes directories. */
  def ensureRotIndex(spark: SparkSession, dir: String,
                     seed: Long = RotSeed): String =
    buildIndex(spark, dir, rotIndexPath(dir, seed),
      Similarity.rotSignBucket(col("embedding"),
        Similarity.seededPlanes(seed, NPlanes, Dim)))

  /**
   * ANN top-k over the ROTATED bucketed index: identical result to
   * Similarity.rotLshTopK (same buckets, same exact re-rank) — but the
   * Hamming-ball probe is a partition-column IN-list over the stored
   * rotated buckets, so the scan prunes to the probed directories.
   */
  def rotAnnTopK(spark: SparkSession, dir: String, queryVec: Seq[Float],
                 k: Int, maxHamming: Int = 3,
                 seed: Long = RotSeed): DataFrame = {
    val planes = Similarity.seededPlanes(seed, NPlanes, Dim)
    val q = array(queryVec.map(v => lit(v.toDouble)): _*)
    val ball = Similarity.hammingBall(
      Similarity.rotSignBucketOf(queryVec, planes), NPlanes, maxHamming)
      .map(_.toInt)
    spark.read.parquet(ensureRotIndex(spark, dir, seed))
      .filter(col("sign_bucket").isin(ball: _*))
      .withColumn("cos_sim", Similarity.cosine(col("embedding"), q))
      .select(col("vec_id"), col("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** The DataFrame over the bucketed index (sign_bucket is a partition col). */
  def indexed(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(ensureIndex(spark, dir))

  /** The Hamming-ball probe set for a literal query vector. */
  private def probeBall(queryVec: Seq[Float], maxHamming: Int): Seq[Int] = {
    val qBucket = Similarity.axisSignBucketOf(queryVec, NPlanes, Stride)
    Similarity.hammingBall(qBucket, NPlanes, maxHamming).map(_.toInt)
  }

  /**
   * ANN top-k over the bucketed index: the Hamming-ball probe becomes a
   * partition-column IN-list, so Catalyst prunes the scan to the probed
   * directories. Result is identical to Similarity.axisLshTopK (same
   * buckets, same exact re-rank) — only the physical plan differs.
   */
  def annTopK(spark: SparkSession, dir: String, queryVec: Seq[Float], k: Int,
              maxHamming: Int = 3): DataFrame = {
    val q = array(queryVec.map(v => lit(v.toDouble)): _*)
    val ball = probeBall(queryVec, maxHamming)
    indexed(spark, dir)
      .filter(col("sign_bucket").isin(ball: _*))
      .withColumn("cos_sim", Similarity.cosine(col("embedding"), q))
      .select(col("vec_id"), col("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /**
   * Probe-cost diagnostics for [[annTopK]] — the observability a production
   * ANN needs to reason about its recall/cost tradeoff: how many buckets the
   * Hamming ball expands to and how many candidate rows the pruned scan
   * actually feeds the exact re-rank.
   */
  def annProbeStats(spark: SparkSession, dir: String, queryVec: Seq[Float],
                    maxHamming: Int = 3): DataFrame = {
    val ball = probeBall(queryVec, maxHamming)
    indexed(spark, dir)
      .filter(col("sign_bucket").isin(ball: _*))
      .agg(count(lit(1)).as("n_candidates"))
      .select(lit(ball.size).cast("long").as("n_buckets_probed"),
        col("n_candidates"))
  }
}
