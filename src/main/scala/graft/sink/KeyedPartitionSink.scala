package graft.sink

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/**
 * The reference's sink contract (trends.go:656-745), re-expressed as a
 * partitioned idempotent writer:
 *
 *  - Firebase node `highlights/{listId}/{date}/{statusType}/{statusId}` →
 *    parquet partitioned by (list_id, ingest_date, status_type), one row per
 *    statusId inside the partition;
 *  - the reference's pre-delete of the target node (S6, trends.go:656-662 —
 *    delete-then-insert = safe daily re-runs) → Spark dynamic partition
 *    overwrite: only partitions present in this batch are replaced, other
 *    days/lists/types survive — identical replay semantics;
 *  - the bounded 100-writer fan-out (R3, trends.go:664-679) → the write
 *    parallelism is partitions × executor cores; `maxWriteTasks` bounds it
 *    the way sizedwaitgroup bounded the goroutines.
 *
 * Unlike the reference's dry mode (which still pre-deletes the sink node —
 * EP3, trends.go:656-662 vs :731-735), `dryRun = true` here is truly
 * side-effect free: it prints the physical plan and writes nothing
 * (documented deviation).
 */
object KeyedPartitionSink {

  val partitionCols: Seq[String] = Seq("list_id", "ingest_date", "status_type")

  def write(docs: DataFrame, path: String,
            dryRun: Boolean = false,
            maxWriteTasks: Int = 100): Unit = {
    if (dryRun) {
      docs.explain("formatted")
      return
    }
    // coalesce never increases partition count, so this is a pure upper
    // bound on write tasks (≙ the reference's 100-goroutine cap, R3) and
    // doesn't force RDD lineage materialization the way probing
    // rdd.getNumPartitions would pre-AQE. The overwrite mode is a writer
    // option, so the session's setting is never touched.
    docs.coalesce(maxWriteTasks).write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /**
   * Assemble the 12-field sink document (trends.go:716-729) from the
   * 11-column result contract + partition keys; `result` carries each
   * row's pass in `status_type`. `twitter_id` is the id_str
   * decoded from the JSON doc (the reference keys the upsert on it —
   * trends.go:699); malformed docs yield NULL there and are skipped with a
   * counter, mirroring the reference's skip-not-fatal gate (trends.go:690-694).
   */
  def assembleDocs(result: DataFrame, listId: String,
                   ingestDate: String): DataFrame =
    result
      .withColumn("decoded_id",
        get_json_object(col("json"), "$.id_str"))
      .filter(get_json_object(col("json"), "$").isNotNull) // validity gate
      .select(
        col("id"),
        col("statusId").as("twitterId"),
        col("username"),
        col("tweet").as("text"),
        col("url"),
        col("json"),
        date_format(col("publicationDate"), "yyyy-MM-dd HH:mm:ss").as("publishedAt"),
        date_format(col("checkedAt"), "yyyy-MM-dd HH:mm:ss").as("checkedAt"),
        col("is_retweet").as("isRetweet"),
        col("decoded_id").as("twitter_id"),
        col("retweets").as("totalRetweets"),
        col("favorites").as("totalFavorites"),
        lit(listId).as("list_id"),
        lit(ingestDate).as("ingest_date"),
        col("status_type"))
}
