package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ops.CountMin
import graft.streaming.SketchStream

/** The streaming count-min ingest: stored sketch == one-shot sketch of
  * everything ever streamed, and a replayed batch never double-counts —
  * the monoid + versioned-store composition, driven through a REAL
  * MemoryStream + foreachBatch + checkpoint. */
class SketchStreamSpec extends SparkSpec {
  import spark.implicits._

  private def cells(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq

  test("stored sketch after N micro-batches == one-shot sketch of the " +
      "union; replay converges") {
    withTempDirs("graft-cms-store", "graft-cms-ckpt") { case Seq(store, checkpoint) =>
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[Long]
      val events = mem.toDF().toDF("user_id")

      val q = SketchStream.writeCmsCells(events, store, checkpoint,
        col("user_id"), depth = 4, width = 64)
      val batches = Seq(
        (0L until 500L).toSeq,
        (200L until 900L).map(_ * 7L),
        Seq.fill(300)(42L).map(identity))
      try {
        batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      } finally q.stop()

      val stored = SketchStream.readCells(spark, store).get
      val oneShot = CountMin.build(
        batches.flatten.toDF("user_id"), col("user_id"), 4, 64)
      assert(cells(stored) === cells(oneShot))

      // replay: re-running the LAST batch id with the same content (what
      // Structured Streaming does after a crash) recomputes its version
      // from the same parent — the store is unchanged
      val lastId = graft.streaming.PartialStore
        .latestVersion(store, conf =
          spark.sparkContext.hadoopConfiguration).get
      SketchStream.mergeCmsBatch(batches.last.toDF("user_id"), lastId,
        store, col("user_id"), 4, 64)
      assert(cells(SketchStream.readCells(spark, store).get)
        === cells(oneShot))

      // and the stored cells feed the standard probe path unchanged
      val est = CountMin.estimate(stored, Seq(42L).toDF("user_id"),
        col("user_id"), 4, 64).collect().head
      val trueN = batches.flatten.count(_ == 42L)
      assert(est.getLong(1) >= trueN.toLong)
    }
  }
}
