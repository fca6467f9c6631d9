package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.ops.{CountMin, Dedup}
import graft.streaming.{IngestPipeline, PartialStore, SketchStream}

/**
 * CHECKPOINT RECOVERY for the foreachBatch stores — the streaming face of
 * the reference's idempotent daily re-run (the whole job is built to be
 * killed and re-launched; /root/reference/trends.go:656-662 re-runs the
 * same day's write after any failure). Same-process replay-by-call is
 * specced elsewhere (SketchStreamSpec, IngestPipelineSpec); here the
 * crash is REAL as far as Structured Streaming is concerned: the
 * foreachBatch body completes its store write and then dies BEFORE the
 * checkpoint commit — the exact torn state a machine loss leaves behind
 * — and a NEW query restarted from the same checkpoint must replay that
 * batch against a store that already holds its version, converge
 * byte-stable with the one-shot result, and keep going.
 */
class StreamRecoverySpec extends SparkSpec {
  import spark.implicits._

  /** Run `body` per batch, crashing ONCE right after `body` succeeds for
    * batch `crashAt` — store written, checkpoint commit never reached. */
  private def startCrashing(df: DataFrame, checkpoint: String,
                            crashAt: Long, crashed: AtomicBoolean)
                           (body: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        body(batch, batchId)
        if (batchId == crashAt && crashed.compareAndSet(false, true))
          throw new RuntimeException("injected crash AFTER store write, " +
            "BEFORE checkpoint commit")
      }
      .start()

  private def awaitCrash(q: StreamingQuery): Unit = {
    intercept[Exception] { q.processAllAvailable() }
    // drain to the terminated state; awaitTermination rethrows the same
    // StreamingQueryException — the crash is the expected outcome here
    try q.awaitTermination() catch { case _: Exception => () }
    assert(q.exception.isDefined, "query must have died on the injected crash")
  }

  test("sketch store: kill after store write, restart from checkpoint — " +
      "replayed batch skips its committed version; store == one-shot") {
    withTempDirs("graft-rec-store", "graft-rec-ckpt") { case Seq(store, checkpoint) =>
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[Long]
      val events = mem.toDF().toDF("user_id")
      val crashed = new AtomicBoolean(false)
      def merge(batch: DataFrame, id: Long): Unit =
        SketchStream.mergeCmsBatch(batch, id, store, col("user_id"), 4, 64)

      val b0 = (0L until 400L).toSeq
      val b1 = (100L until 700L).map(_ * 3L)
      val b2 = Seq.fill(250)(7L)

      val q1 = startCrashing(events, checkpoint, crashAt = 1L, crashed)(merge)
      try {
        mem.addData(b0); q1.processAllAvailable()
        mem.addData(b1); awaitCrash(q1)
      } finally q1.stop()
      // the crash landed between store write and checkpoint commit:
      // version 1 is committed in the STORE but not in the CHECKPOINT
      assert(PartialStore.latestVersion(store,
        conf = spark.sparkContext.hadoopConfiguration).contains(1L))

      // restart: batch 1 replays (offset written, commit missing) against
      // the store's committed v1 — mergeBatch must skip, not double-count
      val q2 = startCrashing(events, checkpoint, crashAt = -1L, crashed)(merge)
      try {
        q2.processAllAvailable()
        mem.addData(b2); q2.processAllAvailable()
      } finally q2.stop()

      val stored = SketchStream.readCells(spark, store).get
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted
      val oneShot = CountMin.build((b0 ++ b1 ++ b2).toDF("user_id"),
          col("user_id"), 4, 64)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted
      assert(stored === oneShot.toSeq)
    }
  }

  test("ingest store: kill after survivor/index writes, restart — " +
      "replayed batch rewrites only its own partitions; survivors converge") {
    withTempDirs("graft-rec-ingest") { case Seq(tmp) =>
      implicit val sqlCtx = spark.sqlContext
      val storeDir = s"$tmp/store"
      val checkpoint = s"$tmp/chk"
      def text(fam: String) = (1 to 40).map(i => s"$fam$i").mkString(" ")

      IngestPipeline.writeIndexSlice(
        Seq((100L, text("ca"))).toDF("doc_id", "text"),
        storeDir, IngestPipeline.CorpusBatchId)
      val protIdx = Dedup.buildMinhashIndex(
        Seq((200L, text("pa"))).toDF("doc_id", "text"), "doc_id", "text", n = 2)

      val mem = MemoryStream[(Long, String)]
      val docs = mem.toDF().toDF("doc_id", "text")
      val crashed = new AtomicBoolean(false)
      def ingest(batch: DataFrame, id: Long): Unit =
        IngestPipeline.processBatch(batch, id, storeDir, protIdx)

      val q1 = startCrashing(docs, checkpoint, crashAt = 1L, crashed)(ingest)
      try {
        // batch 0: 1 dups corpus, (3,4) internal, 5 unique → survivors {3,5}
        mem.addData((1L, text("ca")), (3L, text("xa")), (4L, text("xa")),
          (5L, text("ua")))
        q1.processAllAvailable()
        // batch 1: 6 dups survivor 3, 7 unique → survivors {7}; the
        // survivor partition AND index slices for batch 1 hit disk, then
        // the query dies before the checkpoint commit
        mem.addData((6L, text("xa")), (7L, text("va")))
        awaitCrash(q1)
      } finally q1.stop()

      val q2 = startCrashing(docs, checkpoint, crashAt = -1L, crashed)(ingest)
      try {
        q2.processAllAvailable() // replays batch 1 over its own prior writes
        // batch 2: 8 dups survivor 7 (proves the replayed index slice is
        // visible exactly once), 9 unique → survivors {9}
        mem.addData((8L, text("va")), (9L, text("wa")))
        q2.processAllAvailable()
      } finally q2.stop()

      val survivors = IngestPipeline.readSurvivors(spark, storeDir)
        .selectExpr("CAST(ingest_batch AS BIGINT)", "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(survivors === Seq((0L, 3L), (0L, 5L), (1L, 7L), (2L, 9L)))
    }
  }
}
