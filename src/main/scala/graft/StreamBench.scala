package graft

import java.nio.file.Files
import java.sql.DriverManager

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{EventStreams, IngestPipeline}

/**
 * Streaming throughput/latency benchmark — the performance evidence for
 * the streaming tier, whose semantics the specs lock but whose bench
 * numbers were previously batch twins only. Two tiers, each driven by
 * real Structured Streaming micro-batches over MemoryStream (the driver
 * feeds the stream — a bench-harness stand-in for the network source;
 * per-batch work is still full cluster-side micro-batch execution):
 *
 *  1. `jdbc_upsert` — the sf events table streamed through the
 *     watermarked daily-counts aggregation into the staged-key JDBC
 *     upsert (embedded Derby), the reference's DB-to-DB lifecycle as a
 *     stream. Reports per-batch wall and end-to-end input rows/s.
 *  2. `ingest` — the sf documents table streamed through the full
 *     dedup-ingest pipeline (batch-internal LSH pairs, stored-index
 *     probe, contamination check, survivor + index-slice writes), after
 *     a corpus bootstrap. The per-batch cost is the O(batch) claim
 *     measured; each trigger's progress phases (`addBatch`,
 *     `queryPlanning`, `walCommit` and the whole trigger) are recorded
 *     next to its wall time, so a slow batch can be attributed.
 *
 * Methodology mirrors graft.Bench where it applies: wall times around
 * `processAllAvailable()` per injected batch (this is ingestion LATENCY,
 * so no min-of-passes — every batch is reported, first-batch warmup
 * visible), one JSON line at the end, artifact rewritten after each tier
 * (kill-safe partial).
 */
object StreamBench {

  /** `perBatchMs`: each trigger's progress phases in milliseconds
    * ([[Phases]]), when the tier records them. */
  final case class Tier(batches: Int, rows: Long, totalSec: Double,
                        perBatchSec: Seq[Double],
                        perBatchMs: Seq[Map[String, Long]] = Nil) {
    def json: String =
      f"""{"batches":$batches,"rows":$rows,"total_sec":$totalSec%.3f,""" +
        f""""rows_per_sec":${rows / math.max(totalSec, 1e-9)}%.1f,""" +
        s""""per_batch_sec":[${perBatchSec.map(t => f"$t%.3f").mkString(",")}]""" +
        (if (perBatchMs.isEmpty) "" else
          s""","per_batch_progress_ms":[${perBatchMs.map(m =>
            m.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
            .mkString(",")}]""") + "}"
  }

  /** The `durationMs` phases of a trigger a tier records. */
  private val Phases: Seq[String] =
    Seq("triggerExecution", "addBatch", "queryPlanning", "walCommit")

  /** The [[Phases]] of the trigger that ran batch `batchId` of `q`. A
    * trigger's progress is published just after its commit, so this
    * waits for it, up to 5 s; a phase the trigger did not report reads
    * 0, and a trigger whose progress never arrived reads as no phases. */
  private def triggerPhases(q: StreamingQuery, batchId: Long): Map[String, Long] = {
    val until = System.nanoTime() + 5000000000L
    def progress = q.recentProgress
      .find(p => p.batchId == batchId && p.durationMs.containsKey("addBatch"))
    var found = progress
    while (found.isEmpty && System.nanoTime() < until) {
      Thread.sleep(2)
      found = progress
    }
    found.fold(Map.empty[String, Long])(p => ListMap(Phases.map(k =>
      k -> p.durationMs.getOrDefault(k, 0L).longValue): _*))
  }

  def resultsJson(tiers: Seq[(String, Tier)], sfDir: String,
                  partial: Boolean): String =
    s"""{"metric":"stream_bench","sf":"$sfDir","partial":$partial,""" +
      s""""tiers":{${tiers.map { case (n, t) => s""""$n":${t.json}""" }
        .mkString(",")}}}"""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_STREAM_BENCH_OUT",
      "stream_bench_out.json")
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "5").toInt
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // checkpoints and the ingest store, deleted when main exits
    val tempDirs = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    def tempDir(prefix: String): String = {
      val d = Files.createTempDirectory(prefix)
      tempDirs += d
      d.toString
    }
    try run(spark, sfDir, out, nBatches, tempDir)
    finally {
      spark.stop()
      tempDirs.foreach(Artifacts.deleteRecursively)
    }
  }

  private def run(spark: SparkSession, sfDir: String, out: String,
                  nBatches: Int, tempDir: String => String): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tiers = scala.collection.mutable.ArrayBuffer.empty[(String, Tier)]
    def flush(partial: Boolean): Unit =
      Bench.flush(out, resultsJson(tiers.toSeq, sfDir, partial))
    flush(partial = true)

    // ---- tier 1: daily counts → staged-key JDBC upsert (Derby) --------
    {
      val url = "jdbc:derby:memory:graft_streambench;create=true"
      val conn = DriverManager.getConnection(url)
      val st = conn.createStatement()
      st.executeUpdate(
        """CREATE TABLE daily_counts (
          |  day DATE, event_type VARCHAR(32),
          |  n_events BIGINT, total_value DOUBLE)""".stripMargin)
      st.close(); conn.close()
      val events = Tables.events(spark, sfDir)
        .orderBy(col("event_id"))
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .as[EventStreams.Event].collect()
      val chunks = events.grouped(
        math.max(1, events.length / nBatches)).toSeq
      val input = MemoryStream[EventStreams.Event]
      val cp = tempDir("streambench-jdbc-cp")
      val q = EventStreams.writeDailyUpsertJdbc(
        EventStreams.dailyCounts(input.toDF(), lateness = "1 hour"),
        url, "daily_counts", cp)
      val times = try chunks.map { c =>
        val t0 = System.nanoTime()
        input.addData(c.toSeq)
        q.processAllAvailable()
        (System.nanoTime() - t0) / 1e9
      } finally q.stop()
      tiers += "jdbc_upsert" -> Tier(chunks.length, events.length.toLong,
        times.sum, times)
      System.err.println(s"[stream-bench] jdbc_upsert ${tiers.last._2.json}")
      flush(partial = true)
    }

    // ---- tier 2: dedup ingest pipeline --------------------------------
    {
      val root = tempDir("streambench-ingest")
      val storeDir = s"$root/store"
      val docs = Tables.documents(spark, sfDir)
        .orderBy(col("doc_id"))
        .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      // bootstrap: first half is the standing corpus; the stream carries
      // the second half in nBatches micro-batches
      val (corpus, stream) = docs.splitAt(docs.length / 2)
      IngestPipeline.writeIndexSlice(
        corpus.toSeq.toDF("doc_id", "text"), storeDir,
        IngestPipeline.CorpusBatchId)
      val protectedIdx = IngestPipeline.protectedIndex(
        corpus.toSeq.take(200).toDF("doc_id", "text"))
      val chunks = stream.grouped(
        math.max(1, stream.length / nBatches)).toSeq
      val input = MemoryStream[(Long, String)]
      val cp = tempDir("streambench-ingest-cp")
      val q = IngestPipeline.startIngest(
        input.toDF().toDF("doc_id", "text"), storeDir, protectedIdx, cp)
      // a fresh checkpoint: chunk i is batch i, whose progress phases
      // are read after its timed wall
      val (times, phases) = try chunks.zipWithIndex.map { case (c, i) =>
        val t0 = System.nanoTime()
        input.addData(c.toSeq)
        q.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        (sec, triggerPhases(q, i.toLong))
      }.unzip finally q.stop()
      tiers += "ingest" -> Tier(chunks.length, stream.length.toLong,
        times.sum, times, phases)
      System.err.println(s"[stream-bench] ingest ${tiers.last._2.json}")
    }

    flush(partial = false)
    println(resultsJson(tiers.toSeq, sfDir, partial = false))
  }
}
