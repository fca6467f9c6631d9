package graft.perfbench

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.Dedup
import graft.streaming.IngestPipeline

/**
 * `stream_ingest`: `IngestPipeline.startIngest` over a `MemoryStream`, as
 * in StreamBench's ingest tier. Each set-up repetition bootstraps a store
 * from the corpus half of `documents`; the one-off rest of set-up starts
 * the query on the last store and ingests a few warm-up micro-batches. Each
 * operation adds one micro-batch of the other half, in the seed's document
 * order, and waits for `processAllAvailable`.
 *
 * The output check recomputes the survivor set in batch: all verified
 * MinHash pairs over corpus and ingested documents in one
 * `Dedup.minhashLshPairs` call, then the pipeline's three drop rules
 * applied batch by batch on the driver.
 */
final class StreamIngest(spark: SparkSession, in: Main.Inputs) extends Workload {
  import spark.implicits._
  private implicit val sqlCtx: SQLContext = spark.sqlContext

  private val batchSize = in.int("batch_size")
  private val protectedCount = in.int("protected_docs")
  private val warmupBatches = in.int("warmup_batches")
  private val docs: Map[Long, String] = graft.Tables.documents(spark, in.data)
    .select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap
  private val corpus: Seq[(Long, String)] = in.longs("corpus").map(i => i -> docs(i))
  private val batches: Seq[Seq[(Long, String)]] =
    in.longs("stream").map(i => i -> docs(i)).grouped(batchSize).toSeq

  private var store = ""
  private var input: MemoryStream[(Long, String)] = _
  private var query: StreamingQuery = _
  private var nextBatch = 0
  private val ingested = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, String)]]

  private def protectedIdx =
    Dedup.buildMinhashIndex(corpus.take(protectedCount).toDF("doc_id", "text"), "doc_id", "text")

  def setup(rep: Int): Double = {
    store = s"${in.root}/store-$rep"
    val t0 = System.nanoTime()
    IngestPipeline.writeIndexSlice(corpus.toDF("doc_id", "text"), store,
      IngestPipeline.CorpusBatchId)
    (System.nanoTime() - t0) / 1e9
  }

  override def prepare(): Double = {
    input = MemoryStream[(Long, String)]
    query = IngestPipeline.startIngest(input.toDF().toDF("doc_id", "text"), store,
      protectedIdx, s"${in.root}/checkpoint")
    batches.take(warmupBatches).foreach { b =>
      input.addData(b)
      query.processAllAvailable()
      ingested += b
    }
    nextBatch = warmupBatches
    0.0
  }

  /** A trigger's progress is published just after its commit; a traced
    * operation waits for it, untimed, before the listeners come off. */
  private def awaitProgress(batchId: Long): Unit = {
    val until = System.nanoTime() + 5e9.toLong
    def done = Option(query.lastProgress).exists(_.batchId >= batchId)
    while (!done && System.nanoTime() < until) Thread.sleep(2)
  }

  def measure(loop: OpLoop, tracer: Option[Tracer], deadline: Long): Unit = {
    var i = 0
    while (System.nanoTime() < deadline && nextBatch < batches.size) {
      val batch = batches(nextBatch)
      val ok = Op.attempt(loop, tracer, traced = i % 2 == 1, "micro_batch",
        settle = awaitProgress(ingested.size)) { sp =>
        sp("streaming") {
          input.addData(batch)
          query.processAllAvailable()
        }
      }
      if (ok) ingested += batch
      nextBatch += 1
      i += 1
    }
  }

  def checks(): Map[String, Any] = {
    val actual = IngestPipeline.readSurvivors(spark, store)
      .select(col("doc_id")).as[Long].collect().toSet
    val all = (corpus ++ ingested.flatten).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(all, "doc_id", "text", n = 2)
    val near = pairs.select(col("id_a"), col("id_b")).as[(Long, Long)].collect()
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    pairs.unpersist()
    val prot = corpus.take(protectedCount).map(_._1).toSet
    var stored = corpus.map(_._1).toSet
    val expected = scala.collection.mutable.LinkedHashSet.empty[Long]
    ingested.foreach { batch =>
      val ids = batch.map(_._1).toSet
      val survivors = ids.filterNot { d =>
        val nd = near.getOrElse(d, Set.empty[Long])
        nd.exists(e => ids(e) && e < d) || nd.exists(stored) || nd.exists(prot)
      }
      expected ++= survivors
      stored ++= survivors
    }
    Map(
      "batches" -> ingested.size,
      "docs_ingested" -> ingested.map(_.size).sum,
      "survivors" -> actual.size,
      "expected_survivors" -> expected.size,
      "survivors_equal" -> (actual == expected.toSet))
  }

  override def close(): Unit = if (query != null) {
    query.stop()
    query = null
  }
}
