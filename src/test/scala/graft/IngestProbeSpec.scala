package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.SparkEnv
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper,
  ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.{BlockId, BroadcastBlockId}

import graft.ops.Dedup
import graft.ops.Dedup.MinhashIndex
import graft.streaming.IngestPipeline

/** `IngestPipeline.processBatch` finds its drop set with one tagged LSH
  * probe (`Dedup.lshDropIds`). Its survivors must equal those of the
  * three separate pair sets — `lshPairsWithin` on the batch and
  * `lshPairsAgainst` against the stored and the protected index — on
  * batches that plant each drop rule and each edge the probe must keep
  * apart; duplicate-heavy inputs must send the driver a drop set bounded
  * by its distinct ids, not by its band collisions; a 50-doc batch must run a fixed handful of jobs, find its
  * drop set without a shuffle, and leave nothing cached or broadcast; and
  * a batch must compile no code its predecessors already compiled. */
class IngestProbeSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  // word-block texts: docs of the same family are identical (J = 1.0 —
  // LSH recall certain); different families share no bigram (J = 0)
  private def text(fam: String) =
    (1 to 40).map(i => s"$fam$i").mkString(" ")

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  /** Survivors by the three separate pair sets over the same indexes,
    * read before the batch commits. */
  private def pairSurvivors(batch: DataFrame, batchId: Long, storeDir: String,
                            protectedIdx: MinhashIndex): Set[Long] = {
    val idx = Dedup.buildMinhashIndex(batch, "doc_id", "text", n = 2)
    val corpus = IngestPipeline.readIndexBefore(spark, storeDir, batchId)
    val drops = Dedup.lshPairsWithin(idx, 0.5).select(col("id_b").as("d"))
      .union(Dedup.lshPairsAgainst(idx, corpus, 0.5).select(col("new_id")))
      .union(Dedup.lshPairsAgainst(idx, protectedIdx, 0.5).select(col("new_id")))
      .as[Long].collect().toSet
    batch.select("doc_id").as[Long].collect().toSet -- drops
  }

  /** The broadcast value blocks the driver holds (not their pieces). */
  private def broadcastValueIds(): Set[BlockId] =
    SparkEnv.get.blockManager.getMatchingBlockIds {
      case BroadcastBlockId(_, field) => field.isEmpty
      case _ => false
    }.toSet

  /** A broadcast block's value, if the driver still holds it. */
  private def valueOf(id: BlockId): Option[Any] =
    SparkEnv.get.blockManager.getLocalValues(id).map(_.data.toList.head)

  private def committed(storeDir: String, batchId: Long): Set[Long] =
    IngestPipeline.readSurvivors(spark, storeDir)
      .filter(col("ingest_batch") === batchId)
      .select("doc_id").as[Long].collect().toSet

  test("one tagged probe drops exactly what the three pair sets drop") {
    withTempDirs("graft-probe") { case Seq(tmp) =>
      val storeDir = s"$tmp/store"
      // corpus and protected index share id 300, with different texts
      IngestPipeline.writeIndexSlice(
        docs(100L -> text("ca"), 300L -> text("ra")),
        storeDir, IngestPipeline.CorpusBatchId)
      val protIdx = Dedup.buildMinhashIndex(
        docs(200L -> text("pa"), 300L -> text("qa")), "doc_id", "text", n = 2)

      def check(batchId: Long, batch: DataFrame, expected: Set[Long],
                what: String): Unit = {
        val byPairs = pairSurvivors(batch, batchId, storeDir, protIdx)
        assert(byPairs === expected, s"$what: the pair sets' own survivors")
        IngestPipeline.processBatch(batch, batchId, storeDir, protIdx)
        assert(committed(storeDir, batchId) === byPairs, what)
      }

      check(0L, docs(3L -> text("xa"), 4L -> text("xa"), 5L -> text("u0")),
        Set(3L, 5L), "internal pair: the higher id drops")
      check(1L, docs(1L -> text("ca"), 6L -> text("u1")),
        Set(6L), "corpus duplicate")
      check(2L, docs(2L -> text("pa"), 7L -> text("u2")),
        Set(7L), "protected duplicate")
      check(3L, docs(8L -> text("qa"), 9L -> text("ra"), 10L -> text("u3")),
        Set(10L), "id 300 in both indexes: each tier verifies its own text")
      check(4L, docs(100L -> text("ca"), 11L -> text("u4")),
        Set(100L, 11L), "a re-ingested corpus id is not its own duplicate")

      // an empty batch ends at the count that stages it: it neither reads
      // the store nor writes to it
      val filesBefore = IngestPipeline.storeFileCount(storeDir)
      val (_, emptyJobs) = jobsOf(
        IngestPipeline.processBatch(docs(), 5L, storeDir, protIdx))
      assert(emptyJobs <= 2, s"an empty batch ran $emptyJobs jobs")
      assert(IngestPipeline.storeFileCount(storeDir) === filesBefore,
        "an empty batch must write nothing")
      assert(committed(storeDir, 5L).isEmpty)

      // every band bucket holds 1,001 rows, over the cap of 1,000: no
      // internal pair, the whole batch survives
      val same = (1000L to 2000L).map(_ -> text("ka"))
      check(6L, docs(same: _*), same.map(_._1).toSet,
        "the bucket cap keeps a 1,001-copy batch whole")

      // the stored index holds the corpus slice twice, as it does between
      // a roll-up's install and its sealed-dir deletes: every candidate
      // and verdict repeats, the drop set does not change
      IngestPipeline.writeIndexSlice(
        docs(100L -> text("ca"), 300L -> text("ra")), storeDir, -2L)
      check(7L, docs(12L -> text("ca"), 13L -> text("ra"), 14L -> text("u7")),
        Set(14L), "a slice stored twice (the roll-up duplicate window)")
    }
  }

  test("duplicate-heavy inputs: drop-set rows are bounded by distinct ids × partitions") {
    withTempDirs("graft-probe-dups") { case Seq(tmp) =>
      val storeDir = s"$tmp/store"
      // 60 stored copies of one text; the batch holds 40 more copies of it
      // and 40 copies of a new text. Every pair collides in all 16 bands:
      // 16 · 40 · 60 corpus and 16 · 2 · (40 · 39 / 2) internal candidate
      // rows, each verified, where 79 distinct ids drop
      IngestPipeline.writeIndexSlice(
        docs((0L until 60L).map(_ -> text("ca")): _*),
        storeDir, IngestPipeline.CorpusBatchId)
      val protIdx = Dedup.buildMinhashIndex(docs(500L -> text("pa")),
        "doc_id", "text", n = 2)
      val batch = docs((1000L until 1040L).map(_ -> text("ca")) ++
        (2000L until 2040L).map(_ -> text("na")): _*)
      val dropped = ((1000L until 1040L) ++ (2001L until 2040L)).toSet

      val probe = Dedup.lshDropIds(
        Dedup.buildMinhashIndex(batch, "doc_id", "text", n = 2),
        IngestPipeline.readIndexBefore(spark, storeDir, 0L), protIdx,
        0.5, batchRows = 80L)
      val rows = probe.as[Long].collect()
      assert(rows.toSet === dropped)
      val parts = probe.rdd.getNumPartitions
      assert(rows.length <= dropped.size * parts,
        s"${rows.length} drop-set rows over $parts partitions")

      IngestPipeline.processBatch(batch, 0L, storeDir, protIdx)
      assert(committed(storeDir, 0L) === Set(2000L))
    }
  }

  test("string ids take the same drop path, and a doc with a NULL id is kept") {
    withTempDirs("graft-probe-ids") { case Seq(tmp) =>
      val storeDir = s"$tmp/store"
      def sdocs(rows: (String, String)*) = rows.toDF("doc_id", "text")
      IngestPipeline.writeIndexSlice(sdocs("c1" -> text("ca")), storeDir,
        IngestPipeline.CorpusBatchId)
      val protIdx = Dedup.buildMinhashIndex(sdocs("p1" -> text("pa")),
        "doc_id", "text", n = 2)
      // a corpus duplicate, a protected duplicate, a new doc, and a corpus
      // duplicate with no id: no drop rule can match a NULL id
      IngestPipeline.processBatch(sdocs("a" -> text("ca"), "b" -> text("pa"),
        "c" -> text("u0"), (null: String) -> text("ca")), 0L, storeDir, protIdx)
      assert(IngestPipeline.readSurvivors(spark, storeDir)
        .select("doc_id").as[Option[String]].collect().toSet ===
        Set(Some("c"), None))
    }
  }

  test("a batch reuses the code its predecessors compiled") {
    withTempDirs("graft-probe-codegen") { case Seq(tmp) =>
      val storeDir = s"$tmp/store"
      IngestPipeline.writeIndexSlice(docs(100L -> text("ca")), storeDir,
        IngestPipeline.CorpusBatchId)
      val protIdx = Dedup.buildMinhashIndex(docs(200L -> text("pa")),
        "doc_id", "text", n = 2)
      // batches of one shape: a corpus duplicate, a protected duplicate
      // and a new doc; only the ids, the texts and the batch id differ
      def batch(b: Long) = docs((10 * b) -> text("ca"),
        (10 * b + 1) -> text("pa"), (10 * b + 2) -> text(s"u${b}w"))
      (0L to 1L).foreach(b =>
        IngestPipeline.processBatch(batch(b), b, storeDir, protIdx))
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
      val before = compiles.getCount
      IngestPipeline.processBatch(batch(2L), 2L, storeDir, protIdx)
      assert(compiles.getCount - before === 0,
        "the third batch compiled new code")
      assert(committed(storeDir, 2L) === Set(22L))
    }
  }

  test("a 50-doc batch: at most 6 jobs, no shuffle, nothing cached or broadcast") {
    withTempDirs("graft-probe-jobs") { case Seq(tmp) =>
      val storeDir = s"$tmp/store"
      IngestPipeline.writeIndexSlice(
        docs((0L until 200L).map(i => i -> text(s"c${i}w")): _*),
        storeDir, IngestPipeline.CorpusBatchId)
      val protIdx = Dedup.buildMinhashIndex(
        docs((0L until 20L).map(i => (500L + i) -> text(s"p${i}w")): _*),
        "doc_id", "text", n = 2)
      // a warm-up batch, so the measured one reads a store of two slices
      IngestPipeline.processBatch(
        docs((0L until 50L).map(i => (1000L + i) -> text(s"w${i}w")): _*),
        0L, storeDir, protIdx)
      // 40 new docs, 5 corpus, 3 protected and 2 internal duplicates
      val batch = docs(
        (0L until 40L).map(i => (2000L + i) -> text(s"n${i}w")) ++
          (0L until 5L).map(i => (2100L + i) -> text(s"c${i}w")) ++
          (0L until 3L).map(i => (2200L + i) -> text(s"p${i}w")) ++
          (0L until 2L).map(i => (2300L + i) -> text(s"n${i}w")): _*)

      val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
      val broadcastsBefore = broadcastValueIds()
      val collects = new ConcurrentLinkedQueue[SparkPlan]()
      val listener = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution,
                               durationNs: Long): Unit =
          if (funcName == "collect") collects.add(qe.executedPlan)
        override def onFailure(funcName: String, qe: QueryExecution,
                               exception: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      val jobs = try {
        val (_, jobs) =
          jobsOf(IngestPipeline.processBatch(batch, 1L, storeDir, protIdx))
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (collects.isEmpty && System.nanoTime() < deadline)
          Thread.sleep(10)
        jobs
      } finally spark.listenerManager.unregister(listener)
      assert(jobs > 0 && jobs <= 6, s"a 50-doc batch ran $jobs jobs")
      assert(collects.size === 1, "one drop-set collect per batch")
      val probe = collects.peek()
      val shuffles = collectWithSubqueries(probe) {
        case s: ShuffleQueryStageExec => s
        case e: ShuffleExchangeLike => e
      }
      assert(shuffles.isEmpty, s"the drop-set probe shuffles:\n$probe")
      assert(spark.sparkContext.getPersistentRDDs.keySet === cachedBefore,
        "processBatch left cached RDDs behind")
      // what remains is Spark's own — task binaries, Hadoop confs, join
      // relations — which the context cleaner releases with their plans;
      // a destroyed broadcast's blocks are removed asynchronously
      def left = (broadcastValueIds() -- broadcastsBefore).flatMap(valueOf)
        .filterNot(v => v.isInstanceOf[Array[Byte]] ||
          v.getClass.getName.startsWith("org.apache.spark."))
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (left.nonEmpty && System.nanoTime() < deadline) Thread.sleep(10)
      assert(left.isEmpty, s"processBatch left broadcasts behind: $left")
      assert(committed(storeDir, 1L) ===
        (0L until 40L).map(2000L + _).toSet, "the planted drops")
    }
  }
}
