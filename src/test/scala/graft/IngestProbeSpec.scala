package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Dedup
import graft.ops.Dedup.MinhashIndex
import graft.streaming.IngestPipeline

/** `IngestPipeline.processBatch` finds its drop set with one tagged LSH
  * probe (`Dedup.lshDropIds`). Its survivors must equal those of the
  * three separate pair sets — `lshPairsWithin` on the batch and
  * `lshPairsAgainst` against the stored and the protected index — on
  * batches that plant each drop rule and each edge the probe must keep
  * apart; and a 50-doc batch must run a fixed handful of jobs and leave
  * nothing cached. */
class IngestProbeSpec extends SparkSpec {
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
    }
  }

  test("a 50-doc batch runs at most 12 jobs and caches nothing") {
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
      val (_, jobs) =
        jobsOf(IngestPipeline.processBatch(batch, 1L, storeDir, protIdx))
      assert(jobs > 0 && jobs <= 12, s"a 50-doc batch ran $jobs jobs")
      assert(spark.sparkContext.getPersistentRDDs.keySet === cachedBefore,
        "processBatch left cached RDDs behind")
      assert(committed(storeDir, 1L) ===
        (0L until 40L).map(2000L + _).toSet, "the planted drops")
    }
  }
}
