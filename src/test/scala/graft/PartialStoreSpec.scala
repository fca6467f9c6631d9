package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ops.IncrementalAgg
import graft.streaming.PartialStore

/** Versioned partial-aggregate store: streaming micro-batches fold into
  * storage-resident partials; a replayed batch converges instead of
  * double-counting; the read-time view equals the batch recompute. */
class PartialStoreSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("micro-batches accumulate; result equals batch agg; replay is idempotent") {
    withTempDirs("graft-pstore") { case Seq(store) =>
      val b1 = Seq((ts("2024-01-01 10:00:00"), 5.0),
                   (ts("2024-01-02 09:00:00"), 1.0)).toDF("ts", "value")
        .withColumn("day", to_date(col("ts")))
      val b2 = Seq((ts("2024-01-02 11:00:00"), 2.5)).toDF("ts", "value")
        .withColumn("day", to_date(col("ts")))

      PartialStore.mergeBatch(b1, 0L, store, Seq("day"), "value")
      PartialStore.mergeBatch(b2, 1L, store, Seq("day"), "value")

      def snapshot(): Seq[String] =
        PartialStore.readLatest(spark, store).get
          .orderBy("day").collect().map(_.toString).toSeq
      val expected = IncrementalAgg.finalize(IncrementalAgg.partials(
          b1.unionByName(b2), Seq("day"), "value"))
        .orderBy("day").collect().map(_.toString).toSeq
      assert(snapshot() === expected)

      // failure replay: streaming re-invokes batch 1 with identical content;
      // it must recompute v1 from v0 — same bytes, no double count
      PartialStore.mergeBatch(b2, 1L, store, Seq("day"), "value")
      assert(snapshot() === expected)
      assert(PartialStore.latestVersion(store) === Some(1L))
    }
  }

  test("prune keeps the newest versions, skips uncommitted dirs, replay still safe") {
    withTempDirs("graft-pstore-p") { case Seq(store) =>
      val b = Seq((ts("2024-01-01 10:00:00"), 1.0)).toDF("ts", "value")
        .withColumn("day", to_date(col("ts")))
      (0L to 4L).foreach(PartialStore.mergeBatch(b, _, store, Seq("day"), "value"))
      // an uncommitted (torn) dir must survive pruning untouched
      val torn = new java.io.File(store, "v" + "9" * 20)
      torn.mkdirs()
      val deleted = PartialStore.prune(store, keep = 2)
      assert(deleted.sorted === Seq(0L, 1L, 2L))
      assert(PartialStore.latestVersion(store) === Some(4L))
      assert(torn.isDirectory, "uncommitted dir must not be pruned")
      // replay of the newest batch still finds its parent (v3 kept)
      PartialStore.mergeBatch(b, 4L, store, Seq("day"), "value")
      val out = PartialStore.readLatest(spark, store).get.collect()
      assert(out.length === 1 && out.head.getAs[Long]("n") === 5L)
    }
  }

  test("prune refuses keep < 2 — the replay parent must survive") {
    withTempDirs("graft-pstore-k") { case Seq(store) =>
      // keep=1 would delete the parent of the live version; a replayed
      // newest batch would then rebuild the store from that batch alone,
      // silently discarding all accumulated history
      val e = intercept[IllegalArgumentException] {
        PartialStore.prune(store, keep = 1)
      }
      assert(e.getMessage.contains("replay parent"))
    }
  }

  test("end-to-end through a real stream (MemoryStream + foreachBatch)") {
    withTempDirs("graft-pstore-s", "graft-pstore-c") { case Seq(store, checkpoint) =>
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Timestamp, Double)]
      val events = mem.toDF().toDF("ts", "value")

      val q = PartialStore.writeDailyPartials(events, store, checkpoint)
      try {
        mem.addData((ts("2024-01-01 10:00:00"), 5.0),
                    (ts("2024-01-01 12:00:00"), 7.0))
        q.processAllAvailable()
        mem.addData((ts("2024-01-03 08:00:00"), 4.0))
        q.processAllAvailable()
      } finally q.stop()

      val out = PartialStore.readLatest(spark, store).get
        .orderBy("day")
        .select(col("day").cast("string"), col("n"), col("total"),
          col("vmin"), col("vmax"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4)))
      assert(out.toSeq === Seq(
        ("2024-01-01", 2L, 12.0, 5.0, 7.0),
        ("2024-01-03", 1L, 4.0, 4.0, 4.0)))
    }
  }
}
