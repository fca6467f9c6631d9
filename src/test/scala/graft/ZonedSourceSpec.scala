package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.sources.ZonedCorpus

/** The zone-mapped DataSourceV2 connector (q150's storage layer):
  * round-trip fidelity, null handling, column pruning, and — the point —
  * PLANNING-TIME zone pruning: a filtered read must plan strictly fewer
  * input partitions than zones, verified from the executed plan's
  * BatchScanExec, not from row results. */
class ZonedSourceSpec extends SparkSpec {
  import spark.implicits._

  private def writeCorpus(tmp: String): DataFrame = {
    val df = (0L until 100L).map { i =>
      (i, s"doc number $i body", if (i % 7 == 0) null else s"src${i % 3}",
        i * 10)
    }.toDF("doc_id", "text", "source", "n_chars")
    ZonedCorpus.write(df, tmp, expr("n_chars DIV 250"),
      Seq("doc_id", "n_chars"))
    df
  }

  private def readZoned(path: String): DataFrame =
    spark.read.format("graft.sources.ZonedSource").load(path)

  private def plannedPartitions(df: DataFrame): Int =
    df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.scan.toBatch.planInputPartitions().length
    }.getOrElse(fail("no BatchScanExec in the plan"))

  test("round trip: full read equals the written frame (incl. nulls)") {
    withTempDirs("graft-zoned-spec") { case Seq(tmp) =>
      val df = writeCorpus(tmp)
      val got = readZoned(tmp).orderBy("doc_id")
        .as[(Long, String, Option[String], Long)].collect()
      val want = df.orderBy("doc_id")
        .as[(Long, String, Option[String], Long)].collect()
      assert(got === want)
    }
  }

  test("zone pruning: range filter plans only the matching zones") {
    withTempDirs("graft-zoned-spec") { case Seq(tmp) =>
      writeCorpus(tmp)
      // n_chars 0..990 in zones of 250 → 4 zones
      val all = readZoned(tmp)
      assert(plannedPartitions(all) === 4)
      val filtered = all.filter(col("n_chars") >= 500L &&
        col("n_chars") < 750L)
      assert(plannedPartitions(filtered) === 1)
      assert(filtered.agg(count(lit(1))).as[Long].collect().head === 25L)
      // point lookup on the other stat column
      val point = all.filter(col("doc_id") === 99L)
      assert(plannedPartitions(point) === 1)
      assert(point.select("n_chars").as[Long].collect().toSeq === Seq(990L))
    }
  }

  test("pruning is conservative: residual filters still re-checked") {
    withTempDirs("graft-zoned-spec") { case Seq(tmp) =>
      writeCorpus(tmp)
      // zone [500,740] survives the stats check but only some rows match
      val got = readZoned(tmp)
        .filter(col("n_chars") >= 600L && col("n_chars") <= 640L)
        .select("doc_id").as[Long].collect().sorted
      assert(got.toSeq === Seq(60L, 61L, 62L, 63L, 64L))
    }
  }

  test("non-stat predicates never prune (strings filter post-scan)") {
    withTempDirs("graft-zoned-spec") { case Seq(tmp) =>
      writeCorpus(tmp)
      val df = readZoned(tmp).filter(col("source") === "src1")
      assert(plannedPartitions(df) === 4) // no stats on source → scan all
      // i%3==1 gives 33 rows; 5 of them (i%7==0 → null source) drop out
      assert(df.agg(count(lit(1))).as[Long].collect().head === 28L)
    }
  }

  test("column pruning: projecting a subset parses only those fields") {
    withTempDirs("graft-zoned-spec") { case Seq(tmp) =>
      writeCorpus(tmp)
      val df = readZoned(tmp).select("n_chars")
      val scanSchema = df.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b.scan.readSchema()
      }.get
      assert(scanSchema.fieldNames.toSeq === Seq("n_chars"))
      assert(df.as[Long].collect().sum === (0L until 100L).map(_ * 10).sum)
    }
  }

  test("compact: reads are byte-identical, zone count drops, pruning " +
    "stays correct on merged stats") {
    withTempDirs("graft-zoned-spec") { case Seq(tmp) =>
      val df = writeCorpus(tmp)
      val before = readZoned(tmp).orderBy("doc_id")
        .as[(Long, String, Option[String], Long)].collect()
      // merge zones 0 and 1 into group 0, zone 2 into group 1; zone 3 stays
      val removed = ZonedCorpus.compact(tmp, Map(
        "__zone=0" -> 0L, "__zone=1" -> 0L, "__zone=2" -> 1L))
      assert(removed === 1) // 3 moved into 2 merged dirs
      val after = readZoned(tmp).orderBy("doc_id")
        .as[(Long, String, Option[String], Long)].collect()
      assert(after === before)
      assert(plannedPartitions(readZoned(tmp)) === 3) // was 4
      // merged stats keep pruning exact: [500,750) now lives in the
      // single-member merged zone __compact=1
      val f = readZoned(tmp).filter(col("n_chars") >= 500L &&
        col("n_chars") < 750L)
      assert(plannedPartitions(f) === 1)
      assert(f.agg(count(lit(1))).as[Long].collect().head === 25L)
      // a filter inside the wide merged zone scans it but nothing else
      val g = readZoned(tmp).filter(col("n_chars") < 100L)
      assert(plannedPartitions(g) === 1)
      assert(g.agg(count(lit(1))).as[Long].collect().head === 10L)
    }
  }

  test("compact: manifest stat columns survive a stat-less head zone") {
    withTempDirs("graft-zoned-spec") { case Seq(tmp) =>
      import scala.jdk.CollectionConverters._
      writeCorpus(tmp)
      val p = java.nio.file.Paths.get(tmp, "_zonemap.tsv")
      val lines = java.nio.file.Files.readAllLines(p).asScala.toSeq
      // simulate an all-null head zone: blank its stat field — the reader
      // keeps such a zone under every filter (conservative)
      val doctoredHead = lines(1).split("\t").take(3).mkString("\t")
      java.nio.file.Files.write(p,
        ((lines.head +: doctoredHead +: lines.drop(2)).mkString("\n") + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // merge two zones that are NOT the head zone; the remaining third
      // keeps its own manifest entry
      val others = lines.drop(2).map(_.split("\t")(1))
      val removed = ZonedCorpus.compact(tmp,
        Map(others(0) -> 0L, others(1) -> 0L))
      assert(removed === 1)
      // the stat columns must be derived from the UNION of zones, not the
      // (stat-less) head zone: a selective filter on the surviving zone
      // must plan exactly that zone + the conservative head zone — were
      // the bounds dropped manifest-wide, all 3 zones would plan
      val k = others(2).stripPrefix("__zone=").toLong
      val f = readZoned(tmp).filter(col("n_chars") >= k * 250L &&
        col("n_chars") < (k + 1L) * 250L)
      assert(plannedPartitions(f) === 2)
      assert(f.agg(count(lit(1))).as[Long].collect().head === 25L)
    }
  }

  test("aggregate pushdown: filterless count/min/max answers from the " +
    "manifest with zero data files") {
    withTempDirs("graft-zoned-spec") { case Seq(tmp) =>
      writeCorpus(tmp)
      def totals() = readZoned(tmp).agg(count(lit(1)).as("n"),
        min(col("doc_id")).as("lo"), max(col("n_chars")).as("hi"))
      val agg = totals()
      val plan = agg.queryExecution.executedPlan.toString
      assert(plan.contains("ZonedAggScan"), plan.take(2000))
      assert(plan.contains("PushedAggregates"), plan.take(2000))
      assert(agg.as[(Long, Long, Long)].collect().head === ((100L, 0L, 990L)))

      // refusals fall back to the row scan: a residual filter, a GROUP BY,
      // and an aggregate the manifest can't answer (sum)
      val refused = Seq(
        readZoned(tmp).filter(col("n_chars") >= 0L).agg(count(lit(1))),
        readZoned(tmp).groupBy(col("source")).agg(count(lit(1))),
        readZoned(tmp).agg(sum(col("n_chars"))))
      refused.foreach { q =>
        val p = q.queryExecution.executedPlan.toString
        assert(!p.contains("ZonedAggScan"), p.take(1500))
      }

      // the metadata-only proof: delete EVERY data file (manifest stays),
      // ask again from a fresh plan — a scan that opened any file would
      // throw; the pushed aggregate still answers
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(tmp)).iterator()
        .asScala.toSeq
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString != "_zonemap.tsv")
        .foreach(java.nio.file.Files.delete)
      assert(totals().as[(Long, Long, Long)].collect().head ===
        ((100L, 0L, 990L)))
    }
  }

  test("planning statistics come from the manifest (surviving rows only)") {
    withTempDirs("graft-zoned-spec") { case Seq(tmp) =>
      writeCorpus(tmp)
      val filtered = readZoned(tmp).filter(col("n_chars") < 250L)
      val stats = filtered.queryExecution.optimizedPlan.stats
      // 25 rows of zone 0 survive; the estimate must reflect the pruning
      assert(stats.rowCount.exists(_.toLong <= 25L) ||
        stats.sizeInBytes > 0) // rowCount surfaced when CBO reads DSv2 stats
    }
  }

  // ------------------------------------------------------- time travel

  private def readVersion(path: String, v: Long): DataFrame =
    spark.read.format("graft.sources.ZonedSource")
      .option("version", v.toString).load(path)

  test("append creates a new snapshot; version 1 still reads EXACTLY " +
      "its original rows (the Iceberg append contract)") {
    withTempDirs("graft-zoned-spec") { case Seq(tmp) =>
      val df = writeCorpus(tmp)
      assert(ZonedCorpus.versions(tmp) === Seq(1L))
      val extra = (100L until 140L).map { i =>
        (i, s"appended $i", s"src${i % 3}", i * 10)
      }.toDF("doc_id", "text", "source", "n_chars")
      val v2 = ZonedCorpus.appendZones(extra, tmp, expr("n_chars DIV 250"),
        Seq("doc_id", "n_chars"))
      assert(v2 === 2L && ZonedCorpus.versions(tmp) === Seq(1L, 2L))
      // v1 == the original frame, byte for byte
      assert(readVersion(tmp, 1L).orderBy("doc_id")
        .as[(Long, String, Option[String], Long)].collect() ===
        df.orderBy("doc_id")
          .as[(Long, String, Option[String], Long)].collect())
      // current == original ++ appended
      assert(readZoned(tmp).agg(count(lit(1))).as[Long].collect().head
        === 140L)
      // the un-versioned read equals the latest version explicitly
      assert(readVersion(tmp, 2L).agg(count(lit(1))).as[Long]
        .collect().head === 140L)
    }
  }

  test("appended zones participate in pruning; old snapshot plans only " +
      "its own zones") {
    withTempDirs("graft-zoned-spec") { case Seq(tmp) =>
      writeCorpus(tmp)
      ZonedCorpus.appendZones(
        (100L until 120L).map(i => (i, s"a $i", "srcA", 2000L + i))
          .toDF("doc_id", "text", "source", "n_chars"),
        tmp, expr("n_chars DIV 250"), Seq("doc_id", "n_chars"))
      // appended rows live in n_chars 2100..2119 → zone 8; a filter there
      // plans exactly the appended zone
      val hot = readZoned(tmp).filter(col("n_chars") >= 2000L)
      assert(plannedPartitions(hot) === 1)
      assert(hot.agg(count(lit(1))).as[Long].collect().head === 20L)
      // v1 has 4 zones; the appended zone never appears in its plan
      assert(plannedPartitions(readVersion(tmp, 1L)) === 4)
    }
  }

  test("repeated appends never collide (suffixed zone dirs) and stack " +
      "snapshots") {
    withTempDirs("graft-zoned-spec") { case Seq(tmp) =>
      writeCorpus(tmp)
      def batch(lo: Long): DataFrame =
        (lo until lo + 10L).map(i => (i, s"b $i", "srcB", i % 500))
          .toDF("doc_id", "text", "source", "n_chars")
      // both batches zone into the same n_chars DIV 250 values as the
      // base layout — the -a<version> suffix keeps the dirs distinct
      assert(ZonedCorpus.appendZones(batch(100L), tmp,
        expr("n_chars DIV 250"), Seq("doc_id", "n_chars")) === 2L)
      assert(ZonedCorpus.appendZones(batch(200L), tmp,
        expr("n_chars DIV 250"), Seq("doc_id", "n_chars")) === 3L)
      assert(readVersion(tmp, 1L).count() === 100L)
      assert(readVersion(tmp, 2L).count() === 110L)
      assert(readZoned(tmp).count() === 120L)
    }
  }

  test("appending a mismatched schema is refused") {
    withTempDirs("graft-zoned-spec") { case Seq(tmp) =>
      writeCorpus(tmp)
      intercept[IllegalArgumentException] {
        ZonedCorpus.appendZones(
          Seq((1L, "x")).toDF("doc_id", "text"), tmp,
          expr("doc_id"), Seq("doc_id"))
      }
    }
  }

  test("compaction EXPIRES earlier snapshots (files moved): versioned " +
      "read fails with a clear message, current stays byte-identical") {
    withTempDirs("graft-zoned-spec") { case Seq(tmp) =>
      val df = writeCorpus(tmp)
      ZonedCorpus.appendZones(
        (100L until 110L).map(i => (i, s"c $i", "srcC", i * 10))
          .toDF("doc_id", "text", "source", "n_chars"),
        tmp, expr("n_chars DIV 250"), Seq("doc_id", "n_chars"))
      val before = readZoned(tmp).orderBy("doc_id")
        .as[(Long, String, Option[String], Long)].collect()
      val zoneDirs = {
        val s = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.filter(java.nio.file.Files.isDirectory(_))
            .map(_.getFileName.toString).toSeq.sorted
        } finally s.close()
      }
      val plan = zoneDirs.take(2).map(_ -> 0L).toMap
      ZonedCorpus.compact(tmp, plan)
      // only the post-compaction snapshot survives
      assert(ZonedCorpus.versions(tmp) === Seq(3L))
      val ex = intercept[IllegalArgumentException] {
        readVersion(tmp, 1L).count()
      }
      assert(ex.getMessage.contains("expired"),
        s"unhelpful expiry error: ${ex.getMessage}")
      assert(readZoned(tmp).orderBy("doc_id")
        .as[(Long, String, Option[String], Long)].collect() === before)
      assert(df.count() === 100L) // fixture untouched
    }
  }

  test("full overwrite EXPIRES earlier snapshots (files replaced): the " +
      "old version number fails clearly instead of reading new rows") {
    withTempDirs("graft-zoned-spec") { case Seq(tmp) =>
      writeCorpus(tmp) // v1
      ZonedCorpus.appendZones(
        (100L until 110L).map(i => (i, s"a $i", "srcA", i * 10))
          .toDF("doc_id", "text", "source", "n_chars"),
        tmp, expr("n_chars DIV 250"), Seq("doc_id", "n_chars")) // v2
      // rewrite the whole table with DIFFERENT content: every zone dir is
      // replaced, so snapshots 1 and 2 no longer describe any real file
      val fresh = (1000L until 1050L).map(i =>
        (i, s"rewrite $i", "srcR", i * 10))
        .toDF("doc_id", "text", "source", "n_chars")
      ZonedCorpus.write(fresh, tmp, expr("n_chars DIV 250"),
        Seq("doc_id", "n_chars"))
      // version numbering stays monotonic across the overwrite and only
      // the new snapshot is retained
      assert(ZonedCorpus.versions(tmp) === Seq(3L))
      for (old <- Seq(1L, 2L)) {
        val ex = intercept[IllegalArgumentException] {
          readVersion(tmp, old).count()
        }
        assert(ex.getMessage.contains("expired") ||
            ex.getMessage.contains("no manifest"),
          s"unhelpful expiry error for v$old: ${ex.getMessage}")
      }
      // current and explicit v3 both read exactly the rewritten rows
      val want = fresh.orderBy("doc_id")
        .as[(Long, String, Option[String], Long)].collect()
      assert(readZoned(tmp).orderBy("doc_id")
        .as[(Long, String, Option[String], Long)].collect() === want)
      assert(readVersion(tmp, 3L).orderBy("doc_id")
        .as[(Long, String, Option[String], Long)].collect() === want)
    }
  }

  private def dataFileState(tmp: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(tmp))
    try s.iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.startsWith("_zonemap"))
      .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
    finally s.close()
  }

  test("equality deletes: merge-on-read removes exactly the keyed rows, " +
      "no data file is touched, raw scans refuse, time travel intact") {
    withTempDirs("graft-zoned-spec") { case Seq(tmp) =>
      import spark.implicits._
      val df = writeCorpus(tmp) // v1: doc_id 0..99
      val before = dataFileState(tmp)
      val keys = (0L until 100L).filter(_ % 9 == 0).toDF("doc_id")
      val v = ZonedCorpus.deleteWhere(keys, tmp) // v2
      assert(v === 2L && ZonedCorpus.versions(tmp) === Seq(1L, 2L))
      // 1. NO data file was rewritten (merge-on-read) — only the new
      //    delete zone and manifests appeared
      val after = dataFileState(tmp)
      assert(before.forall { case (p, sz) => after.get(p).contains(sz) },
        "a data file was rewritten by a delete")
      assert((after.keySet -- before.keySet)
        .forall(_.contains("__del=")), "unexpected new files")
      // 2. merged view == NOT-filter
      val got = ZonedCorpus.readWithDeletes(spark, tmp).orderBy("doc_id")
        .as[(Long, String, Option[String], Long)].collect()
      val want = df.filter($"doc_id" % 9 =!= 0).orderBy("doc_id")
        .as[(Long, String, Option[String], Long)].collect()
      assert(got === want)
      // 3. raw scan refuses unless deletes acknowledged
      val ex = intercept[IllegalArgumentException] { readZoned(tmp).count() }
      assert(ex.getMessage.contains("pending"),
        s"unhelpful refuse message: ${ex.getMessage}")
      assert(spark.read.format("graft.sources.ZonedSource")
        .option("ignoreDeletes", "true").load(tmp).count() === 100L)
      // 4. pre-delete snapshot still reads the FULL table (deletes are a
      //    snapshot property, not a table mutation)
      assert(ZonedCorpus.readWithDeletes(spark, tmp, Some(1L)).count()
        === 100L)
      // 5. deleting again with overlapping keys converges (idempotent
      //    anti-join; two delete zones stack)
      ZonedCorpus.deleteWhere(keys, tmp)
      assert(ZonedCorpus.readWithDeletes(spark, tmp).count() === want.length)
    }
  }

  test("bloom pruning: string equality plans only the zones whose bloom " +
      "admits the literal; answers stay exact; compaction ORs blooms") {
    withTempDirs("graft-zoned-bloomspec") { case Seq(tmp) =>
      import spark.implicits._
      // 8 zones × 50 rows; tag 'rare' appears ONLY in zone 3
      val df = (0L until 400L).map { i =>
        (i, if (i == 175L) "rare" else s"common${i % 5}", i * 2)
      }.toDF("doc_id", "tag", "n")
      ZonedCorpus.write(df, tmp, expr("doc_id DIV 50"), Seq("doc_id"),
        bloomCols = Seq("tag"))
      def q(tag: String) = spark.read
        .format("graft.sources.ZonedSource").load(tmp)
        .filter(col("tag") === tag)
      // rare value: bloom admits ~1 zone (FP margin: allow <= 2 of 8)
      assert(plannedPartitions(q("rare")) <= 2,
        "bloom failed to prune zones for a rare literal")
      assert(q("rare").select($"doc_id").as[Long].collect().toSeq
        === Seq(175L))
      // common value in every zone: nothing pruned, nothing lost
      assert(plannedPartitions(q("common0")) === 8)
      assert(q("common0").count() === df.filter($"tag" === "common0").count())
      // absent value: bloom can prune everything — still a correct answer
      assert(q("absent-value").count() === 0L)
      // compaction: merged zone's bloom = OR of members — the rare literal
      // still prunes down to the merged zone's neighborhood, still answers
      val plan = Seq("__zone=2", "__zone=3").map(_ -> 0L).toMap
      ZonedCorpus.compact(tmp, plan)
      assert(q("rare").select($"doc_id").as[Long].collect().toSeq
        === Seq(175L))
      assert(plannedPartitions(q("rare")) <= 2,
        "merged zone lost its bloom")
    }
  }

  test("IN-list pruning: per-member stats/bloom disjunction — zones " +
      "survive iff SOME member may be present") {
    withTempDirs("graft-zoned-inspec") { case Seq(tmp) =>
      import spark.implicits._
      // zone k holds tags t<k> only (k = 0..7), plus doc_id stats
      val df = (0L until 400L).map(i =>
        (i, s"t${i / 50}", i)).toDF("doc_id", "tag", "n")
      ZonedCorpus.write(df, tmp, expr("doc_id DIV 50"), Seq("doc_id"),
        bloomCols = Seq("tag"))
      def rd = spark.read.format("graft.sources.ZonedSource").load(tmp)
      // bloom IN: members live in 2 known zones → plans ≤ 3 (FP margin)
      val inTags = rd.filter(col("tag").isin("t1", "t6"))
      assert(plannedPartitions(inTags) <= 3, "IN failed to prune by bloom")
      assert(inTags.count() === 100L)
      // stats IN on the long column: members in 2 zones
      val inIds = rd.filter(col("doc_id").isin(10L, 210L))
      assert(plannedPartitions(inIds) === 2, "IN failed to prune by stats")
      assert(inIds.select($"doc_id").as[Long].collect().sorted.toSeq
        === Seq(10L, 210L))
      // an IN with one un-prunable member keeps every zone (conservative)
      // — null member: not checkable → whole filter not pushed
      val withNull = rd.filter(col("tag").isin("t1", null))
      assert(plannedPartitions(withNull) === 8)
    }
  }

  test("equality deletes survive compaction (value-keyed, not " +
      "position-keyed)") {
    withTempDirs("graft-zoned-spec") { case Seq(tmp) =>
      import spark.implicits._
      val df = writeCorpus(tmp)
      ZonedCorpus.deleteWhere(
        (0L until 100L).filter(_ % 9 == 0).toDF("doc_id"), tmp)
      val mergedBefore = ZonedCorpus.readWithDeletes(spark, tmp)
        .orderBy("doc_id")
        .as[(Long, String, Option[String], Long)].collect()
      val zoneDirs = {
        val s = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.filter(java.nio.file.Files.isDirectory(_))
            .map(_.getFileName.toString)
            .filterNot(_.startsWith("__del=")).toSeq.sorted
        } finally s.close()
      }
      ZonedCorpus.compact(tmp, zoneDirs.take(2).map(_ -> 0L).toMap)
      val mergedAfter = ZonedCorpus.readWithDeletes(spark, tmp)
        .orderBy("doc_id")
        .as[(Long, String, Option[String], Long)].collect()
      assert(mergedAfter === mergedBefore)
      assert(df.count() === 100L)
    }
  }
}
