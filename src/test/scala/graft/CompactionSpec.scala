package graft

import org.apache.spark.sql.functions._

import graft.ops.Compaction

/** Compaction: many tiny files → few target-sized files, same rows; the
  * clustered variant leaves each output file covering a tight key range. */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private def fragmented(dir: String): String = {
    // 40 single-row-ish files ≈ the post-ingest accretion pattern
    spark.range(0, 4000).select($"id", ($"id" % 97).cast("double").as("v"))
      .repartition(40)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("compact collapses a fragmented table to the target layout, same rows") {
    withTempDirs("graft-compact-in", "graft-compact-out") { case Seq(inDir, out) =>
      val in = fragmented(inDir)
      val (bytes, nIn) = Compaction.layout(spark, in)
      assert(nIn === 40)
      // target ~half the table per file → 2 output files
      Compaction.compact(spark, in, out, targetBytes = math.max(1L, bytes / 2))
      val (_, nOut) = Compaction.layout(spark, out)
      assert(nOut === 2, s"expected 2 compacted files, got $nOut")
      val a = spark.read.parquet(in).orderBy("id").collect()
      val b = spark.read.parquet(out).orderBy("id").collect()
      assert(a === b)
    }
  }

  test("clusterBy leaves disjoint key ranges per output file") {
    withTempDirs("graft-compact-in", "graft-compact-clustered") { case Seq(inDir, out) =>
      val in = fragmented(inDir)
      val (bytes, _) = Compaction.layout(spark, in)
      Compaction.compact(spark, in, out,
        targetBytes = math.max(1L, bytes / 4), clusterBy = Seq("id"))
      // per-file (min, max) id ranges must not overlap — the property that
      // makes parquet min/max stats prune on id predicates
      val ranges = spark.read.parquet(out)
        .select(input_file_name().as("f"), $"id")
        .groupBy($"f").agg(min($"id").as("lo"), max($"id").as("hi"))
        .collect().map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
        .sortBy(_._1)
      assert(ranges.length > 1)
      ranges.sliding(2).foreach {
        case Array((_, hi1), (lo2, _)) => assert(hi1 < lo2,
          s"overlapping file ranges: $ranges")
        case _ =>
      }
      assert(spark.read.parquet(out).count() === 4000)
    }
  }

  // --- partitioned tables -------------------------------------------------

  /** A col=value-partitioned table with deliberately skewed partition
    * sizes and fragmented files (4 writer tasks × 8 partitions). */
  private def fragmentedPartitioned(dir: String): String = {
    spark.range(0, 8000)
      // skew: bucket 0 holds ~half the rows, the rest split the remainder
      .select($"id", (when($"id" % 2 === 0, 0L).otherwise($"id" % 7 + 1))
        .cast("int").as("bucket"), ($"id" % 97).cast("double").as("v"))
      .repartition(4)
      .write.mode("overwrite").partitionBy("bucket").parquet(dir)
    dir
  }

  test("partitionBy passthrough preserves the col=value layout and prunes") {
    withTempDirs("graft-compact-part-in", "graft-compact-part-out") { case Seq(inDir, out) =>
      val in = fragmentedPartitioned(inDir)
      val inDirs = new java.io.File(in).listFiles()
        .filter(_.getName.startsWith("bucket=")).map(_.getName).toSet
      assert(inDirs.size === 8)
      Compaction.compact(spark, in, out, targetBytes = Long.MaxValue,
        partitionBy = Seq("bucket"))
      // 1. directory layout survives exactly
      val outDirs = new java.io.File(out).listFiles()
        .filter(_.getName.startsWith("bucket=")).map(_.getName).toSet
      assert(outDirs === inDirs, "partition directory layout was not preserved")
      // 2. same rows, and bucket is still a real column of the read
      val a = spark.read.parquet(in).orderBy("id").collect()
      val b = spark.read.parquet(out).orderBy("id").collect()
      assert(a === b)
      // 3. a bucket predicate on the compacted copy is a PARTITION filter
      //    that actually prunes the scan to one directory's file(s)
      val q = spark.read.parquet(out).filter($"bucket" === 3)
      q.collect()
      val scan = q.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.get
      assert(scan.partitionFilters.mkString.contains("bucket"))
      val total = spark.read.parquet(out).inputFiles.length
      assert(scan.metrics("numFiles").value < total,
        "bucket predicate did not prune the compacted table")
      // 4. huge targetBytes → each partition collapsed to ONE file
      assert(total === 8, s"expected 1 file per partition dir, got $total")
    }
  }

  test("oversized partitions split into ~bytes/target files, small ones do not") {
    withTempDirs("graft-compact-part-in", "graft-compact-part-split") { case Seq(inDir, out) =>
      val in = fragmentedPartitioned(inDir)
      // target = half of bucket 0's bytes → bucket 0 should land 2 files
      val sizes = spark.read.parquet(in).inputFiles
        .map(f => new java.io.File(new java.net.URI(f).getPath))
        .groupBy(_.getParentFile.getName)
        .view.mapValues(_.map(_.length).sum).toMap
      val target = math.max(1L, sizes("bucket=0") / 2)
      Compaction.compact(spark, in, out, targetBytes = target,
        partitionBy = Seq("bucket"))
      val outFiles = spark.read.parquet(out).inputFiles
        .map(f => new java.io.File(new java.net.URI(f).getPath))
        .groupBy(_.getParentFile.getName).view.mapValues(_.length).toMap
      assert(outFiles("bucket=0") === 2,
        s"bucket=0 should split into 2 files, got $outFiles")
      // the small buckets are each well under target → exactly one file
      (1 to 7).foreach { b =>
        assert(outFiles(s"bucket=$b") === 1,
          s"bucket=$b should be a single file, got $outFiles")
      }
      assert(spark.read.parquet(out).count() === 8000)
    }
  }

  test("compacting the bucketed ANN index keeps its partition pruning") {
    withTempDirs("graft-compact-ann") { case Seq(out) =>
      import graft.ops.BucketedAnn
      val srcDir = "/root/testdata/sf0.001"
      val idx = BucketedAnn.ensureIndex(spark, srcDir)
      Compaction.compact(spark, idx, out, targetBytes = Long.MaxValue,
        partitionBy = Seq("sign_bucket"))
      val inDirs = new java.io.File(idx).listFiles()
        .filter(_.getName.startsWith("sign_bucket=")).map(_.getName).toSet
      val outDirs = new java.io.File(out).listFiles()
        .filter(_.getName.startsWith("sign_bucket=")).map(_.getName).toSet
      assert(outDirs === inDirs)
      // the ANN probe's IN-list still partition-prunes on the compacted copy
      val ball = graft.ops.Similarity.hammingBall(255L, 8, 3).map(_.toInt)
      val q = spark.read.parquet(out).filter($"sign_bucket".isin(ball: _*))
      q.collect()
      val scan = q.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.get
      assert(scan.partitionFilters.mkString.contains("sign_bucket"))
      assert(scan.metrics("numFiles").value < spark.read.parquet(out)
        .inputFiles.length)
      // identical rows as the original index
      assert(spark.read.parquet(out).orderBy("vec_id").collect() ===
        spark.read.parquet(idx).orderBy("vec_id").collect())
    }
  }
}
