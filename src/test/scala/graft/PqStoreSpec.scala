package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.ops.{Pq, PqStore}

/** The stored residual IVF-PQ index (q188's storage): probe ≡ the
  * in-query twin, frozen-codebook incremental ingest ≡ a full rebuild
  * when the seed rows are in the initial build, and the probe's codes
  * scan is partition-pruned to the routed cells. */
class PqStoreSpec extends SparkSpec {
  import spark.implicits._

  private val P = PqStore.Params(dim = 16, m = 4, codebookK = 6,
    nCells = 4)

  /** Deterministic pseudo-random vectors, ids 0 until n. */
  private def vecs(n: Int, seed: Int = 7) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Seq.fill(16)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
  }

  private val query: Seq[Float] = Seq.fill(16)(0.4f)

  private def collectTopK(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("stored probe ≡ the in-query residual IVF-PQ twin") {
    withTempDirs("graft-pqstore") { case Seq(dir) =>
      val df = vecs(80)
      val root = s"$dir/idx"
      PqStore.build(df, "vec_id", "embedding", root, P)
      val stored = collectTopK(PqStore.probeTopK(spark, root, query,
        nProbe = 2, k = 10))
      val twin = collectTopK(Pq.ivfPqResidualTopK(df, "vec_id", "embedding",
        query, P.dim, P.m, P.codebookK, P.nCells, nProbe = 2, k = 10))
      assert(stored === twin)
      assert(stored.nonEmpty)
    }
  }

  test("frozen-codebook ingest: build(prefix) + ingest(rest) ≡ " +
    "build(all) when the prefix holds the seed rows") {
    withTempDirs("graft-pqstore", "graft-pqstore") { case Seq(incDir, fullDir) =>
      val all = vecs(100)
      val prefix = all.filter(col("vec_id") < 60L) // holds seeds 0..5, cells 0..3
      val rest = all.filter(col("vec_id") >= 60L)
      val incRoot = s"$incDir/idx"; val fullRoot = s"$fullDir/idx"
      PqStore.build(prefix, "vec_id", "embedding", incRoot, P)
      PqStore.ingest(spark, rest, "vec_id", "embedding", incRoot)
      PqStore.build(all, "vec_id", "embedding", fullRoot, P)
      for (probe <- 1 to 4) {
        val inc = collectTopK(PqStore.probeTopK(spark, incRoot, query,
          nProbe = probe, k = 15))
        val full = collectTopK(PqStore.probeTopK(spark, fullRoot, query,
          nProbe = probe, k = 15))
        assert(inc === full, s"nProbe=$probe")
      }
      // and the incremental index answers for the ingested rows too: with
      // every cell probed, all 100 ids are rankable
      val every = PqStore.probeTopK(spark, incRoot, query, nProbe = 4,
        k = 100).collect()
      assert(every.length === 100)
    }
  }

  /** Scans under AQE live inside materialized query stages — descend. */
  private def allScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[FileSourceScanExec] =
    p.collect { case s: FileSourceScanExec => Seq(s) }.flatten ++
      p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allScans(q.plan)
      }.flatten

  test("probe scan is partition-pruned to the routed cells") {
    withTempDirs("graft-pqstore") { case Seq(dir) =>
      val df = vecs(80)
      val root = s"$dir/idx"
      PqStore.build(df, "vec_id", "embedding", root, P)
      val probe = PqStore.probeTopK(spark, root, query, nProbe = 2, k = 10)
      probe.collect()
      val scan = allScans(probe.queryExecution.executedPlan)
        .find(_.relation.partitionSchema.fieldNames.contains("cell_id"))
        .get
      assert(scan.partitionFilters.mkString.contains("cell_id"))
      val selected = scan.metrics("numFiles").value
      val total = spark.read.parquet(s"$root/codes").inputFiles.length
      assert(selected < total,
        s"scan read $selected of $total files — no pruning happened")
    }
  }

  test(" ingest appends file-granular slices: the stored base is untouched") {
    withTempDirs("graft-pqstore") { case Seq(dir) =>
      val all = vecs(40)
      val root = s"$dir/idx"
      PqStore.build(all.filter(col("vec_id") < 30L), "vec_id", "embedding",
        root, P)
      val before = spark.read.parquet(s"$root/codes").inputFiles.toSet
      PqStore.ingest(spark, all.filter(col("vec_id") >= 30L), "vec_id",
        "embedding", root)
      val after = spark.read.parquet(s"$root/codes").inputFiles.toSet
      assert(before.subsetOf(after), "ingest rewrote existing code files")
      assert(after.size > before.size)
      // every vector is coded exactly once per subspace
      val n = spark.read.parquet(s"$root/codes")
        .groupBy(col("vec_id")).agg(count(lit(1)).as("c"))
        .filter(col("c") =!= P.m).count()
      assert(n === 0L)
    }
  }
}
