package graft.ops

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * STORED residual IVF-PQ index — the production shape of [[Pq]]'s
 * in-query q183 twin: a real ANN deployment builds the codebook once,
 * persists (centroids, codebook, codes) as an artifact, answers every
 * probe from the stored codes, and INGESTS new vectors by encoding them
 * against the frozen codebook — never re-deriving the index per query
 * (the [[graft.streaming.IngestPipeline.writeIndexSlice]] precedent,
 * applied to vectors).
 *
 * Layout under the index root:
 *   centroids/  (cell_id, centvec)            — nCells rows, metadata
 *   codebook/   (m, code_id, codevec)         — M·K rows, metadata
 *   codes/      cell_id=<c>/ (vec_id, m, code_id) — the corpus, M rows
 *               per vector, PARTITIONED BY CELL so a probe's scan
 *               prunes to its nProbe directories (PartitionFilters in
 *               the plan, spec-asserted) — at 100 TB the probe touches
 *               nProbe/nCells of the code files and nothing else.
 *   _PARAMS     "dim m codebookK nCells" (the frozen geometry)
 *
 * Probe-time the only driver values are the nProbe routed cell ids —
 * CONFIG-bounded (like the zone manifest), never data-bounded; both
 * lookup tables broadcast. Ingest is O(batch): assign → residual →
 * encode against the frozen artifacts, append new files into the cell
 * directories (readers see whole files — parquet append is
 * file-granular).
 *
 * Equivalence contract (spec'd + oracle-gated): a probe over an index
 * built from `df` is row-identical to [[Pq.ivfPqResidualTopK]] on `df`,
 * and build(prefix) + ingest(rest) ≡ build(prefix ∪ rest) whenever the
 * prefix contains the seed rows (the lowest `max(codebookK, nCells)`
 * ids) — the frozen-codebook semantics, stated rather than hidden.
 */
object PqStore {

  /** The frozen index geometry, persisted beside the data. */
  final case class Params(dim: Int, m: Int, codebookK: Int, nCells: Int)

  private def centroidsDir(root: String) = s"$root/centroids"
  private def codebookDir(root: String) = s"$root/codebook"
  private def codesDir(root: String) = s"$root/codes"

  /** Build the full index at `root` (overwrites): coarse centroids and
    * the shared residual codebook from `df`'s lowest-id rows (the
    * [[Pq]] deterministic seeding), then EVERY vector's residual codes,
    * partitioned by cell. */
  def build(df: DataFrame, idCol: String, vecCol: String, root: String,
            p: Params): Unit = {
    val centroids = Pq.coarseCentroids(df, idCol, vecCol, p.nCells)
    centroids.write.mode("overwrite").parquet(centroidsDir(root))
    val resid = residuals(df, idCol, vecCol, centroids)
    CacheScope.withStages(resid) {
      val codebook = Pq.sampledCodebook(resid, idCol, "resid",
        p.dim, p.m, p.codebookK)
      codebook.write.mode("overwrite").parquet(codebookDir(root))
      writeCodes(resid, idCol, codebook, p, overwrite = true, root)
    }
    Files.writeString(Paths.get(root, "_PARAMS"),
      s"${p.dim} ${p.m} ${p.codebookK} ${p.nCells}\n")
  }

  /** O(batch) vector ingest: encode `newVecs` against the FROZEN stored
    * centroids + codebook and append into the cell partitions. Caller
    * contract: new ids are disjoint from stored ids (append, not
    * upsert — the IngestPipeline slice discipline). */
  def ingest(spark: SparkSession, newVecs: DataFrame, idCol: String,
             vecCol: String, root: String): Unit = {
    val p = readParams(root)
    val centroids = spark.read.parquet(centroidsDir(root))
    val codebook = spark.read.parquet(codebookDir(root))
    val resid = residuals(newVecs, idCol, vecCol, centroids)
    writeCodes(resid, idCol, codebook, p, overwrite = false, root)
  }

  /** Residual frame (cell_id, id, resid): nearest-centroid assignment,
    * then vec − centroid element-wise in double — the exact [[Pq]]
    * arithmetic, shared by build, ingest and the in-query twin. */
  private def residuals(df: DataFrame, idCol: String, vecCol: String,
                        centroids: DataFrame): DataFrame =
    Pq.coarseAssign(df, idCol, vecCol, centroids, keep = Seq(vecCol))
      .join(broadcast(centroids), Seq("cell_id"))
      .withColumn("resid", zip_with(col(vecCol), col("centvec"),
        (x, y) => x.cast("double") - y.cast("double")))
      .select(col("cell_id"), col(idCol), col("resid"))

  private def writeCodes(resid: DataFrame, idCol: String,
                         codebook: DataFrame, p: Params,
                         overwrite: Boolean, root: String): Unit =
    Pq.encode(resid, idCol, "resid", codebook, p.dim, p.m,
        keep = Seq("cell_id"))
      // co-locate each cell before the partitioned write (one file per
      // cell per write, not one per task × cell)
      .repartition(col("cell_id"))
      .write.mode(if (overwrite) "overwrite" else "append")
      .partitionBy("cell_id")
      .parquet(codesDir(root))

  private def readParams(root: String): Params = {
    val Array(d, m, k, c) =
      Files.readString(Paths.get(root, "_PARAMS")).trim.split(" ")
    Params(d.toInt, m.toInt, k.toInt, c.toInt)
  }

  /**
   * ADC top-k over the STORED index: route the query to its nProbe
   * nearest stored centroids, prune the codes scan to those cell
   * directories, rank by per-cell residual ADC — row-identical to
   * [[Pq.ivfPqResidualTopK]] over the indexed rows, but the corpus-side
   * work is a partition-pruned code scan, no assignment/encode at query
   * time.
   */
  def probeTopK(spark: SparkSession, root: String, query: Seq[Float],
                nProbe: Int, k: Int,
                idCol: String = "vec_id"): DataFrame = {
    val p = readParams(root)
    val sub = p.dim / p.m
    val centroids = spark.read.parquet(centroidsDir(root))
    val codebook = spark.read.parquet(codebookDir(root))
    val qArr = array(query.map(v => lit(v)): _*)
    // nProbe routed cells: config-bounded metadata → a literal IN-list,
    // so the codes scan prunes at PLANNING time (PartitionFilters)
    val probedCells = centroids
      .withColumn("qcd", Pq.sqDist(qArr, col("centvec")))
      .withColumn("prank", row_number().over(
        Window.orderBy(col("qcd"), col("cell_id"))))
      .filter(col("prank") <= nProbe)
      .select(col("cell_id")).collect().map(_.getInt(0)).sorted
    // per-cell query-residual lookup (nProbe·M·K rows, broadcast)
    val qdist = centroids
      .filter(col("cell_id").isin(probedCells.map(Integer.valueOf): _*))
      .crossJoin(broadcast(codebook))
      .withColumn("qressub", zip_with(
        slice(qArr, col("m") * sub + 1, lit(sub)),
        slice(col("centvec"), col("m") * sub + 1, lit(sub)),
        (x, y) => x.cast("double") - y.cast("double")))
      .withColumn("qd", Pq.sqDist(col("qressub"), col("codevec")))
      .select(col("cell_id"), col("m"), col("code_id"), col("qd"))
    spark.read.parquet(codesDir(root))
      .filter(col("cell_id").isin(probedCells.map(Integer.valueOf): _*))
      .join(broadcast(qdist), Seq("cell_id", "m", "code_id"))
      .groupBy(col(idCol))
      .agg(aggregate(
          array_sort(collect_list(struct(col("m"), col("qd")))),
          lit(0.0d), (acc, s) => acc + s.getField("qd"))
        .as("adc_dist"))
      .orderBy(col("adc_dist"), col(idCol))
      .limit(k)
  }

  // --- session-cached index over a testdata dir (the q188 storage) ------

  /** q183's geometry — the stored index gates against its oracle. */
  val DefaultParams: Params = Params(dim = 64, m = 4, codebookK = 16,
    nCells = 8)

  /** Cache path keyed by the embeddings table's
    * [[graft.Artifacts.fingerprint]] (BucketedAnn's discipline: a changed
    * source never serves a stale index). */
  def indexPath(dir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_pq_index_" +
      graft.Artifacts.fingerprint(graft.Tables.path(dir, "embeddings"))

  /** Build (once) the stored index for `dir`'s embeddings table; races
    * resolve by atomic rename, first build wins. */
  def ensureIndex(spark: SparkSession, dir: String): String = {
    val path = indexPath(dir)
    if (!Files.exists(Paths.get(path, "_PARAMS"))) {
      val tmp = s"$path.build-${ProcessHandle.current().pid()}-${System.nanoTime()}"
      build(graft.Tables.embeddings(spark, dir), "vec_id", "embedding",
        tmp, DefaultParams)
      try Files.move(Paths.get(tmp), Paths.get(path),
        StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileSystemException =>
        graft.Artifacts.deleteRecursively(Paths.get(tmp))
      }
    }
    path
  }
}
