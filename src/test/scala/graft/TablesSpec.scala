package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions.col

import graft.queries.{FrontierQueries, PairStore}
import graft.sources.DeclaredParquet
import graft.streaming.IngestPipeline

/** `Tables.load` reads a table's schema from a parquet footer on the
  * driver: the first load of a table in a session starts no Spark job
  * (so none lands inside the query builder that reads the table first),
  * and the schema is the one Spark's own inference gives. The readers of
  * stored tables outside `Tables` do the same. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  /** The repository's committed copy of the ten sf0.1 tables. */
  private val source = "perfbench/data/sf0.1"

  /** Fresh copies of the ten tables in `dir` (read only, the source is
    * never written): no earlier load of this session has seen them. */
  private def copyTables(dir: String): Unit =
    Tables.names.foreach { t =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(Tables.path(source, t)),
        java.nio.file.Paths.get(Tables.path(dir, t)))
    }

  test("a cold Tables.load starts no job and infers Spark's schema, for all ten tables") {
    withTempDirs("graft-tables") { case Seq(dir) =>
      copyTables(dir)
      val nanos = "spark.sql.legacy.parquet.nanosAsLong"
      val prevNanos = spark.conf.getOption(nanos)
      // events' `ts` may be TIMESTAMP(NANOS), which Spark reads only as a long
      spark.conf.set(nanos, "true")
      try {
        val (loaded, jobs) =
          jobsOf(Tables.names.map(t => t -> Tables.load(spark, dir, t).schema))
        assert(jobs === 0, "a cold Tables.load started jobs")
        loaded.foreach { case (t, schema) =>
          assert(schema === spark.read.parquet(Tables.path(dir, t)).schema, t)
        }
      } finally prevNanos match {
        case Some(v) => spark.conf.set(nanos, v)
        case None => spark.conf.unset(nanos)
      }
    }
  }

  test("stored-table readers start no job; a missing path still raises") {
    withTempDirs("graft-readers") { case Seq(dir) =>
      copyTables(dir)
      val store = s"$dir/store"
      IngestPipeline.writeIndexSlice(Seq(1L -> "a b c d").toDF("doc_id", "text"),
        store, IngestPipeline.CorpusBatchId)
      IngestPipeline.processBatch(Seq(2L -> "e f g h").toDF("doc_id", "text"),
        0L, store, IngestPipeline.protectedIndex(Seq(3L -> "i j k l").toDF("doc_id", "text")))
      PairStore.nearDupPairs(spark, dir) // builds the stored pair table

      val (read, jobs) = jobsOf(Seq(
        IngestPipeline.readSurvivors(spark, store),
        PairStore.nearDupPairs(spark, dir),
        FrontierQueries.q200JoinElim(spark, dir),
        FrontierQueries.q214LeftJoinElim(spark, dir)))
      assert(jobs === 0, "a stored-table reader started jobs")
      val survivors = read.head
      assert(survivors.columns.toSeq === Seq("doc_id", "text", "ingest_batch"))
      assert(survivors.select(col("doc_id")).as[Long].collect().toSeq === Seq(2L))
      assert(read(1).columns.toSeq === Seq("id_a", "id_b", "jaccard"))

      val empty = java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(dir, "empty")).toString
      Seq(s"$dir/missing", empty).foreach { path =>
        intercept[AnalysisException](DeclaredParquet.readInferred(spark, path))
        intercept[AnalysisException](IngestPipeline.readSurvivors(spark, path))
      }
    }
  }
}
