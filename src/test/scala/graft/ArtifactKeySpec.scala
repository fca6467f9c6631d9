package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.queries.{ExtQueries, FrontierQueries}

/**
 * A stored artifact is keyed by the tables its build reads
 * ([[Artifacts.stored]]): rewriting one of them mid-session must yield the
 * new answer, and rewriting a table the build does not read must reuse the
 * stored artifact. The data dir is a small synthetic one written here, with
 * two planted near-duplicate pairs for q39: (10, 11) and (20, 23).
 */
class ArtifactKeySpec extends SparkSpec {
  import spark.implicits._

  private def words(seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(40)(s"w${rnd.nextInt(500)}")
  }

  private def writeDocs(dir: String, docs: Map[Long, Seq[String]]): Unit =
    docs.toSeq.sortBy(_._1).map { case (id, ws) =>
      val text = ws.mkString(" ")
      (id, text, "en", s"src${id % 3}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(Tables.path(dir, "documents"))

  private val docs: Map[Long, Seq[String]] = {
    val base = (0L until 40L).map(id => id -> words(id)).toMap
    base ++ Map(11L -> (base(10L).init :+ "changed"),
      23L -> (base(20L).init :+ "other"))
  }

  private def writeSmall(dir: String, name: String, tag: String): Unit =
    (0L until 5L).map(k => (k, s"$tag-$k")).toDF("k", "v")
      .write.mode("overwrite").parquet(Tables.path(dir, name))

  private def writeDims(dir: String, tag: String): Unit = {
    (0 until 5).map(k => (k, s"$tag-region-$k")).toDF("r_regionkey", "r_name")
      .write.mode("overwrite").parquet(Tables.path(dir, "region"))
    (0 until 10).map(k => (k, s"nation-$k", k % 5)).toDF("n_nationkey", "n_name", "n_regionkey")
      .write.mode("overwrite").parquet(Tables.path(dir, "nation"))
  }

  private def stored(prefix: String): Int = {
    val s = Files.list(Artifacts.root(spark))
    try s.iterator().asScala.count(_.getFileName.toString.startsWith(prefix))
    finally s.close()
  }

  private def q39(dir: String): Seq[Row] =
    ExtQueries.q39IncrementalDedup(spark, dir).collect().toSeq

  test("q39 answers from the rewritten documents table mid-session") {
    withTempDirs("artifact-key-live", "artifact-key-fresh") { case Seq(dir, fresh) =>
      writeDocs(dir, docs)
      val before = q39(dir)
      assert(before.map(r => (r.getLong(0), r.getLong(1))) === Seq((10L, 11L), (20L, 23L)))
      val rewritten = docs + (11L -> words(1011L))
      writeDocs(dir, rewritten)
      writeDocs(fresh, rewritten)
      val expected = q39(fresh)
      assert(expected.map(r => (r.getLong(0), r.getLong(1))) === Seq((20L, 23L)))
      assert(q39(dir) === expected)
    }
  }

  test("rewriting a table the build does not read keeps the stored artifact") {
    withTempDirs("artifact-key-unrelated") { case Seq(dir) =>
      writeDocs(dir, docs)
      writeSmall(dir, "orders", "a")
      writeDims(dir, "a")
      val answer = q39(dir)
      val q39Builds = stored("q39-index-")
      writeSmall(dir, "orders", "b")
      assert(q39(dir) === answer)
      assert(stored("q39-index-") === q39Builds)

      // q216 builds from region, not from documents
      FrontierQueries.q216JoinElimZoned(spark, dir).collect()
      val regionBuilds = stored("zoned-region-")
      writeDocs(dir, docs + (11L -> words(1011L)))
      FrontierQueries.q216JoinElimZoned(spark, dir).collect()
      assert(stored("zoned-region-") === regionBuilds)
      writeDims(dir, "b")
      FrontierQueries.q216JoinElimZoned(spark, dir).collect()
      assert(stored("zoned-region-") === regionBuilds + 1)
    }
  }
}
