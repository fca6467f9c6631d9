package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types._

import graft.sources.TextCorpusSource

/** JSONL/CSV corpus ingestion: explicit schema, malformed lines quarantined
  * (skip-not-fatal, the file twin of P12), one parse pass for both splits. */
class TextCorpusSourceSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType)))

  test("jsonl: clean rows parse, malformed lines quarantine, one cached pass") {
    withTempDirs("graft-jsonl") { case Seq(root) =>
      val dir = Paths.get(root)
      Files.writeString(dir.resolve("part-0.jsonl"),
        """{"doc_id": 1, "text": "hello world", "lang": "en"}
          |{"doc_id": 2, "text": "bonjour", "lang": "fr"}
          |{this line is not json at all
          |{"doc_id": 3, "text": "ok", "lang": "en"}
          |""".stripMargin)
      val corpus = TextCorpusSource.quarantine(
        TextCorpusSource.jsonl(spark, dir.toString, schema))
      try {
        assert(corpus.clean.columns.toSeq === Seq("doc_id", "text", "lang"))
        val ids = corpus.clean.collect().map(_.getAs[Long]("doc_id")).sorted
        assert(ids.toSeq === Seq(1L, 2L, 3L))
        val bad = corpus.quarantined.collect().map(_.getString(0))
        assert(bad.length === 1)
        assert(bad.head.startsWith("{this line"))
      } finally corpus.release()
    }
  }

  test("csv: wrong-arity rows quarantine instead of failing the job") {
    withTempDirs("graft-csv") { case Seq(root) =>
      val dir = Paths.get(root)
      Files.writeString(dir.resolve("part-0.csv"),
        """1,hello world,en
          |2,bonjour,fr,EXTRA_FIELD
          |3,ok,en
          |""".stripMargin)
      val corpus = TextCorpusSource.quarantine(
        TextCorpusSource.csv(spark, dir.toString, schema))
      try {
        val ids = corpus.clean.collect().map(_.getAs[Long]("doc_id")).sorted
        assert(ids.toSeq === Seq(1L, 3L))
        assert(corpus.quarantined.count() === 1)
      } finally corpus.release()
    }
  }

  test("jsonl split parallelizes without Tables.spread (line-splittable)") {
    withTempDirs("graft-jsonl-split") { case Seq(root) =>
      // a single 4k-line file must scan as >1 partition under a small
      // maxPartitionBytes — the property parquet's row groups deny
      val dir = Paths.get(root)
      val lines = (1 to 4000)
        .map(i => s"""{"doc_id": $i, "text": "${"x" * 80}", "lang": "en"}""")
      Files.writeString(dir.resolve("big.jsonl"), lines.mkString("\n"))
      val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
      spark.conf.set("spark.sql.files.maxPartitionBytes", (64 * 1024).toString)
      try {
        val df = TextCorpusSource.jsonl(spark, dir.toString, schema)
        assert(df.rdd.getNumPartitions > 1)
        assert(df.count() === 4000)
      } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    }
  }
}
