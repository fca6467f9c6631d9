package graft

import org.apache.spark.sql.functions._

import graft.sources.EvolvingParquetSource

/** Schema-evolution source: union-of-schemas discovery, fail-fast on
  * truly missing required columns, explicit defaults for evolved ones. */
class EvolvingSourceSpec extends SparkSpec {
  import spark.implicits._

  test("old files' missing columns surface as defaults, not silent drops") {
    withTempDirs("graft-evolve") { case Seq(dir) =>
      // generation 1: (id, text) — written before `lang` existed
      Seq((1L, "alpha"), (2L, "beta")).toDF("id", "text")
        .write.parquet(s"$dir/gen=1")
      // generation 2: (id, text, lang)
      Seq((3L, "gamma", "en")).toDF("id", "text", "lang")
        .write.parquet(s"$dir/gen=2")

      val out = EvolvingParquetSource.read(spark, dir,
          required = Seq("id", "text", "lang"),
          defaults = Map("lang" -> lit("und")))
        .select("id", "text", "lang").orderBy("id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      assert(out.toSeq === Seq(
        (1L, "alpha", "und"), (2L, "beta", "und"), (3L, "gamma", "en")))

      // without mergeSchema the same read can silently lose `lang`:
      // discovery here must see the union regardless of file order
      val schema = EvolvingParquetSource.discoverSchema(spark, dir)
      assert(schema.fieldNames.toSet === Set("id", "text", "lang", "gen"))
    }
  }

  test("a required column absent from every file fails fast") {
    withTempDirs("graft-evolve") { case Seq(dir) =>
      Seq((1L, "x")).toDF("id", "text").write.mode("overwrite").parquet(dir)
      val e = intercept[IllegalArgumentException] {
        EvolvingParquetSource.read(spark, dir, required = Seq("id", "quality"))
      }
      assert(e.getMessage.contains("quality"))
    }
  }

  test("readExact scopes defaults to files lacking the column; genuine NULLs survive") {
    withTempDirs("graft-evolve") { case Seq(dir) =>
      // generation 1: written before `lang` existed — its rows get the default
      Seq((1L, "alpha"), (2L, "beta")).toDF("id", "text")
        .write.parquet(s"$dir/gen=1")
      // generation 2: HAS `lang`, including a genuine NULL that must survive
      Seq((3L, "gamma", Some("en")), (4L, "delta", None))
        .toDF("id", "text", "lang").write.parquet(s"$dir/gen=2")

      val exact = EvolvingParquetSource.readExact(spark, dir,
          required = Seq("id", "text", "lang"),
          defaults = Map("lang" -> lit("und")))
        .select("id", "lang").orderBy("id")
        .collect().map(r => (r.getLong(0), Option(r.getString(1))))
      assert(exact.toSeq === Seq(
        (1L, Some("und")), (2L, Some("und")),
        (3L, Some("en")), (4L, None)),
        "default must fill ONLY schema-evolution nulls, never written NULLs")

      // the coarse read() collapses both — that is its documented contract
      val coarse = EvolvingParquetSource.read(spark, dir,
          defaults = Map("lang" -> lit("und")))
        .select("id", "lang").orderBy("id")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(coarse.toSeq === Seq(
        (1L, "und"), (2L, "und"), (3L, "en"), (4L, "und")))
    }
  }

  test("a default also applies to a column absent everywhere (backfill-to-be)") {
    withTempDirs("graft-evolve") { case Seq(dir) =>
      Seq((1L, "x")).toDF("id", "text").write.mode("overwrite").parquet(dir)
      val out = EvolvingParquetSource.read(spark, dir,
          defaults = Map("score" -> lit(0.0)))
        .select("id", "score").collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(out.toSeq === Seq((1L, 0.0)))
    }
  }
}
