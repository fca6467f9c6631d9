package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Correctness dump: each registered query's result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/check_oracle.py).
  *
  *   runMain graft.Verify <sfDir> <outDir>
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try dump(spark, SparkEntry.selected(), sfDir, outDir)
    finally spark.stop()
  }

  /** Writes each spec's result to `<outDir>/<name>` and their oracle SQL to
    * `<outDir>/oracle_sql.json`. `<outDir>/<name>` is deleted before the
    * query builds, so a query that throws leaves no output — never an
    * earlier run's — and the oracle compare counts it as missing. */
  def dump(spark: SparkSession, specs: Seq[QuerySpec], sfDir: String,
           outDir: String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    specs.foreach { s =>
      Artifacts.deleteRecursively(Paths.get(outDir, s.name))
      try s.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${s.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${s.name} failed: ${e.getMessage}")
      }
      // release anything a query pinned (CacheScope results) — queries are
      // independent dumps, nothing should accumulate across all of them
      spark.catalog.clearCache()
    }
    val json = specs.map(s => s"${quote(s.name)}: ${quote(s.oracleSql)}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in the oracle SQL would otherwise make the compare's
    * json.load fail and silently zero the correctness gate. */
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
