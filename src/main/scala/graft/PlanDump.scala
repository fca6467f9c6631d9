package graft

import java.nio.file.{Files, Paths}

/**
 * Plan-audit main (optimization rounds): writes `explain("formatted")`
 * for every registered query (or the `SparkEntry.selected` subset) to one
 * file per query under the output directory — the artifact the
 * guide's "measure first" step wants next to the bench numbers, and
 * the evidence base for plan-shape claims (Exchange count, join
 * strategy, PushedFilters/ReadSchema).
 *
 *   runMain graft.PlanDump <sfDir> <outDir>
 *
 * Plans are the AQE initial plans (isFinalPlan=false) — no query is
 * executed, so side-effecting builders (streaming twins, store
 * writers) still run their setup but the dumped frame itself is
 * never materialized.
 */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 1) args(1) else "/tmp/plans"
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.selected().foreach { case QuerySpec(name, fn, _) =>
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(outDir, s"$name.txt"), txt)
        System.err.println(s"[plandump] $name ok")
      } catch { case e: Throwable =>
        Files.writeString(Paths.get(outDir, s"$name.txt"),
          s"PLAN FAILED: $e\n")
        System.err.println(s"[plandump] $name FAILED: $e")
      }
    }
    spark.stop()
  }
}
