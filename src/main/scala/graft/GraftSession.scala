package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/**
 * The one way every entry point builds its session: the daily job
 * (`TrendsMain`), `Verify`, `Bench`, `StreamBench`, `PlanDump`, `WorkMass`
 * and the specs all run the plans of the same settings, the ones the
 * benchmark's `session` block (perfbench/workloads.json) times. Shuffle
 * partitions always equal the cores.
 */
object GraftSession {

  /** Cores of a session: `SPARK_GRAFT_CPUS`, else every processor this JVM
    * may use. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The master and Spark settings of a `cores`-core session, keyed as in
    * the benchmark's `session` block. */
  def settings(cores: Int): ListMap[String, String] = ListMap(
    "master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.ui.enabled" -> "false")

  /** A builder with `settings(cores)` applied; `SPARK_MASTER`, when set,
    * replaces the local master with a deployment's address. */
  def builder(cores: Int = GraftSession.cores): SparkSession.Builder =
    settings(cores).foldLeft(SparkSession.builder()) {
      case (b, ("master", local)) => b.master(sys.env.getOrElse("SPARK_MASTER", local))
      case (b, (k, v)) => b.config(k, v)
    }
}
