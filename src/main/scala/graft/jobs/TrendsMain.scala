package graft.jobs

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

import graft.model.Schemas
import graft.queries.HighlightQueries.{Params, TrendsTables}
import graft.sources.{DeclaredParquet, JdbcSource}
import graft.sources.JdbcSource.JdbcConfig

/**
 * CLI entry point ≙ the reference worker binary (`bin/trends`,
 * /root/reference/trends.go:84-131 flag surface; launched daily by cron —
 * fun.sh:342-409). Reference flags keep their names with `--` prefixes;
 * flags the reference declared but never consumed (`-username`,
 * `-read-from-local-db`, `-aggregate` — R7) are dropped.
 *
 *   --since-date=YYYY-MM-DD          default: today (≙ `date -I`)
 *   --publishers-list-id=<id>        required
 *   --deprecated-list-id=<id>        default: the hard-coded second id
 *   --migrate-distinct-sources-only  skip passes 1-2 (EP2)
 *   --since-last-week                F4 week window (corrected semantics)
 *   --dry-mode                       print plans, write nothing (truly
 *                                    side-effect-free — documented deviation)
 *   --in-parallel=true|false         false ⇒ single write task (R4)
 *   --limit=N --page=N               pagination (sane offset = page*limit)
 *
 * Source/sink selection (ours):
 *   --tables-dir=<dir>               parquet dir with the five tables
 *   --jdbc-url=<url>                 read the five tables over JDBC instead
 *   --jdbc-driver=<class>            with --jdbc-url
 *   --sink-path=<dir>                partitioned parquet sink (default)
 *   --sink-jdbc-table=<table>        JDBC upsert sink (with --jdbc-url)
 */
object TrendsMain {

  def parseArgs(args: Array[String]): Map[String, String] =
    args.map { a =>
      val s = a.stripPrefix("--")
      s.split("=", 2) match {
        case Array(k, v) => k -> v
        case Array(k) => k -> "true"
      }
    }.toMap

  def paramsFrom(opts: Map[String, String]): Params = Params(
    sinceDate = opts.getOrElse("since-date",
      java.time.LocalDate.now().toString),
    listId = opts.getOrElse("publishers-list-id",
      sys.error("--publishers-list-id is required")),
    deprecatedListId = opts.getOrElse("deprecated-list-id",
      graft.queries.HighlightQueries.DeprecatedListId),
    limit = opts.getOrElse("limit", "10").toInt,
    page = opts.getOrElse("page", "0").toInt,
    sinceLastWeek = opts.contains("since-last-week"))

  /** The five tables of a parquet dir, each read with its declared
    * `Schemas` struct: no Spark job infers a schema, and a table whose
    * files lack a declared column or hold it at another type raises here,
    * before any query runs (DeclaredParquet). */
  def loadParquetTables(spark: SparkSession, dir: String): TrendsTables = {
    def table(name: String, schema: StructType) =
      DeclaredParquet.read(spark, s"$dir/$name.parquet", schema)
    TrendsTables(
      weavingStatus = table("weaving_status", Schemas.weavingStatus),
      highlight = table("highlight", Schemas.highlight),
      publishersList = table("publishers_list", Schemas.publishersList),
      statusPopularity = table("status_popularity", Schemas.statusPopularity),
      weavingUser = table("weaving_user", Schemas.weavingUser))
  }

  def run(spark: SparkSession, opts: Map[String, String]): Unit = {
    val cfg = TrendsJob.Config(
      params = paramsFrom(opts),
      sinkPath = opts.getOrElse("sink-path", "trends_out"),
      distinctSourcesOnly = opts.contains("migrate-distinct-sources-only"),
      dryRun = opts.contains("dry-mode"))
    // --in-parallel=false ⇒ sequential single-task write (R4)
    val writeTasks = if (opts.get("in-parallel").contains("false")) 1 else 100
    def jdbcSource(url: String) = JdbcConfig(url, opts.getOrElse("jdbc-driver",
      "org.apache.derby.iapi.jdbc.AutoloadedDriver"))
    (opts.get("jdbc-url"), opts.get("sink-jdbc-table")) match {
      case (Some(url), Some(table)) =>
        TrendsJob.runOverJdbc(spark, jdbcSource(url), cfg, url, table)
      case (Some(url), None) =>
        TrendsJob.run(JdbcSource.trendsTables(spark, jdbcSource(url)), cfg,
          writeTasks)
      case (None, _) =>
        val dir = opts.getOrElse("tables-dir",
          sys.error("one of --tables-dir or --jdbc-url is required"))
        TrendsJob.run(loadParquetTables(spark, dir), cfg, writeTasks)
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("trends")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .getOrCreate()
    try run(spark, parseArgs(args))
    finally spark.stop()
  }
}
