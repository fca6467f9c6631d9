package graft.jobs

import org.apache.spark.sql.DataFrame

import graft.queries.HighlightQueries
import graft.queries.HighlightQueries.{Params, TrendsTables}
import graft.sink.KeyedPartitionSink

/**
 * The reference's three-pass daily orchestration (R6, trends.go:133-199):
 *
 *   pass 1: curated highlights, retweets excluded   → type "status"
 *   pass 2: distinct sources,  retweets only        → type "retweetFromDistinctSources"
 *   pass 3: distinct sources,  retweets excluded    → type "statusFromDistinctSources"
 *
 * `-migrate-distinct-sources-only` skips passes 1–2 (EP2, trends.go:151-185).
 * Dead reference flags (`-username`, `-read-from-local-db`, `-aggregate` —
 * R7, trends.go:84-108) are deliberately not carried over.
 */
object TrendsJob {

  final case class Config(
      params: Params,
      sinkPath: String,
      distinctSourcesOnly: Boolean = false,
      dryRun: Boolean = false)

  /** (statusType, distinctSources, includeRetweets) per pass. */
  val passes: Seq[(String, Boolean, Boolean)] = Seq(
    ("status", false, false),
    ("retweetFromDistinctSources", true, true),
    ("statusFromDistinctSources", true, false))

  def activePasses(distinctSourcesOnly: Boolean): Seq[(String, Boolean, Boolean)] =
    if (distinctSourcesOnly) passes.filter(_._2) .filter(!_._3) else passes

  /** Run one pass: count (progress/limit clamp in the reference — A5), query,
    * doc assembly. Returns the assembled docs ready for the sink. */
  def runPass(t: TrendsTables, cfg: Config,
              statusType: String, distinctSources: Boolean,
              includeRetweets: Boolean): DataFrame = {
    val p = cfg.params.copy(includeRetweets = includeRetweets)
    val result =
      if (distinctSources) HighlightQueries.distinctSourcesHighlights(t, p)
      else HighlightQueries.curatedHighlights(t, p)
    KeyedPartitionSink.assembleDocs(result, p.listId, p.sinceDate, statusType)
  }

  /** All active passes' docs unioned with their type discriminator
    * (SURVEY §2.7). */
  def docs(t: TrendsTables, cfg: Config): DataFrame =
    activePasses(cfg.distinctSourcesOnly)
      .map { case (st, ds, rt) => runPass(t, cfg, st, ds, rt) }
      .reduce(_ union _)

  /** Full daily run (EP1): [[docs]] written through the idempotent
    * partitioned sink in one shot, with at most `maxWriteTasks` write tasks
    * (1 ≙ the reference's `-in-parallel=false`, R4). */
  def run(t: TrendsTables, cfg: Config, maxWriteTasks: Int = 100): Unit =
    KeyedPartitionSink.write(docs(t, cfg), cfg.sinkPath, dryRun = cfg.dryRun,
      maxWriteTasks = maxWriteTasks)

  /**
   * The north star's full JDBC lifecycle: five tables read over JDBC
   * (≙ the reference's Postgres source, trends.go:215-223), three passes,
   * and the delete-then-insert upsert back over JDBC (≙ the Firebase node
   * pre-delete + keyed writes, trends.go:656-745). The replay scope is the
   * (list, date) node — exactly what the reference deletes before a rerun.
   */
  def runOverJdbc(spark: org.apache.spark.sql.SparkSession,
                  source: graft.sources.JdbcSource.JdbcConfig,
                  cfg: Config, sinkUrl: String, sinkTable: String): Unit = {
    val out = docs(graft.sources.JdbcSource.trendsTables(spark, source), cfg)
    if (cfg.dryRun) { out.explain("formatted"); return }
    graft.sink.JdbcUpsertSink.write(out, sinkUrl, sinkTable,
      Seq(Seq("list_id" -> cfg.params.listId,
        "ingest_date" -> cfg.params.sinceDate)))
  }
}
