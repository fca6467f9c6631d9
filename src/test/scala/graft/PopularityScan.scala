package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.DataSourceScanExec

import graft.queries.HighlightQueries
import graft.queries.HighlightQueries.{Params, TrendsTables}

/** The `status_popularity` scan of a highlight query — the one scan that
  * reads `checked_at` — and whether the source was asked for one day. */
object PopularityScan {

  /** The scan's PushedFilters line (parquet or JDBC), in full: the
    * formatted-explain form of a scan node is not abbreviated. */
  def pushedFilters(df: DataFrame): String = {
    val scans = df.queryExecution.sparkPlan.collect {
      case s: DataSourceScanExec
          if s.output.exists(_.name.equalsIgnoreCase("checked_at")) =>
        s.verboseStringWithOperatorId()
    }
    assert(scans.size == 1, df.queryExecution.sparkPlan.toString)
    scans.head.linesIterator.find(_.startsWith("PushedFilters:")).getOrElse(scans.head)
  }

  /** Whether the pushed filters carry the `checked_at` day range. */
  def dayPinned(df: DataFrame): Boolean = {
    val f = pushedFilters(df).toLowerCase
    f.contains("greaterthanorequal(checked_at,") && f.contains("lessthan(checked_at,")
  }

  /** Every pass and count of the daily job in day and week mode, with
    * whether its popularity scan must be pinned to the day: always, except
    * the distinct-sources passes in week mode. */
  def cases(t: TrendsTables, day: Params): Seq[(String, DataFrame, Boolean)] = {
    val week = day.copy(sinceLastWeek = true,
      nowOverride = Some(s"${FixtureData.D} 12:00:00"))
    import HighlightQueries._
    Seq(
      ("curated", curatedHighlights(t, day), true),
      ("curated, week", curatedHighlights(t, week), true),
      ("distinct retweets", distinctSourcesHighlights(t, day.copy(includeRetweets = true)), true),
      ("distinct statuses", distinctSourcesHighlights(t, day), true),
      ("distinct retweets, week",
        distinctSourcesHighlights(t, week.copy(includeRetweets = true)), false),
      ("distinct statuses, week", distinctSourcesHighlights(t, week), false),
      ("count curated", countHighlights(t, day, distinctSources = false), true),
      ("count curated, week", countHighlights(t, week, distinctSources = false), true),
      ("count distinct", countHighlights(t, day, distinctSources = true), true),
      ("count distinct, week", countHighlights(t, week, distinctSources = true), false))
  }

  /** Fails naming every case whose pin is not as expected. */
  def assertPins(t: TrendsTables, day: Params): Unit = {
    val wrong = cases(t, day).collect {
      case (name, df, pin) if dayPinned(df) != pin =>
        s"$name: expected pinned=$pin, ${pushedFilters(df)}"
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }
}
