package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.expr.CoreExprs._
import graft.ops.Joins

/**
 * The reference engine's three analytical queries (trends.go:256-529),
 * re-expressed as pure `(tables, params) => DataFrame` builders. The
 * reference assembles SQL strings from a 2×2 flag matrix
 * (distinctSources × includeRetweets, trends.go:274-406); here the same
 * branching happens in Scala and the "IR" is the Catalyst logical plan.
 *
 * Output is the 11-column contract of trends.go:279-292
 * (graft.model.Schemas.resultRow).
 */
object HighlightQueries {

  /** The hard-coded second list id (trends.go:39). */
  val DeprecatedListId = "35ca09fb-2a7e-4a9e-a2f0-8989a4b68b79"

  /** Query parameters ≙ the reference's bound params + flags
    * (trends.go:84-131, 422-448). `sinceLastWeek` is F4 with the CORRECTED
    * semantics (the reference flag emits invalid SQL — trends.go:531-534);
    * `nowOverride` freezes the week-window clock for tests. */
  final case class Params(
      sinceDate: String,
      listId: String,
      deprecatedListId: String = DeprecatedListId,
      includeRetweets: Boolean = false,
      limit: Int = 10,
      page: Int = 0,
      sortDesc: Boolean = true,
      excludeDeletedMembers: Boolean = true,
      sinceLastWeek: Boolean = false,
      nowOverride: Option[String] = None)

  /** The five source tables (graft.model.Schemas). */
  final case class TrendsTables(
      weavingStatus: DataFrame,
      highlight: DataFrame,
      publishersList: DataFrame,
      statusPopularity: DataFrame,
      weavingUser: DataFrame)

  /** List-membership disjunction — `public_id = $2 OR public_id = $3`
    * (F10, trends.go:302-305). */
  private def listMatch(p: Params): Column =
    col("public_id").isin(p.listId, p.deprecatedListId)

  /** The week-window clock, frozen by `nowOverride` in tests. */
  private def nowCol(p: Params): Column =
    p.nowOverride.map(s => to_timestamp(lit(s))).getOrElse(current_timestamp())

  /** The `sinceWhen()` join fragment (trends.go:531-540): week mode swaps
    * the day alignment for the trailing-7-day window on the status's
    * creation time; `dayCond` is the mode-specific day-alignment fallback. */
  private def sinceWhen(p: Params, dayCond: Column): Column =
    if (p.sinceLastWeek) withinLastWeek(col("ust_created_at"), nowCol(p))
    else dayCond

  /** Deleted-member key list: comma-join weaving_user × publishers_list on
    * username = screen_name, soft-deleted lists only (J7/F9,
    * trends.go:315-319). Both dims are small → broadcast inner join. */
  private def deletedMembers(t: TrendsTables): DataFrame =
    t.weavingUser.join(
      broadcast(t.publishersList
        .filter(col("deleted_at").isNotNull)
        .filter(col("screen_name").isNotNull)
        .select(col("screen_name"))),
      col("usr_twitter_username") === col("screen_name"))

  /** Same-day popularity samples aligned to the highlight's publication day
    * (J5, trends.go:396-399).
    *
    * `pinDay` is the publication day the pass already pins, if any; the
    * samples are then filtered to that day before the join. The filter is
    * exact: the join's `p_day = dayBucket(publication_date_time)` already
    * forces every joined sample into that day. Unlike that join condition it
    * is a range on the bare `checked_at`, so it reaches the scan's
    * PushedFilters: a JDBC database returns one day's samples, parquet
    * skips the row groups whose `checked_at` statistics miss the day, and
    * the join's build side holds one day's samples instead of the whole
    * table. See [[publicationDay]] for which passes pin. */
  private def popularityJoined(t: TrendsTables, pinDay: Option[String]): DataFrame = {
    val samples = pinDay.fold(t.statusPopularity)(day =>
      t.statusPopularity.filter(dayBucketEquals(col("checked_at"), day)))
    val p = samples.select(
      col("status_id").as("p_status_id"),
      col("checked_at").as("p_checked_at"),
      col("total_retweets").as("p_total_retweets"),
      col("total_favorites").as("p_total_favorites"))
    p.withColumn("p_day", dayBucket(col("p_checked_at")))
  }

  /** The publication day a pass pins, to which [[popularityJoined]] can pin
    * the samples. The curated base (and its count) filters
    * `publication_date_time` to the day in every mode. The distinct-sources
    * passes (and their count) align it to the day only in the `sinceWhen`
    * day branch: in week mode the highlight join keeps any publication day
    * inside the window, so the samples of every such day must stay and the
    * popularity side stays unpinned. */
  private def publicationDay(p: Params, distinctSources: Boolean): Option[String] =
    if (distinctSources && p.sinceLastWeek) None else Some(p.sinceDate)

  /**
   * Curated-highlights query (trends.go:279-334, 394-406): INNER join tree
   * rooted at `highlight`, per-status dedup via GROUP BY over all output
   * expressions, MAX over the popularity coalesce chains, global sort +
   * pagination.
   */
  def curatedHighlights(t: TrendsTables, p: Params): DataFrame = {
    val s = t.weavingStatus
    var h = t.highlight
      .filter(dayBucketEquals(col("publication_date_time"), p.sinceDate))
    if (!p.includeRetweets)
      h = h.filter(col("is_retweet") === false) // F5, trends.go:274-277

    var joined = h
      .join(s,
        col("ust_id") === col("status_id") && // F3 alignment / F4 week window
          sinceWhen(p, dayBucketEquals(col("ust_created_at"), p.sinceDate)))
      .join(broadcast(t.publishersList.filter(listMatch(p))), // J2 small dim
        col("aggregate_id") === col("id"))

    if (p.excludeDeletedMembers) // F7 NOT-IN semantics
      joined = Joins.notInFaithful(joined,
        deletedMembers(t).select(col("usr_id")),
        col("member_id"), col("usr_id"))

    val pop = popularityJoined(t, publicationDay(p, distinctSources = false))
    val withPop = joined.join(pop, // J5 temporal alignment
      col("p_status_id") === col("status_id") &&
        col("p_day") === dayBucket(col("publication_date_time")),
      "left")

    // A1 group-by-all-output dedup + A2 MAX(COALESCE(...)); the favorites
    // chain uses the SANE semantics, not trends.go:344's mixed-chain bug.
    val grouped = withPop
      .groupBy(
        col("ust_status_id"), col("ust_full_name"), col("ust_text"),
        col("ust_created_at"), col("ust_api_document"), col("ust_id"),
        col("is_retweet"), col("publication_date_time"))
      .agg(
        max(coalesce(col("p_total_retweets"), col("total_retweets")))
          .as("retweets"),
        max(coalesce(col("p_total_favorites"), col("total_favorites")))
          .as("favorites"))

    val projected = grouped.select(
      statusUrl(col("ust_full_name"), col("ust_status_id")).as("url"),
      col("ust_full_name").as("username"),
      col("ust_text").as("tweet"),
      col("ust_created_at").as("publicationDate"),
      col("ust_api_document").as("json"),
      col("retweets"),
      col("favorites"),
      col("ust_id").as("id"),
      col("ust_status_id").as("statusId"),
      col("is_retweet"),
      // the reference emits the status CREATION time as checkedAt
      // (`s.ust_created_at as checkedAt`, trends.go:291) — it is NOT a
      // popularity-sample timestamp
      col("ust_created_at").as("checkedAt"))

    paginate(sort(projected, p), p)
  }

  /**
   * Distinct-sources query (trends.go:336-392): base flipped to
   * `weaving_status` LEFT JOIN `highlight` (J3), disjunctive list join (J4),
   * author-id anti join (F8), then ONE row per publisher via a single
   * struct-max argmax (A3) — all payload columns come from the publisher's
   * most-retweeted status, ties broken by status id DESC (pinned, unlike the
   * reference's unspecified ARRAY_AGG tiebreak — SURVEY §7.4 #2).
   */
  def distinctSourcesHighlights(t: TrendsTables, p: Params): DataFrame = {
    val s = t.weavingStatus
      .filter(dayBucketEquals(col("ust_created_at"), p.sinceDate)) // F2

    val h = t.highlight.select(
      col("status_id"), col("aggregate_id"), col("member_id"),
      col("is_retweet"), col("publication_date_time"),
      col("total_retweets"), col("total_favorites"))

    // J3 — LEFT join; when retweets are excluded the reference puts
    // `h.is_retweet = false` INSIDE the ON clause (trends.go:356), so a
    // status whose highlight row is retweet-flagged keeps NULL h columns
    // (its kind then falls back to the doc heuristic) instead of dropping.
    val hCond = col("ust_id") === col("status_id") &&
      sinceWhen(p, dayBucketEquals(col("publication_date_time"), p.sinceDate)) &&
      (if (!p.includeRetweets) col("is_retweet") === false else lit(true))
    val base = s.join(h, hCond, "left")

    // F6 — retweet-kind filter on the coalesced flag
    val kindFiltered = base.filter(
      isOfRetweetKind(col("is_retweet"), col("ust_api_document"))
        === lit(p.includeRetweets))

    // J4 — disjunctive join against the tiny list dim. `publishers_list` is
    // broadcast, so the OR-predicate join is a broadcast nested loop over a
    // dimension of a few hundred rows — the union-of-equi-joins rewrite
    // (CoreQueries.q05) is the path for a large dim.
    val pl = t.publishersList.filter(listMatch(p))
      .select(col("id").as("pl_id"), col("screen_name"))
    val listJoined = kindFiltered.join(broadcast(pl),
      col("aggregate_id") === col("pl_id") ||
        (col("ust_full_name") === col("screen_name") && col("screen_name").isNotNull))

    // F8 — deleted-member exclusion by author twitter id dug out of the doc
    val excluded =
      if (p.excludeDeletedMembers)
        Joins.notInFaithful(listJoined,
          deletedMembers(t).select(col("usr_twitter_id").cast(LongType).as("del_tid")),
          authorTwitterId(col("ust_api_document")), col("del_tid"))
      else listJoined

    val pop = popularityJoined(t, publicationDay(p, distinctSources = true))
    val withPop = excluded.join(pop,
      col("p_status_id") === col("status_id") &&
        col("p_day") === dayBucket(col("publication_date_time")),
      "left")

    // A3 — the ranking key: COALESCE(popularity, frozen, doc.retweet_count)
    val k = retweetsChain(col("p_total_retweets"), col("total_retweets"),
      col("ust_api_document"))

    val grouped = withPop
      .groupBy(col("ust_full_name"))
      .agg(
        max(struct(
          k.as("k"),
          col("ust_status_id").as("tiebreak"),
          col("ust_text").as("tweet"),
          // publicationDate AND checkedAt are both the winner's creation
          // time in the reference (trends.go:340, 348)
          col("ust_created_at").as("publicationDate"),
          col("ust_api_document").as("json"),
          col("ust_id").as("id"),
          // the reference argmaxes the COALESCED kind flag (trends.go:347),
          // not the raw highlight column
          isOfRetweetKind(col("is_retweet"), col("ust_api_document"))
            .as("is_retweet"))).as("best"),
        max(retweetsChain(col("p_total_retweets"), col("total_retweets"),
          col("ust_api_document"))).as("retweets"),
        max(favoritesChain(col("p_total_favorites"), col("total_favorites"),
          col("ust_api_document"))).as("favorites"))

    val projected = grouped.select(
      statusUrl(col("ust_full_name"), col("best.tiebreak")).as("url"),
      col("ust_full_name").as("username"),
      col("best.tweet").as("tweet"),
      col("best.publicationDate").as("publicationDate"),
      col("best.json").as("json"),
      col("retweets"),
      col("favorites"),
      col("best.id").as("id"),
      col("best.tiebreak").as("statusId"),
      col("best.is_retweet").as("is_retweet"),
      col("best.publicationDate").as("checkedAt"))

    paginate(sort(projected, p), p)
  }

  /**
   * The COUNT query (A4, trends.go:450-529), faithful to three reference
   * quirks that make it deliberately NOT the main query's row count
   * (SURVEY §7.4 #6):
   *  - no retweet/kind filter in either mode (the count clause set has no
   *    constraintOnRetweetStatus and no isOfRetweetKind predicate);
   *  - the status_popularity LEFT JOIN is present (trends.go:494-498), so a
   *    status with several same-day samples counts once per sample;
   *  - distinct mode downgrades the list join to LEFT on `aggregate_id`
   *    alone — no screen-name disjunction, rows with no matching list still
   *    count (J6) — and applies no member exclusion.
   */
  def countHighlights(t: TrendsTables, p: Params,
                      distinctSources: Boolean): DataFrame = {
    val pop = popularityJoined(t, publicationDay(p, distinctSources))
    if (!distinctSources) {
      t.highlight
        .filter(dayBucketEquals(col("publication_date_time"), p.sinceDate))
        .join(t.weavingStatus,
          col("ust_id") === col("status_id") &&
            sinceWhen(p, dayBucketEquals(col("ust_created_at"), p.sinceDate)))
        .join(broadcast(t.publishersList.filter(listMatch(p))),
          col("aggregate_id") === col("id"))
        .join(pop,
          col("p_status_id") === col("status_id") &&
            col("p_day") === dayBucket(col("publication_date_time")),
          "left")
        .agg(count(lit(1)).as("highlights"))
    } else {
      val s = t.weavingStatus
        .filter(dayBucketEquals(col("ust_created_at"), p.sinceDate))
      val base = s.join(t.highlight,
        col("ust_id") === col("status_id") &&
          sinceWhen(p, dayBucketEquals(col("publication_date_time"), p.sinceDate)),
        "left")
      val pl = t.publishersList.filter(listMatch(p))
        .select(col("id").as("pl_id"))
      base.join(broadcast(pl), col("aggregate_id") === col("pl_id"), "left")
        .join(pop,
          col("p_status_id") === col("status_id") &&
            col("p_day") === dayBucket(col("publication_date_time")),
          "left")
        .agg(count(lit(1)).as("highlights"))
    }
  }

  private def sort(df: DataFrame, p: Params): DataFrame = {
    // O1 — caller-chosen direction, always DESC at the reference call sites
    // (trends.go:160, 182, 196); statusId tiebreak pinned for determinism.
    val key = if (p.sortDesc) col("retweets").desc else col("retweets").asc
    df.orderBy(key, col("statusId"))
  }

  private def paginate(df: DataFrame, p: Params): DataFrame = {
    // O2 — sane pagination (offset = page * limit), NOT the reference's
    // `page * tweetPerPage(=100000)` constant (trends.go:40, 424) —
    // documented deviation (SURVEY §7.4 #5).
    val offset = p.page * math.max(p.limit, 0)
    val limited = if (offset > 0) df.offset(offset) else df
    if (p.limit >= 0) limited.limit(p.limit) else limited
  }
}
