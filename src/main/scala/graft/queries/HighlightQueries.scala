package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.expr.CoreExprs._

/**
 * The reference engine's three analytical queries (trends.go:256-529),
 * re-expressed as pure `(tables, params) => DataFrame` builders. The
 * reference assembles SQL strings from a 2×2 flag matrix
 * (distinctSources × includeRetweets, trends.go:274-406); here the same
 * branching happens in Scala and the "IR" is the Catalyst logical plan.
 * The daily job's passes are cells of that matrix, and [[highlights]]
 * builds any set of them as one plan: the curated and distinct-sources
 * queries are its single-pass views.
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

  /** The list dimension and the deleted-member keys as ONE row, read with
    * one scan of `publishers_list` and one of `weaving_user`:
    *  - `list_ids` / `list_names`: ids and non-NULL screen names of the
    *    rows on either list (F10);
    *  - `del_*`: the deleted-member key list (J7/F9, trends.go:315-319),
    *    weaving_user × publishers_list on username = screen_name over
    *    soft-deleted rows: its size, its `usr_id` and author-id keys, and
    *    whether it holds a NULL key, which is what SQL's NOT IN needs.
    * The user dimension is the broadcast side, so every list row survives
    * the join; the one-partition aggregate needs no exchange. */
  private def dims(t: TrendsTables, p: Params): DataFrame = {
    val members = t.publishersList.join(broadcast(t.weavingUser),
      col("deleted_at").isNotNull && col("screen_name").isNotNull &&
        col("usr_twitter_username") === col("screen_name"), "left")
    val deleted = col("usr_twitter_username").isNotNull
    val tid = col("usr_twitter_id").cast(LongType)
    members.coalesce(1).agg(
      collect_set(when(listMatch(p), col("id"))).as("list_ids"),
      collect_set(when(listMatch(p), col("screen_name"))).as("list_names"),
      count(when(deleted, lit(1))).as("del_n"),
      collect_set(when(deleted, col("usr_id"))).as("del_usr_ids"),
      max(deleted && col("usr_id").isNull).as("del_usr_null"),
      collect_set(when(deleted, tid)).as("del_tids"),
      max(deleted && tid.isNull).as("del_tid_null"))
  }

  /** `key NOT IN (deleted-member keys)` with SQL's three-valued logic
    * (F7/F8, the semantics of Joins.notInFaithful) over the [[dims]] row:
    * an empty key list keeps every row; otherwise a NULL key, or a NULL in
    * the list, keeps none. */
  private def notDeleted(p: Params, key: Column, keys: String,
                         hasNull: String): Column =
    if (!p.excludeDeletedMembers) lit(true)
    else col("del_n") === 0 ||
      (key.isNotNull && !col(hasNull) && !array_contains(col(keys), key))

  private def isTrue(c: Column): Column = coalesce(c, lit(false))

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

  /** One pass of the daily job (trends.go:133-199): its sink discriminator
    * and its cell of the flag matrix. */
  final case class Pass(statusType: String, distinctSources: Boolean,
                        includeRetweets: Boolean)

  /**
   * Every pass of `passes` from ONE plan that reads each table once; each
   * row carries its pass's `status_type`, and each pass is sorted and
   * paginated on its own.
   *
   *  - Candidates: `weaving_status` LEFT JOIN `highlight`, each side
   *    filtered by the union of the passes' day (or week) predicates, with
   *    the popularity samples (J5) and the one-row [[dims]] joined on.
   *  - Each pass's rules are row tags over the candidates. Curated
   *    (trends.go:279-334): the rows its INNER join admits, on a list by
   *    `aggregate_id` (J2), `member_id` not a deleted member (F7).
   *    Distinct sources (trends.go:336-392): each status of the day with
   *    the highlight rows its LEFT join admits (J3 puts `is_retweet =
   *    false` inside the ON clause), or NULL-extended when it admits none;
   *    of its retweet kind (F6), on a list by `aggregate_id` or screen
   *    name (J4), its author not a deleted member (F8).
   *  - One aggregate over (`status_type`, publisher, curated payload):
   *    the curated rows deduplicated by grouping on every output
   *    expression (A1) with MAX over the popularity chains (A2), and per
   *    distinct-sources pass one row per publisher, the payload of its
   *    most retweeted status, ties broken by status id DESC (A3; pinned,
   *    unlike the reference's unspecified ARRAY_AGG tiebreak — SURVEY
   *    §7.4 #2).
   *
   * One shuffle on the publisher serves both the per-status window that
   * finds the statuses to NULL-extend and the aggregate. When every pass
   * pins the publication day (all but distinct sources in week mode), the
   * highlight rows and popularity samples are one day's and are broadcast.
   */
  def highlights(t: TrendsTables, p: Params, passes: Seq[Pass]): DataFrame = {
    require(passes.nonEmpty, "highlights needs at least one pass")
    val doc = col("ust_api_document")
    val createdOnDay = dayBucketEquals(col("ust_created_at"), p.sinceDate)
    val publishedOnDay =
      dayBucketEquals(col("publication_date_time"), p.sinceDate)
    def kept(ps: Pass) = // F5
      if (ps.includeRetweets) lit(true) else col("is_retweet") === false
    // the statuses a pass reads: F3/F4 for curated, F2 for distinct
    def statuses(ps: Pass) =
      if (ps.distinctSources) createdOnDay else sinceWhen(p, createdOnDay)
    // the highlight rows a pass's join can admit, on highlight columns only
    def highlightRows(ps: Pass) =
      (if (ps.distinctSources && p.sinceLastWeek) lit(true) else publishedOnDay) &&
        kept(ps)
    // a candidate row the pass's own join condition admits
    def admits(ps: Pass) = isTrue(col("status_id").isNotNull && kept(ps) &&
      (if (ps.distinctSources) sinceWhen(p, publishedOnDay) else publishedOnDay))

    val pinDay =
      if (passes.forall(ps => publicationDay(p, ps.distinctSources).isDefined))
        Some(p.sinceDate) else None
    def dayScoped(df: DataFrame) = if (pinDay.isDefined) broadcast(df) else df
    val h = t.highlight.filter(passes.map(highlightRows).reduce(_ || _))
    val candidates = t.weavingStatus.filter(passes.map(statuses).reduce(_ || _))
      .join(dayScoped(h), col("ust_id") === col("status_id"), "left")
      .join(dayScoped(popularityJoined(t, pinDay)),
        col("p_status_id") === col("status_id") &&
          col("p_day") === dayBucket(col("publication_date_time")),
        "left")
      .crossJoin(broadcast(dims(t, p)))
      .repartition(col("ust_full_name"))

    // whether a distinct-sources pass's ON clause admits any highlight row
    // of the status: if not, J3 NULL-extends the status instead
    val status = Window.partitionBy(t.weavingStatus.columns.map(col): _*)
    def admittedAny(i: Int) = s"__admitted_$i"
    val withAdmitted = passes.zipWithIndex.foldLeft(candidates) {
      case (df, (ps, i)) if ps.distinctSources =>
        df.withColumn(admittedAny(i), max(admits(ps)).over(status))
      case (df, _) => df
    }

    val byId = isTrue(array_contains(col("list_ids"), col("aggregate_id")))
    val byName = isTrue(array_contains(col("list_names"), col("ust_full_name")))
    val memberKept =
      notDeleted(p, col("member_id"), "del_usr_ids", "del_usr_null")
    val authorKept =
      notDeleted(p, authorTwitterId(doc), "del_tids", "del_tid_null")
    def tag(ps: Pass, nullExtended: Boolean) = struct(
      lit(ps.statusType).as("status_type"),
      lit(ps.distinctSources).as("distinct"),
      lit(nullExtended).as("null_extended"))
    val tags = passes.zipWithIndex.flatMap {
      case (ps, _) if !ps.distinctSources =>
        Seq(when(statuses(ps) && admits(ps) && byId && memberKept, tag(ps, false)))
      case (ps, i) =>
        def kind(isRetweet: Column) =
          isOfRetweetKind(isRetweet, doc) === ps.includeRetweets
        Seq(
          when(statuses(ps) && admits(ps) && kind(col("is_retweet")) &&
            (byId || byName) && authorKept, tag(ps, false)),
          when(statuses(ps) && !col(admittedAny(i)) && kind(lit(null)) &&
            byName && authorKept, tag(ps, true)))
    }
    val tagged = withAdmitted.select(col("*"),
      explode(filter(array(tags: _*), _.isNotNull)).as("tag"))

    // a NULL-extended row has no highlight, hence no popularity sample
    def joined(c: String) = when(!col("tag.null_extended"), col(c))
    val distinct = col("tag.distinct")
    def payload(k: Column, isRetweet: Column, published: Column) = struct(
      k.as("k"),
      col("ust_status_id").as("statusId"),
      col("ust_text").as("tweet"),
      // publicationDate AND checkedAt are both the status's creation time
      // in the reference (trends.go:291, 340, 348)
      col("ust_created_at").as("publicationDate"),
      doc.as("json"),
      col("ust_id").as("id"),
      isRetweet.as("is_retweet"),
      published.as("publication_date_time"))
    val retweets =
      retweetsChain(joined("p_total_retweets"), joined("total_retweets"), doc)
    // curated rows group by their whole payload (A1), distinct-sources
    // rows by publisher alone
    val grouped = tagged
      .groupBy(col("tag.status_type").as("status_type"), col("ust_full_name"),
        when(!distinct, payload(lit(null).cast(IntegerType), col("is_retweet"),
          col("publication_date_time"))).as("curated"))
      .agg(
        // the distinct-sources argmax ranks by COALESCE(popularity, frozen,
        // doc.retweet_count) and carries the COALESCED kind flag
        // (trends.go:347); the favorites chain is the SANE one, not
        // trends.go:344's mixed chain
        max(when(distinct, payload(retweets,
          isOfRetweetKind(joined("is_retweet"), doc),
          lit(null).cast(TimestampType)))).as("top"),
        max(when(distinct, retweets)
          .otherwise(coalesce(col("p_total_retweets"), col("total_retweets"))))
          .as("retweets"),
        max(when(distinct, favoritesChain(joined("p_total_favorites"),
            joined("total_favorites"), doc))
          .otherwise(coalesce(col("p_total_favorites"), col("total_favorites"))))
          .as("favorites"))

    val row = coalesce(col("curated"), col("top"))
    paginate(grouped.select(
      statusUrl(col("ust_full_name"), row("statusId")).as("url"),
      col("ust_full_name").as("username"),
      row("tweet").as("tweet"),
      row("publicationDate").as("publicationDate"),
      row("json").as("json"),
      col("retweets"),
      col("favorites"),
      row("id").as("id"),
      row("statusId").as("statusId"),
      row("is_retweet").as("is_retweet"),
      row("publicationDate").as("checkedAt"),
      col("status_type")), p)
  }

  /** The curated-highlights query (trends.go:279-334, 394-406): the
    * single-pass view of [[highlights]], globally sorted. */
  def curatedHighlights(t: TrendsTables, p: Params): DataFrame =
    onePass(t, p, distinctSources = false)

  /** The distinct-sources query (trends.go:336-392): the single-pass view
    * of [[highlights]], globally sorted. */
  def distinctSourcesHighlights(t: TrendsTables, p: Params): DataFrame =
    onePass(t, p, distinctSources = true)

  private def onePass(t: TrendsTables, p: Params,
                      distinctSources: Boolean): DataFrame =
    sort(highlights(t, p, Seq(Pass("", distinctSources, p.includeRetweets)))
      .drop("status_type"), p)

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

  /** O1 — caller-chosen direction, always DESC at the reference call sites
    * (trends.go:160, 182, 196); statusId tiebreak pinned for determinism. */
  private def order(p: Params): Seq[Column] =
    Seq(if (p.sortDesc) col("retweets").desc else col("retweets").asc,
      col("statusId"))

  private def sort(df: DataFrame, p: Params): DataFrame = df.orderBy(order(p): _*)

  /** O2 — sane pagination (offset = page * limit), NOT the reference's
    * `page * tweetPerPage(=100000)` constant (trends.go:40, 424) —
    * documented deviation (SURVEY §7.4 #5) — applied to each pass on its
    * own: a rank per `status_type` in the pass's [[order]]. */
  private def paginate(df: DataFrame, p: Params): DataFrame =
    if (p.limit < 0) df
    else {
      val offset = p.page * p.limit
      val rank = row_number().over(
        Window.partitionBy(col("status_type")).orderBy(order(p): _*))
      df.withColumn("__rank", rank)
        .filter(col("__rank") > offset && col("__rank") <= offset + p.limit)
        .drop("__rank")
    }
}
