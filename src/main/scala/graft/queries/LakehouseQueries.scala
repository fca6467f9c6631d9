package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Artifacts, Tables}
import graft.ops.{Cdc, GlobalIndex, ZOrder, ZoneMap}
import graft.sources.ZonedCorpus

/**
 * q194-q197 — the lakehouse-mechanics tier: CDC changelog apply
 * ([[graft.ops.Cdc]]), multiset load reconciliation (EXCEPT ALL both
 * ways), snapshot time travel over the zoned table format
 * ([[graft.sources.ZonedCorpus.appendZones]] + versioned manifests),
 * and the layout A/B that justifies Z-ordering: the same rows, two
 * physical orders, measurably different zone-skip counts.
 */
object LakehouseQueries {

  /** q194 — CDC changelog apply ([[graft.ops.Cdc.applyChangelog]]):
    * the event stream read as a keyed changelog (key = user, sequence =
    * (event time, event id), `error` = delete tombstone, anything else
    * = upsert carrying the value in cents) and compacted to final table
    * state: one hash aggregate (max-struct argmax, map-side combined),
    * tombstone filter AFTER the argmax so a key whose last change is a
    * delete vanishes and a delete overwritten later resurrects. The
    * oracle is the declarative last-writer-wins window. */
  def q194CdcApply(spark: SparkSession, dir: String): DataFrame = {
    val ch = Tables.events(spark, dir).select(
      col("user_id"),
      unix_micros(col("ts")).as("seq_us"),
      col("event_id"),
      when(col("event_type") === "error", lit("D")).otherwise(lit("U"))
        .as("op"),
      round(col("value") * 100).cast("long").as("val_cents"))
    Cdc.applyChangelog(ch, keyCols = Seq("user_id"),
        seqCols = Seq(col("seq_us"), col("event_id")),
        opCol = col("op"),
        valueCols = Seq("val_cents" -> col("val_cents")))
      .withColumnRenamed("updated_at", "updated_at_us")
      .orderBy(col("user_id"))
  }

  val q194Sql: String =
    """WITH c AS (
      |  SELECT user_id, epoch_us(ts) AS seq_us, event_id,
      |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
      |    CAST(round(value * 100) AS BIGINT) AS val_cents
      |  FROM events),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |      ORDER BY seq_us DESC, event_id DESC) AS rn,
      |    count(*) OVER (PARTITION BY user_id) AS n_changes
      |  FROM c)
      |SELECT user_id, CAST(n_changes AS BIGINT) AS n_changes,
      |  val_cents, seq_us AS updated_at_us
      |FROM r WHERE rn = 1 AND op <> 'D'
      |ORDER BY user_id""".stripMargin

  /** q195 — multiset load reconciliation (`exceptAll` both directions):
    * source rows vs a "loaded" copy with one batch dropped (orderkey ≡
    * 0 mod 7) and one double-applied (≡ 0 mod 11) — the audit every
    * warehouse load pipeline runs, and it MUST be bag semantics: a row
    * loaded twice is invisible to EXCEPT DISTINCT, and lineitem's
    * (orderkey, partkey) projection genuinely carries duplicates.
    * Rows in both simulated batches (≡ 0 mod 77) end up at multiplicity
    * one and correctly surface on NEITHER side. Spark's `exceptAll`
    * (hash-partitioned count-difference) against DuckDB's EXCEPT ALL. */
  def q195BagReconcile(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
    val loaded = src.filter(col("l_orderkey") % 7 =!= 0)
      .unionByName(src.filter(col("l_orderkey") % 11 === 0))
    src.exceptAll(loaded).withColumn("side", lit("missing"))
      .unionByName(loaded.exceptAll(src).withColumn("side", lit("extra")))
      .orderBy(col("side"), col("l_orderkey"), col("l_partkey"))
  }

  val q195Sql: String =
    """WITH src AS (SELECT l_orderkey, l_partkey FROM lineitem),
      |loaded AS (
      |  SELECT * FROM src WHERE l_orderkey % 7 <> 0
      |  UNION ALL SELECT * FROM src WHERE l_orderkey % 11 = 0)
      |SELECT l_orderkey, l_partkey, 'missing' AS side FROM (
      |  SELECT * FROM src EXCEPT ALL SELECT * FROM loaded)
      |UNION ALL
      |SELECT l_orderkey, l_partkey, 'extra' AS side FROM (
      |  SELECT * FROM loaded EXCEPT ALL SELECT * FROM src)
      |ORDER BY side, l_orderkey, l_partkey""".stripMargin

  // the time-travel table, stored once per session and documents
  // snapshot ([[graft.Artifacts]]): v1 = even doc_ids, v2 = v1 + appended
  // odd doc_ids
  private def timeTravelPath(spark: SparkSession, dir: String): String =
    Artifacts.stored(spark, "timetravel",
        Seq(Tables.path(dir, "documents"))) { tmp =>
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      ZonedCorpus.write(docs.filter(col("doc_id") % 2 === 0), tmp,
        expr("n_chars DIV 64"), Seq("doc_id", "n_chars"))
      ZonedCorpus.appendZones(docs.filter(col("doc_id") % 2 === 1), tmp,
        expr("n_chars DIV 64"), Seq("doc_id", "n_chars"))
      tmp
    }

  /** q196 — snapshot TIME TRAVEL over the zoned table format: the
    * corpus is written as snapshot v1 (even doc_ids), then the odd half
    * is APPENDED ([[ZonedCorpus.appendZones]] — new zone dirs + a new
    * versioned manifest, existing files untouched). The query reads
    * BOTH `.option("version", 1)` and the current table through the
    * same DataSourceV2 connector and aggregates each — the gate proves
    * the old snapshot still reads exactly its original rows after the
    * append (the Iceberg append contract), against an oracle that
    * reconstructs both snapshots from the source parquet. */
  def q196TimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val path = timeTravelPath(spark, dir)
    def summarize(df: DataFrame, snap: String): DataFrame =
      df.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .withColumn("snapshot", lit(snap))
    val v1 = spark.read.format("graft.sources.ZonedSource")
      .option("version", "1").load(path)
    val cur = spark.read.format("graft.sources.ZonedSource").load(path)
    summarize(v1, "v1").unionByName(summarize(cur, "current"))
      .orderBy(col("snapshot"), col("source"))
  }

  val q196Sql: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
      |  'v1' AS snapshot
      |FROM documents WHERE doc_id % 2 = 0 GROUP BY source
      |UNION ALL
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
      |  'current' AS snapshot
      |FROM documents GROUP BY source
      |ORDER BY snapshot, source""".stripMargin

  /** q197 — the Z-order layout A/B ([[graft.ops.ZOrder]] +
    * [[graft.ops.ZoneMap]] + [[graft.ops.GlobalIndex]]): the SAME event
    * rows laid out twice — linear (user, day) order vs Morton order —
    * cut into 1000-row zones, and the zone-skip counts measured for a
    * user slice, a day slice, and the 2-D box. The point the numbers
    * make: linear is perfect on its leading dimension and useless on
    * the trailing one; the z-curve bounds every zone in BOTH, which is
    * why OPTIMIZE ZORDER exists. Zone assignment is the two-phase
    * global index (range partition + per-partition offsets), NEVER a
    * single-reducer window; the oracle uses the naive window + the same
    * five-step bit spread in SQL. */
  def q197ZorderPruning(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(
      col("user_id").as("u"),
      datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
        .cast("long").as("d"),
      col("event_id"))
    def audit(label: String, order: Seq[Column]): DataFrame = {
      val idx = GlobalIndex.withGlobalIndex(e, "__rn", order: _*)
      val stats = ZoneMap.zoneStats(idx, expr("__rn DIV 1000"),
        Seq("u" -> col("u"), "d" -> col("d")))
      val su = col("max_u") >= 40L && col("min_u") <= 89L
      val sd = col("max_d") >= 19733L && col("min_d") <= 19742L
      stats.agg(count(lit(1)).as("n_zones"),
          sum(when(su, 1L).otherwise(0L)).as("scan_user"),
          sum(when(sd, 1L).otherwise(0L)).as("scan_day"),
          sum(when(su && sd, 1L).otherwise(0L)).as("scan_box"))
        .withColumn("layout", lit(label))
    }
    audit("linear", Seq(col("u"), col("d"), col("event_id")))
      .unionByName(audit("zorder", Seq(
        ZOrder.zkeyNative(col("u").bitwiseAND(lit(0xFFFFL)),
          col("d").bitwiseAND(lit(0xFFFFL))),
        col("event_id"))))
      .orderBy(col("layout"))
  }

  val q197Sql: String = {
    val sx = AnalyticsQueries.spreadSql("x")
    val sy = AnalyticsQueries.spreadSql("y")
    def layer(name: String, from: String): String =
      s"""SELECT '$name' AS layout, count(*) AS n_zones,
         |  CAST(sum(CASE WHEN max_u >= 40 AND min_u <= 89
         |    THEN 1 ELSE 0 END) AS BIGINT) AS scan_user,
         |  CAST(sum(CASE WHEN max_d >= 19733 AND min_d <= 19742
         |    THEN 1 ELSE 0 END) AS BIGINT) AS scan_day,
         |  CAST(sum(CASE WHEN max_u >= 40 AND min_u <= 89
         |    AND max_d >= 19733 AND min_d <= 19742
         |    THEN 1 ELSE 0 END) AS BIGINT) AS scan_box
         |FROM (SELECT z, min(u) AS min_u, max(u) AS max_u,
         |        min(d) AS min_d, max(d) AS max_d
         |      FROM $from GROUP BY z)""".stripMargin
    s"""WITH e AS (
       |  SELECT user_id AS u,
       |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
       |    event_id
       |  FROM events),
       |lin AS (
       |  SELECT u, d, (row_number() OVER (ORDER BY u, d, event_id) - 1)
       |    // 1000 AS z
       |  FROM e),
       |zo AS (
       |  SELECT u, d, (row_number() OVER (ORDER BY ($sx | ($sy << 1)),
       |    event_id) - 1) // 1000 AS z
       |  FROM (SELECT u & 65535 AS x, d & 65535 AS y, u, d, event_id
       |        FROM e) t)
       |${layer("linear", "lin")}
       |UNION ALL
       |${layer("zorder", "zo")}
       |ORDER BY layout""".stripMargin
  }

  /** q198 — hierarchical Merkle table diff ([[graft.ops.MerkleDiff]]):
    * locate exactly where a replica diverges from the source without
    * shipping rows — coarse checksum compare → dirty buckets →
    * broadcast-semi-join descent → fine compare. The replica drops
    * every orderkey ≡ 0 mod 6007 and corrupts the cents of every ≡ 0
    * mod 5003 by +1; the diff must pinpoint each damaged 512-key fine
    * bucket and CLASSIFY it (count mismatch = "rows", same count =
    * "content"). The oracle replays the same two-level descent
    * declaratively (same md5-prefix digests), so the engine's pruning
    * can never silently skip a diverging subtree. */
  def q198MerkleDiff(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    val dst = src
      .withColumn("cents", col("cents") +
        when(col("o_orderkey") % 5003 === 0, 1L).otherwise(0L))
      .filter(col("o_orderkey") % 6007 =!= 0)
    graft.ops.MerkleDiff.diff(src, dst,
        coarseBucket = expr("o_orderkey DIV 4096"),
        fineBucket = expr("o_orderkey DIV 512"),
        rowCols = Seq(col("o_orderkey"), col("o_custkey"), col("cents")))
      .orderBy(col("fb"))
  }

  val q198Sql: String = {
    // single-line fragments: they embed into a stripMargin template and
    // contain SQL `||`/'|' — a line-leading pipe would be eaten as a
    // margin (the q166 concatenation caveat)
    def canon(x: String): String =
      s"CASE WHEN $x IS NULL THEN 'N' ELSE " +
        s"length(CAST($x AS VARCHAR)) || ':' || CAST($x AS VARCHAR) END"
    val dig = s"CAST(CAST(concat('0x', substr(md5(${canon("o_orderkey")}" +
      s" || '|' || ${canon("o_custkey")} || '|' || ${canon("cents")})," +
      " 1, 12)) AS BIGINT) AS DECIMAL(38,0))"
    s"""WITH src AS (
       |  SELECT o_orderkey, o_custkey,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
       |  FROM orders),
       |dst AS (
       |  SELECT o_orderkey, o_custkey,
       |    cents + CASE WHEN o_orderkey % 5003 = 0 THEN 1 ELSE 0 END
       |      AS cents
       |  FROM src WHERE o_orderkey % 6007 <> 0),
       |sd AS (SELECT $dig AS dig, o_orderkey // 4096 AS cb,
       |         o_orderkey // 512 AS fb FROM src),
       |dd AS (SELECT $dig AS dig, o_orderkey // 4096 AS cb,
       |         o_orderkey // 512 AS fb FROM dst),
       |s1 AS (SELECT cb, count(*) AS n,
       |         CAST(sum(dig) AS DECIMAL(38,0)) AS cs FROM sd GROUP BY cb),
       |d1 AS (SELECT cb, count(*) AS n,
       |         CAST(sum(dig) AS DECIMAL(38,0)) AS cs FROM dd GROUP BY cb),
       |dirty AS (
       |  SELECT coalesce(s1.cb, d1.cb) AS cb
       |  FROM s1 FULL OUTER JOIN d1 ON s1.cb = d1.cb
       |  WHERE s1.n IS DISTINCT FROM d1.n
       |     OR s1.cs IS DISTINCT FROM d1.cs),
       |s2 AS (SELECT fb, count(*) AS n,
       |         CAST(sum(dig) AS DECIMAL(38,0)) AS cs FROM sd
       |       WHERE cb IN (SELECT cb FROM dirty) GROUP BY fb),
       |d2 AS (SELECT fb, count(*) AS n,
       |         CAST(sum(dig) AS DECIMAL(38,0)) AS cs FROM dd
       |       WHERE cb IN (SELECT cb FROM dirty) GROUP BY fb)
       |SELECT coalesce(s2.fb, d2.fb) AS fb,
       |  CAST(coalesce(s2.n, 0) AS BIGINT) AS n_src,
       |  CAST(coalesce(d2.n, 0) AS BIGINT) AS n_dst,
       |  CAST(CAST(coalesce(s2.cs, 0) AS DECIMAL(38,0)) AS VARCHAR)
       |    AS cs_src,
       |  CAST(CAST(coalesce(d2.cs, 0) AS DECIMAL(38,0)) AS VARCHAR)
       |    AS cs_dst,
       |  CASE WHEN coalesce(s2.n, 0) <> coalesce(d2.n, 0) THEN 'rows'
       |       ELSE 'content' END AS kind
       |FROM s2 FULL OUTER JOIN d2 ON s2.fb = d2.fb
       |WHERE s2.n IS DISTINCT FROM d2.n OR s2.cs IS DISTINCT FROM d2.cs
       |ORDER BY fb""".stripMargin
  }
}
