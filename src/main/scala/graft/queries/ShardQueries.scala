package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables
import graft.ops.{Packing, TextAnalysis}

/**
 * q118-q123 — the pipeline-tail tier: the operations that sit BETWEEN a
 * curated corpus and a training run (pack into token-budget shards, scrub
 * a deny-list, hit a source-mix plan, quantize embeddings, score novelty
 * against a reference slice, winsorize length outliers). Reference scope:
 * these extend the LLM-pipeline surface the builder brief names; the
 * trends reference itself (trends.go) has no equivalent tier.
 */
object ShardQueries {

  /** q118 — token-budget shard packing ([[graft.ops.Packing]]): documents
    * in doc_id order are packed into 8192-token shards by the streaming
    * rule `shard = floor(running_start / budget)`; reported per shard.
    * The engine's two-phase prefix sum (range partition → per-partition
    * offsets → partitioned window) must equal the oracle's naive
    * single-reducer global window EXACTLY — the gate is the
    * distributed-cumsum proof. */
  def q118ShardPacking(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(TextAnalysis.words(col("text"))).as("n_tok"))
    val packed = Packing.packByBudget(docs, col("n_tok"), budget = 8192L,
      col("doc_id"))
    packed.groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("shard_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("shard_id"))
  }

  val q118Sql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, n_tok,
      |    coalesce(sum(n_tok) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS running_start
      |  FROM d)
      |SELECT CAST(running_start // 8192 AS BIGINT) AS shard_id,
      |  count(*) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS shard_tokens,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM s
      |GROUP BY 1
      |ORDER BY shard_id""".stripMargin

  /** q119 — deny-list scrubbing with audit stats: redact a term deny-list
    * (word-boundary regex — the PII/unsafe-vocabulary scrub shape) and
    * report, per source, how many documents and occurrences were touched
    * plus an order-independent 48-bit-md5 checksum of the CLEANED texts —
    * the "prove the scrub ran, byte-exactly, without sorting the corpus"
    * audit artifact ([[graft.ops.Checksum]]'s convention). Map-only until
    * one hash aggregate. */
  def q119DenyListScrub(spark: SparkSession, dir: String): DataFrame = {
    val pattern = "\\b(customer|supplier|account)\\b"
    val scrubbed = Tables.documents(spark, dir)
      .select(col("source"),
        regexp_count(col("text"), lit(pattern)).as("n_hits"),
        regexp_replace(col("text"), pattern, "[REDACTED]").as("cleaned"))
    scrubbed.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_hits") > 0, 1L).otherwise(0L)).cast("long")
          .as("n_docs_hit"),
        sum(col("n_hits")).cast("long").as("n_redactions"),
        sum(conv(substring(md5(col("cleaned")), 1, 12), 16, 10)
          .cast(DecimalType(38, 0))).cast(DecimalType(38, 0)).cast("string")
          .as("cleaned_checksum"))
      .orderBy(col("source"))
  }

  val q119Sql: String =
    """WITH s AS (
      |  SELECT source,
      |    len(regexp_extract_all(text,
      |      '\b(customer|supplier|account)\b')) AS n_hits,
      |    regexp_replace(text, '\b(customer|supplier|account)\b',
      |      '[REDACTED]', 'g') AS cleaned
      |  FROM documents)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_docs_hit,
      |  CAST(sum(n_hits) AS BIGINT) AS n_redactions,
      |  CAST(CAST(sum(CAST(CAST(concat('0x', substr(md5(cleaned), 1, 12))
      |    AS BIGINT) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR)
      |    AS cleaned_checksum
      |FROM s
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** q120 — deterministic source-mix sampling: every source gets a target
    * keep-percentage from the mix plan (here 10 + 4·source_index, a
    * literal plan), and a document survives iff its ENGINE-PORTABLE
    * 48-bit-md5 hash mod 100 falls under the target — the reproducible,
    * seedless, infinitely-rerunnable way to hit a dataset mixing ratio
    * (rand() would differ per engine, partition layout and retry).
    * Map-only + one hash aggregate. */
  def q120MixSampling(spark: SparkSession, dir: String): DataFrame = {
    val pct = (lit(10) +
      regexp_replace(col("source"), "src", "").cast("int") * 4).as("pct")
    val hmod = (conv(substring(md5(col("doc_id").cast("string")), 1, 12),
      16, 10).cast("long") % 100).as("hmod")
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), pct, hmod)
      .groupBy(col("source"))
      .agg(max(col("pct")).as("target_pct"),
        count(lit(1)).as("n_total"),
        sum(when(col("hmod") < col("pct"), 1L).otherwise(0L)).cast("long")
          .as("n_kept"))
      .orderBy(col("source"))
  }

  val q120Sql: String =
    """WITH d AS (
      |  SELECT source, doc_id,
      |    10 + 4 * CAST(replace(source, 'src', '') AS INT) AS pct,
      |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
      |      AS BIGINT) % 100 AS hmod
      |  FROM documents)
      |SELECT source, max(pct) AS target_pct, count(*) AS n_total,
      |  CAST(sum(CASE WHEN hmod < pct THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept
      |FROM d
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** q121 — int8 embedding quantization audit: per-vector symmetric int8
    * quantization (scale = max|v| / 127, q = floor(v/scale + 0.5) — floor
    * stated on BOTH sides because engines disagree on round-half rules),
    * reporting per label the max reconstruction error and the max scale.
    * Map-only array lambdas into one hash aggregate; max is
    * order-independent so the doubles survive the cross-engine hash gate
    * (the q28/q44 convention — never sum floats across rows). */
  def q121QuantizationAudit(spark: SparkSession, dir: String): DataFrame = {
    val emb = transform(col("embedding"), v => v.cast(DoubleType))
    Tables.embeddings(spark, dir)
      .select(col("label"), emb.as("e"))
      .withColumn("m", array_max(transform(col("e"), v => abs(v))))
      .filter(col("m") > 0)
      .withColumn("scale", col("m") / 127d)
      .withColumn("err", array_max(zip_with(col("e"),
        transform(col("e"), v => floor(v / col("scale") + 0.5d)),
        (v, q) => abs(v - q * col("scale")))))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        max(col("err")).as("max_abs_err"),
        max(col("scale")).as("max_scale"))
      .orderBy(col("label"))
  }

  /** q122 — n-gram novelty against a reference slice: what fraction of
    * each candidate document's distinct 3-gram set is ABSENT from the
    * frozen reference corpus (src0/src1) — the "is this new data or a
    * paraphrase of what we already have" curation signal. 100 TB shape:
    * the reference gram set seeds a broadcast bloom digest
    * ([[graft.ops.BloomJoin]]); tokens failing the bloom are
    * definitely-novel WITHOUT touching the join, only the bloom-passers
    * probe the exact set (false positives die there), so the composition
    * is exact while the join's shuffle carries ~|reference∩candidate|
    * instead of every token. Aggregates are pure integer counts; the one
    * double is a single final division. */
  def q122NgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isRef = col("source").isin("src0", "src1")
    val grams3 = array_distinct(graft.ops.Dedup.shingleHashes(col("text"), 3))
    val refGrams = docs.filter(isRef)
      .select(explode(grams3).as("g")).distinct()
    val candTok = docs.filter(!isRef)
      .select(col("source"), col("doc_id"), explode(grams3).as("g"))
    graft.ops.CacheScope.withStages(refGrams, candTok) {
      // sized from the staged reference set: the serialized digest rides
      // in every task of the probe stages, so it must not outgrow the set
      val digest = graft.ops.BloomJoin.keyFilter(refGrams, "g",
        expectedItems = math.max(1L, refGrams.count()))
      val flagged = candTok.withColumn("maybe",
        graft.ops.BloomJoin.mightContain(digest, col("g")))
      // bloom-pass tokens that MISS the exact set are novel too
      val passMiss = flagged.filter(col("maybe"))
        .join(refGrams, Seq("g"), "left_anti")
        .select(col("source"), col("doc_id"))
      val novel = flagged.filter(!col("maybe"))
        .select(col("source"), col("doc_id"))
        .unionByName(passMiss)
      val totals = candTok.groupBy(col("source"), col("doc_id"))
        .agg(count(lit(1)).as("total"))
      val novels = novel.groupBy(col("source"), col("doc_id"))
        .agg(count(lit(1)).as("novel"))
      graft.ops.CacheScope.pin(totals
        .join(novels, Seq("source", "doc_id"), "left")
        .withColumn("novel", coalesce(col("novel"), lit(0L)))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("novel")).cast("long").as("n_novel"),
          sum(col("total")).cast("long").as("n_grams"))
        .withColumn("novelty",
          col("n_novel").cast(DoubleType) / col("n_grams"))
        .orderBy(col("source")))
    }
  }

  val q122Sql: String =
    """WITH sh AS (
      |  SELECT source, doc_id,
      |    list_distinct(CASE WHEN len(words) < 3
      |      THEN [array_to_string(words, ' ')]
      |      ELSE list_transform(range(len(words) - 2),
      |        i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3])
      |    END) AS s
      |  FROM (SELECT source, doc_id,
      |          list_filter(string_split(text, ' '), x -> x <> '') AS words
      |        FROM documents)),
      |ref AS (
      |  SELECT DISTINCT unnest(s) AS g FROM sh
      |  WHERE source IN ('src0', 'src1')),
      |tok AS (
      |  SELECT source, doc_id, unnest(s) AS g FROM sh
      |  WHERE source NOT IN ('src0', 'src1')),
      |per AS (
      |  SELECT t.source, t.doc_id, count(*) AS total,
      |    count(*) FILTER (r.g IS NULL) AS novel
      |  FROM tok t LEFT JOIN ref r ON t.g = r.g
      |  GROUP BY 1, 2)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(novel) AS BIGINT) AS n_novel,
      |  CAST(sum(total) AS BIGINT) AS n_grams,
      |  CAST(sum(novel) AS DOUBLE) / sum(total) AS novelty
      |FROM per
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** q123 — winsorized length statistics: per source, the nearest-rank
    * 5th/95th percentile of n_chars (exact INTEGER percentiles — no
    * interpolation, so every engine agrees bit-for-bit), the count of
    * docs clamped at each tail, and the exact integer sum of the clamped
    * lengths — the outlier-capping step before length-based curriculum
    * or loss weighting. One window + two hash aggregates. */
  def q123WinsorizedLengths(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars"), col("doc_id"))
    val ranked = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("source"))))
    val pcts = ranked.groupBy(col("source"))
      .agg(max(when(col("rn") ===
          greatest(lit(1), ceil(col("n") * 0.05).cast("int")),
        col("n_chars"))).as("p05"),
        max(when(col("rn") === ceil(col("n") * 0.95).cast("int"),
          col("n_chars"))).as("p95"))
    ranked.join(pcts, "source")
      .withColumn("clamped",
        least(greatest(col("n_chars"), col("p05")), col("p95")))
      .groupBy(col("source"))
      .agg(max(col("p05")).as("p05"), max(col("p95")).as("p95"),
        sum(when(col("n_chars") < col("p05"), 1L).otherwise(0L)).cast("long")
          .as("n_below"),
        sum(when(col("n_chars") > col("p95"), 1L).otherwise(0L)).cast("long")
          .as("n_above"),
        sum(col("clamped")).cast("long").as("sum_clamped"))
      .orderBy(col("source"))
  }

  val q123Sql: String =
    """WITH ranked AS (
      |  SELECT source, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY n_chars, doc_id) AS rn,
      |    count(*) OVER (PARTITION BY source) AS n
      |  FROM documents),
      |pcts AS (
      |  SELECT source,
      |    max(CASE WHEN rn = greatest(1, CAST(ceil(n * 0.05) AS INT))
      |        THEN n_chars END) AS p05,
      |    max(CASE WHEN rn = CAST(ceil(n * 0.95) AS INT)
      |        THEN n_chars END) AS p95
      |  FROM ranked GROUP BY source)
      |SELECT r.source, max(p.p05) AS p05, max(p.p95) AS p95,
      |  CAST(sum(CASE WHEN r.n_chars < p.p05 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_below,
      |  CAST(sum(CASE WHEN r.n_chars > p.p95 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_above,
      |  CAST(sum(least(greatest(r.n_chars, p.p05), p.p95)) AS BIGINT)
      |    AS sum_clamped
      |FROM ranked r JOIN pcts p USING (source)
      |GROUP BY r.source
      |ORDER BY r.source""".stripMargin

  val q121Sql: String =
    """WITH e AS (
      |  SELECT label,
      |    list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e
      |  FROM embeddings),
      |m AS (
      |  SELECT label, e,
      |    list_max(list_transform(e, v -> abs(v))) AS m
      |  FROM e),
      |q AS (
      |  SELECT label, m / 127 AS scale,
      |    list_max(list_transform(e,
      |      v -> abs(v - floor(v / (m / 127) + 0.5) * (m / 127)))) AS err
      |  FROM m WHERE m > 0)
      |SELECT label, count(*) AS n_vecs, max(err) AS max_abs_err,
      |  max(scale) AS max_scale
      |FROM q
      |GROUP BY label
      |ORDER BY label""".stripMargin
}
