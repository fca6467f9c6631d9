package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Loader for the driver's synthetic parquet tables (TESTDATA.md).
 *
 * Reads are plain `spark.read.parquet` so Catalyst's parquet source handles
 * predicate pushdown, column pruning and (on a partitioned layout) partition
 * pruning. At 100 TB the same call reads a partitioned/bucketed table — the
 * query builders below do not care.
 *
 * Under-parallel scans: parquet splits at ROW-GROUP granularity, and the
 * testdata tables are single-row-group files, so a bare scan yields ONE
 * input partition — every map-side stage (JSON parsing, shingling, minhash
 * signatures) would run on 1 of 32 cores until the first shuffle. [[spread]]
 * guards against that: iff the scan's split count is below the session's
 * default parallelism it inserts a round-robin repartition (Catalyst still
 * pushes filters/pruning through Repartition to the scan, so the exchange
 * carries only surviving rows). On a real cluster a 100 TB table has
 * thousands of splits and the guard never fires — this is purely the
 * "small file, big machine" escape hatch.
 *
 * Per-session metadata memo (round 13, guide §1/§6): a bare
 * `spark.read.parquet` re-infers the schema from footers on EVERY call
 * (~80 ms, in a Spark job), and the spread guard's
 * `df.rdd.getNumPartitions` fully plans the scan (~65 ms more) — pure
 * driver-side latency paid per query build, per pass. Schema and spread
 * verdict are functions of the FILES, not the query, so [[load]]
 * memoizes both per (session, path, file snapshot) and hands the schema
 * to the reader explicitly (plan-build drops to ~11 ms, measured). The
 * memo's schema is read from the first data file's footer on the driver
 * ([[graft.sources.DeclaredParquet.inferredSchema]]), so even a cold
 * load starts no job inside the query builder that reads the table
 * first. The snapshot is [[graft.Artifacts.fingerprint]], so a
 * regenerated table re-infers. This is metadata caching only (what a
 * catalog table gives you for free at 100 TB); every query still computes
 * from the parquet bytes.
 *
 * Tiny-dim escape (guide §2.4 "remove shuffles outright"): a broadcast-
 * class dimension (region/nation/supplier — single-digit KB) gains
 * nothing from a 32-way round-robin exchange; spreading it costs ~100 ms
 * per materialization (measured) for work one core does in microseconds.
 * Tables at or below `SPARK_GRAFT_SPREAD_MIN_BYTES` on disk (default
 * 64 KiB) skip the spread. Parameterised, not local-tuned: at production
 * scale the spread guard never fires at all, so the threshold only
 * matters on the "small file, big machine" shape it exists for.
 */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Repartition `df` to the session parallelism iff its scan is
    * under-parallel (fewer splits than cores — the single-row-group case). */
  def spread(spark: SparkSession, df: DataFrame): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Tables at or below this on-disk size skip the spread repartition —
    * broadcast-class dims where a 32-way exchange is pure overhead. */
  private def spreadMinBytes: Long =
    sys.env.getOrElse("SPARK_GRAFT_SPREAD_MIN_BYTES", "65536").toLong

  private final case class TableMeta(
      schema: org.apache.spark.sql.types.StructType,
      underParallel: Boolean, bytes: Long)

  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[String, TableMeta]()

  /** Where table `name` of the data dir `dir` lives. */
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = this.path(dir, name)
    val key = spark.sparkContext.applicationId + "|" + path + "|" +
      Artifacts.fingerprint(path)
    val meta = metaCache.computeIfAbsent(key, _ => {
      // no data file: Spark's own inference raises its usual error
      val schema = graft.sources.DeclaredParquet.inferredSchema(spark, path)
        .getOrElse(spark.read.parquet(path).schema)
      TableMeta(schema,
        spark.read.schema(schema).parquet(path).rdd.getNumPartitions <
          spark.sparkContext.defaultParallelism,
        pathBytes(path))
    })
    val df = spark.read.schema(meta.schema).parquet(path)
    if (meta.underParallel && meta.bytes > spreadMinBytes)
      df.repartition(spark.sparkContext.defaultParallelism)
    else df
  }

  private def pathBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        var sum = 0L
        val it = s.iterator()
        while (it.hasNext) {
          val c = it.next()
          if (java.nio.file.Files.isRegularFile(c))
            sum += java.nio.file.Files.size(c)
        }
        sum
      } finally s.close()
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")

  /**
   * events.parquet has shipped `ts` under two physical types across testdata
   * generations: TIMESTAMP(NANOS) — which Spark's parquet reader rejects
   * ([PARQUET_TYPE_ILLEGAL]) unless nanos are read as raw longs — and plain
   * TIMESTAMP(MICROS) without timezone, which Spark reads as TIMESTAMP_NTZ.
   * Normalize both to a micros TimestampType column (the session runs in
   * UTC, so the NTZ→TZ cast is a reinterpretation, value-identical to
   * DuckDB's naive TIMESTAMP read of the same file).
   */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    raw.schema("ts").dataType match {
      case LongType =>
        // legacy nanos-as-long: `div` is INTEGRAL division — Column `/`
        // would go through Double, and ns-epoch values (~1.7e18) exceed
        // 2^53, so the rounding could move a truncated micro by ±1 vs
        // DuckDB's exact ns→us integer cast
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
