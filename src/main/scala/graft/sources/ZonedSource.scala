package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform, Expression => V2Expression}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/**
 * A zone-mapped corpus layout + the DataSourceV2 connector that prunes
 * whole ZONES (storage units) at PLANNING time from a min/max manifest —
 * the manifest-level file skipping Delta/Iceberg do, here as a
 * self-contained source so the engine's layout story is end-to-end:
 * [[graft.ops.ZOrder]] clusters, [[graft.ops.ZoneMap]] audits
 * selectivity, and this source makes the skipping REAL (a pruned zone's
 * files are never opened, never scheduled, never read).
 *
 * Layout written by [[ZonedCorpus.write]]:
 * {{{
 *   <path>/__zone=<v>/part-*.csv   tab-separated data files (Spark CSV writer)
 *   <path>/_zonemap.tsv            schema line + one stats line per zone:
 *                                  zone dir, row count, col:min:max,...
 * }}}
 *
 * Read path: `spark.read.format("graft.sources.ZonedSource").load(path)`.
 *  - `SupportsPushDownRequiredColumns` prunes the TSV parse to the
 *    projected fields;
 *  - `SupportsPushDownFilters` intercepts comparison predicates on the
 *    manifest's stat columns and drops every zone whose [min,max]
 *    interval cannot satisfy them; ALL filters are also returned as
 *    post-scan residuals (the parquet convention: stats prune at file
 *    granularity, rows are re-checked), so correctness never depends on
 *    the manifest;
 *  - `planInputPartitions` emits one partition per SURVIVING zone — the
 *    pruning is visible in the plan (partition count, `description()`)
 *    and testable without touching row results.
 *
 * 100 TB shape: the manifest is O(zones) — metadata — and planning cost
 * is a linear scan of it on the driver, exactly how lakehouse manifests
 * are evaluated. Data types are limited to long/string columns (the
 * demonstrator's corpus shape); values must not contain tabs/newlines
 * (the writer's TSV contract; nulls round-trip as \N).
 */
class ZonedSource extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true

  private def root(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "graft.sources.ZonedSource requires a load path")
    p
  }

  /** TIME TRAVEL: `.option("version", n)` reads snapshot n's manifest
    * (`_zonemap.v<n>.tsv`) instead of the current one — append-only
    * snapshots stay readable because appends never touch existing zone
    * files (the Iceberg contract); compaction and full overwrites move
    * or replace files and therefore EXPIRE earlier snapshots (their
    * manifests are deleted, reads fail with a clear message). */
  private def manifestName(version: String): String =
    if (version == null) ZonedManifest.CurrentName
    else ZonedManifest.versionName(version.trim.toLong)

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ZonedManifest.read(root(options),
      manifestName(options.get("version"))).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new ZonedTable(properties.get("path"), schema,
      manifestName(properties.get("version")))
}

private[sources] class ZonedTable(path: String, tableSchema: StructType,
                                  manifestName: String)
    extends Table with SupportsRead {
  override def name(): String = s"zoned_corpus($path)"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // a snapshot with pending equality deletes must not be scanned raw by
    // accident — rows the table contract says are gone would come back.
    // Merge-on-read goes through ZonedCorpus.readWithDeletes; the escape
    // hatch is explicit.
    val m = ZonedManifest.read(path, manifestName)
    if (m.deletes.nonEmpty && !options.getBoolean("ignoreDeletes", false))
      throw new IllegalArgumentException(
        s"zoned table at $path carries ${m.deletes.size} pending " +
          "equality-delete zone(s); read it through " +
          "ZonedCorpus.readWithDeletes (merge-on-read), or pass " +
          ".option(\"ignoreDeletes\", true) to scan raw data zones")
    new ZonedScanBuilder(path, tableSchema, manifestName)
  }
}

private[sources] class ZonedScanBuilder(path: String, schema: StructType,
                                        manifestName: String =
                                          ZonedManifest.CurrentName)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {

  private val manifest = ZonedManifest.read(path, manifestName)
  private var required: StructType = schema
  private var pruning: Array[Filter] = Array.empty
  private var pushedAgg: Option[Aggregation] = None

  /** A filter prunes iff it is a comparison between a manifest stat
    * column and a literal integer — or an EQUALITY against a column
    * with zone blooms (any literal type: that's the bloom's point). */
  private def prunable(f: Filter): Boolean = f match {
    case EqualTo(a, v) =>
      (manifest.statCols(a) && isIntegral(v)) ||
        (manifest.bloomCols(a) && v != null)
    case In(a, vs) =>
      // an IN prunes when EVERY member is individually checkable (a
      // single unverifiable member could match anywhere)
      vs.nonEmpty && vs.forall(v =>
        (manifest.statCols(a) && isIntegral(v)) ||
          (manifest.bloomCols(a) && v != null))
    case GreaterThan(a, v) => manifest.statCols(a) && isIntegral(v)
    case GreaterThanOrEqual(a, v) => manifest.statCols(a) && isIntegral(v)
    case LessThan(a, v) => manifest.statCols(a) && isIntegral(v)
    case LessThanOrEqual(a, v) => manifest.statCols(a) && isIntegral(v)
    case _ => false
  }

  private def isIntegral(v: Any): Boolean = v match {
    case _: Long | _: Int | _: Short | _: Byte => true
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pruning = filters.filter(prunable)
    // every filter comes back as a post-scan residual: zone stats prune
    // STORAGE UNITS, they never prove a row
    filters
  }
  override def pushedFilters(): Array[Filter] = pruning
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** A manifest stat column referenced bare (no nesting). */
  private def statColOf(e: V2Expression): Option[String] = e match {
    case r: NamedReference if r.fieldNames.length == 1 &&
        manifest.statCols(r.fieldNames()(0)) => Some(r.fieldNames()(0))
    case _ => None
  }

  /**
   * Aggregate pushdown — PARTIAL (supportCompletePushDown stays false):
   * the scan emits one pre-aggregated row PER ZONE straight from the
   * manifest (count = zone row count, min/max = the zone's stat bounds)
   * and Spark's final aggregate merges them — so a global
   * `COUNT(*) / MIN(stat) / MAX(stat)` over the corpus never opens a
   * single data file. Metadata answering metadata-shaped queries is the
   * lakehouse scan fast path (what Spark's own parquet footer-count
   * pushdown does), here from the zone manifest.
   *
   * Accepted only when: no GROUP BY (zone stats carry no group
   * breakdown), every aggregate is COUNT(*) or MIN/MAX of a stat column,
   * and every zone actually carries that stat (a manifest missing a
   * zone's bounds must fall back to the row scan). Spark only attempts
   * the push when NO post-scan filter remains — and this source returns
   * every filter as a residual (stats prune storage, never prove rows) —
   * so a filtered aggregate always takes the row path by construction.
   */
  override def pushAggregation(agg: Aggregation): Boolean = {
    val ok = agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.nonEmpty &&
      manifest.zones.nonEmpty && pruning.isEmpty &&
      agg.aggregateExpressions.forall {
        case _: CountStar => true
        case m: Min => statColOf(m.column).exists(c =>
          manifest.zones.forall(_.stats.contains(c)))
        case m: Max => statColOf(m.column).exists(c =>
          manifest.zones.forall(_.stats.contains(c)))
        case _ => false
      }
    if (ok) pushedAgg = Some(agg)
    ok
  }

  override def build(): Scan = pushedAgg match {
    case Some(agg) => new ZonedAggScan(manifest, agg)
    case None => new ZonedScan(manifest, schema, required, pruning)
  }
}

/**
 * The metadata-only scan a pushed aggregation plans: one row per zone,
 * values read from the manifest, zero data files opened (the spec proves
 * it by deleting every data file and still answering). All stat columns
 * are LongType by the layout's write contract.
 */
private[sources] class ZonedAggScan(manifest: ZonedManifest.Manifest,
                                    agg: Aggregation)
    extends Scan with Batch with SupportsReportStatistics {

  private val fields: Array[StructField] = agg.aggregateExpressions.map {
    case _: CountStar => StructField("count(*)", LongType, nullable = false)
    case m: Min => StructField(m.toString, LongType, nullable = false)
    case m: Max => StructField(m.toString, LongType, nullable = false)
    case other => throw new IllegalStateException(s"unpushable $other")
  }

  private def statName(e: V2Expression): String = e match {
    case r: NamedReference => r.fieldNames()(0)
    case other => throw new IllegalStateException(s"non-column $other")
  }

  private val rows: Array[Array[Long]] = manifest.zones.map { z =>
    agg.aggregateExpressions.map {
      case _: CountStar => z.nRows
      case m: Min => z.stats(statName(m.column))._1
      case m: Max => z.stats(statName(m.column))._2
      case other => throw new IllegalStateException(s"unpushable $other")
    }.toArray
  }.toArray

  override def readSchema(): StructType = StructType(fields)
  override def toBatch: Batch = this
  override def description(): String =
    s"ZonedAggScan(metadata-only, zones=${manifest.zones.length}, " +
      s"PushedAggregates=[${agg.aggregateExpressions.mkString(", ")}])"

  override def planInputPartitions(): Array[InputPartition] =
    Array(ZoneAggPartition(rows))
  override def createReaderFactory(): PartitionReaderFactory =
    new ZoneAggReaderFactory
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong = OptionalLong.empty()
    override def numRows(): OptionalLong =
      OptionalLong.of(manifest.zones.length.toLong)
  }
}

private[sources] case class ZoneAggPartition(rows: Array[Array[Long]])
    extends InputPartition

private[sources] class ZoneAggReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition):
      PartitionReader[InternalRow] = {
    val rows = partition.asInstanceOf[ZoneAggPartition].rows
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow =
        new GenericInternalRow(rows(i).map(v => v: Any))
      override def close(): Unit = ()
    }
  }
}

private[sources] class ZonedScan(manifest: ZonedManifest.Manifest,
                                 fullSchema: StructType,
                                 required: StructType,
                                 pruning: Array[Filter])
    extends Scan with Batch with SupportsReportStatistics
    with GraftScanIntrospection {

  override def pushedPruningFilters: Seq[Filter] = pruning.toSeq
  override def tableIdent: String = manifest.root

  private def asLong(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case other => throw new IllegalStateException(s"non-integral $other")
  }

  /** Can the zone contain a satisfying row? min/max interval check for
    * integral comparisons, bloom membership for equality literals on
    * bloomed columns. (Conservative: unknown filter shapes and zones
    * missing the stat/bloom keep the zone.) */
  private def mayMatch(z: ZonedManifest.Zone, f: Filter): Boolean = {
    val stats = z.stats
    f match {
      case EqualTo(a, v) =>
        val statOk = if (isIntegralV(v))
          stats.get(a).forall { case (lo, hi) =>
            asLong(v) >= lo && asLong(v) <= hi }
        else true
        val bloomOk = z.blooms.get(a).forall(words =>
          ZonedManifest.bloomMayContain(words, v))
        statOk && bloomOk
      case In(a, vs) =>
        // zone survives iff SOME member may be present (per-member
        // stats/bloom check — disjunction of the EqualTo logic)
        vs.exists { v =>
          val statOk = if (isIntegralV(v))
            stats.get(a).forall { case (lo, hi) =>
              asLong(v) >= lo && asLong(v) <= hi }
          else true
          val bloomOk = z.blooms.get(a).forall(words =>
            ZonedManifest.bloomMayContain(words, v))
          statOk && bloomOk
        }
      case GreaterThan(a, v) => stats.get(a).forall(_._2 > asLong(v))
      case GreaterThanOrEqual(a, v) => stats.get(a).forall(_._2 >= asLong(v))
      case LessThan(a, v) => stats.get(a).forall(_._1 < asLong(v))
      case LessThanOrEqual(a, v) => stats.get(a).forall(_._1 <= asLong(v))
      case _ => true
    }
  }

  private def isIntegralV(v: Any): Boolean = v match {
    case _: Long | _: Int | _: Short | _: Byte => true
    case _ => false
  }

  private lazy val survivors: Seq[ZonedManifest.Zone] =
    manifest.zones.filter(z => pruning.forall(mayMatch(z, _)))

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"ZonedScan(zones=${survivors.length}/${manifest.zones.length}, " +
      s"pruned_by=[${pruning.mkString(", ")}])"

  override def planInputPartitions(): Array[InputPartition] =
    survivors.map { z =>
      val dir = Paths.get(manifest.root, z.dirName)
      val files =
        if (Files.isDirectory(dir)) {
          val stream = Files.list(dir)
          try stream.iterator().asScala
            .filter(p => Files.isRegularFile(p) &&
              !p.getFileName.toString.startsWith("_") &&
              !p.getFileName.toString.startsWith("."))
            .map(_.toString).toArray.sorted
          finally stream.close()
        } else Array.empty[String]
      ZonePartition(files): InputPartition
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new ZonedReaderFactory(fullSchema, required)

  /** Planning-time statistics from the manifest (what AQE/join planning
    * would consume): row count over surviving zones only. */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong = OptionalLong.empty()
    override def numRows(): OptionalLong =
      OptionalLong.of(survivors.map(_.nRows).sum)
  }
}

private[sources] case class ZonePartition(files: Array[String])
    extends InputPartition

private[sources] class ZonedReaderFactory(fullSchema: StructType,
                                          required: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition):
      PartitionReader[InternalRow] =
    new ZonedReader(partition.asInstanceOf[ZonePartition].files,
      fullSchema, required)
}

/** Line reader: TSV split, projected to the required fields only, typed
  * per the full schema (long/string), `\N` → null. */
private[sources] class ZonedReader(files: Array[String],
                                   fullSchema: StructType,
                                   required: StructType)
    extends PartitionReader[InternalRow] {

  private val fieldIdx: Array[Int] =
    required.fields.map(f => fullSchema.fieldIndex(f.name))
  private val isLong: Array[Boolean] =
    required.fields.map(_.dataType == LongType)

  private var fileIdx = 0
  private var reader: java.io.BufferedReader = _
  private var line: String = _

  private def nextLine(): String = {
    while (true) {
      if (reader == null) {
        if (fileIdx >= files.length) return null
        reader = Files.newBufferedReader(Paths.get(files(fileIdx)),
          StandardCharsets.UTF_8)
        fileIdx += 1
      }
      val l = reader.readLine()
      if (l != null) return l
      reader.close(); reader = null
    }
    null // unreachable
  }

  override def next(): Boolean = { line = nextLine(); line != null }

  override def get(): InternalRow = {
    val parts = line.split("\t", -1)
    val row = new GenericInternalRow(fieldIdx.length)
    var i = 0
    while (i < fieldIdx.length) {
      val raw = parts(fieldIdx(i))
      if (raw == "\\N") row.update(i, null)
      else if (isLong(i)) row.setLong(i, java.lang.Long.parseLong(raw))
      else row.update(i, UTF8String.fromString(raw))
      i += 1
    }
    row
  }

  override def close(): Unit = if (reader != null) reader.close()
}

/** The `_zonemap.tsv` manifest: one schema line, one line per zone,
  * plus optional `dzone` lines — EQUALITY-DELETE zones (Iceberg v2
  * style): a delete zone stores KEY VALUES whose rows are logically
  * deleted; data files are never rewritten (merge-on-read), and because
  * the deletes are by VALUE, not file position, compaction can move data
  * files freely without invalidating them. */
private[sources] object ZonedManifest {
  case class Zone(dirName: String, nRows: Long,
                  stats: Map[String, (Long, Long)],
                  blooms: Map[String, Array[Long]] = Map.empty)
  case class DeleteZone(dirName: String, nRows: Long, keyCols: Seq[String])
  case class Manifest(root: String, schema: StructType,
                      statCols: Set[String], zones: Seq[Zone],
                      deletes: Seq[DeleteZone] = Seq.empty) {
    /** Columns EVERY zone carries a bloom for (pruning needs totality —
      * a zone without a bloom can never be skipped, but a column where
      * only SOME zones have blooms still prunes those zones... we keep
      * the per-zone conservative check in mayMatch and advertise any
      * column with at least one bloom). */
    val bloomCols: Set[String] = zones.flatMap(_.blooms.keys).toSet
  }

  val CurrentName = "_zonemap.tsv"

  /** Manifest file name of snapshot version `v`. */
  def versionName(v: Long): String = s"_zonemap.v$v.tsv"

  /** ZONE BLOOM FILTERS (the Parquet-bloom / Iceberg idea at zone
    * granularity): min/max stats cannot prune STRING equality — a zone's
    * [min,max] over strings is useless against `source = 'x'`. A small
    * per-zone bloom (8192 bits, 2 xxhash64-derived probes) answers
    * "definitely absent" for equality literals of ANY column type at
    * planning time, driver-side, zero data files opened. FPR at 1k
    * distinct values/zone ≈ 6% — a false positive only costs an
    * un-skipped zone (correctness is the post-scan re-check, as for all
    * pruning in this source). */
  val BloomBits = 8192
  val BloomWords: Int = BloomBits / 64

  /** The two bit positions of a value, from Spark's xxhash64 (seed 42)
    * and a salted second hash — the WRITER evaluates the identical
    * expressions distributed, the READER evaluates them driver-side on
    * the filter literal via Catalyst eval, so probe == build by
    * construction. */
  def bloomPositions(value: Any): (Int, Int) = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val lit1 = Literal.create(value)
    // seed 42 = the default of the SQL function xxhash64(...) the
    // writer evaluates distributed
    val h1 = XxHash64(Seq(lit1), 42L).eval(null).asInstanceOf[Long]
    val h2 = XxHash64(Seq(Literal(BloomSalt), lit1), 42L).eval(null)
      .asInstanceOf[Long]
    (pmodInt(h1, BloomBits), pmodInt(h2, BloomBits))
  }

  val BloomSalt = 0x9e3779b97f4a7c15L

  private def pmodInt(h: Long, m: Int): Int = {
    val r = (h % m).toInt
    if (r < 0) r + m else r
  }

  def bloomMayContain(words: Array[Long], value: Any): Boolean = {
    val (p1, p2) = bloomPositions(value)
    def bit(p: Int): Boolean =
      (words(p >> 6) & (1L << (p & 63))) != 0L
    bit(p1) && bit(p2)
  }

  /** Sparse serialization: `idx-hexWord` pairs joined by `.` (dense
    * zeros omitted — most zones set a few hundred bits). */
  def bloomToString(words: Array[Long]): String =
    words.zipWithIndex.collect {
      case (w, i) if w != 0L => s"$i-${java.lang.Long.toHexString(w)}"
    }.mkString(".")

  def bloomFromString(s: String): Array[Long] = {
    val words = new Array[Long](BloomWords)
    if (s.nonEmpty) s.split("\\.").foreach { t =>
      val Array(i, h) = t.split("-")
      words(i.toInt) = java.lang.Long.parseUnsignedLong(h, 16)
    }
    words
  }

  def read(root: String, name: String = CurrentName): Manifest = {
    val p = Paths.get(root, name)
    require(Files.exists(p),
      s"no manifest $name under $root — the snapshot version does not " +
        "exist or was expired by a compaction (compaction moves data " +
        "files, which invalidates older snapshots)")
    val lines = Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq
    val schema = StructType(lines.head.split("\t")(1).split(",").map { s =>
      val Array(n, t) = s.split(":")
      StructField(n, if (t == "long") LongType else StringType)
    })
    val (dzoneLines, zoneLines) =
      lines.tail.partition(_.startsWith("dzone\t"))
    val zones = zoneLines.map { l =>
      val parts = l.split("\t")
      val stats = if (parts.length > 3 && parts(3).nonEmpty)
        parts(3).split(",").map { s =>
          val Array(c, lo, hi) = s.split(":")
          c -> ((lo.toLong, hi.toLong))
        }.toMap
      else Map.empty[String, (Long, Long)]
      val blooms = if (parts.length > 4 && parts(4).nonEmpty)
        parts(4).split(";").map { s =>
          val Array(c, words) = s.split("~", 2)
          c -> bloomFromString(words)
        }.toMap
      else Map.empty[String, Array[Long]]
      Zone(parts(1), parts(2).toLong, stats, blooms)
    }
    val deletes = dzoneLines.map { l =>
      val parts = l.split("\t")
      DeleteZone(parts(1), parts(2).toLong, parts(3).split(",").toSeq)
    }
    Manifest(root, schema, zones.flatMap(_.stats.keys).toSet, zones,
      deletes)
  }
}

/** Introspection surface a graft DSv2 Scan exposes to OPTIMIZER RULES
  * (plans.PkFkJoinElimination): which filters the scan pushed, and which
  * stored table it reads. A v2 scan is otherwise a black box at the
  * logical level — a rule that rewrites around one must be able to
  * verify (a) no pushed filter could change the row set it assumes and
  * (b) the scan really reads the table a declared constraint binds to. */
trait GraftScanIntrospection {
  /** Filters this scan will apply at STORAGE level. For ZonedScan these
    * are row-neutral (zones are pruned only when no row can match, and
    * every filter is also returned as a post-scan residual), but rules
    * stay conservative and only trust an EMPTY list. */
  def pushedPruningFilters: Seq[Filter]

  /** Stable identity of the stored table (the layout root path). */
  def tableIdent: String
}

/** Writer for the zoned layout: data via Spark's distributed CSV writer
  * (tab sep, `\N` nulls), manifest from ONE metadata-scale aggregate. */
object ZonedCorpus {

  /** Write `df` under `path`, one zone directory per distinct value of
    * `zone` (must be non-null), with min/max manifest stats for each of
    * `statCols` (long columns) and an 8192-bit equality bloom for each
    * of `bloomCols` (any column type — the string-equality pruning
    * min/max can't give). Column order in the files is the DataFrame's
    * column order, recorded in the manifest schema line. */
  def write(df: DataFrame, path: String, zone: Column,
            statCols: Seq[String], bloomCols: Seq[String] = Nil): Unit = {
    val dataCols = df.columns.toSeq
    require(df.schema.fields.forall(f =>
      f.dataType == LongType || f.dataType == StringType),
      "zoned layout supports long/string columns only")
    // version BEFORE the data write: overwrite may or may not clear the
    // old manifests from disk, and the number must stay monotonic either
    // way (a reader holding "version 1" of the OLD table must never
    // silently resolve to version 1 of the NEW one)
    val v = nextVersion(path)
    val zoned = df.withColumn("__zone", zone)
    zoned.select((col("__zone") +: dataCols.map(col)): _*)
      .write.partitionBy("__zone")
      .option("sep", "\t").option("nullValue", "\\N")
      .option("emptyValue", "")
      // the reader is a raw line splitter: disable quoting so a value
      // containing the quote char can never be written quoted (values
      // containing tab/newline are outside the layout's contract)
      .option("quote", "")
      .mode("overwrite").csv(path)
    val aggs = statCols.flatMap(c =>
      Seq(min(col(c)).as(s"lo_$c"), max(col(c)).as(s"hi_$c"))) :+
      count(lit(1)).as("n")
    val stats = zoned.groupBy(col("__zone")).agg(aggs.head, aggs.tail: _*)
      .collect() // one row per zone — metadata-scale by construction
    val zones = stats.toSeq.map { r =>
      // a zone whose stat column is entirely null has null min/max:
      // OMIT the stat (getAs would unbox to 0 and fabricate 0:0 bounds)
      // — the reader keeps such zones under every filter (conservative)
      // and refuses aggregate pushdown for that column
      val st = statCols.filter(c =>
          r.getAs[Any](s"lo_$c") != null && r.getAs[Any](s"hi_$c") != null)
        .map(c =>
          c -> ((r.getAs[Long](s"lo_$c"), r.getAs[Long](s"hi_$c")))).toMap
      ZonedManifest.Zone(s"__zone=${r.get(0)}", r.getAs[Long]("n"), st)
    }
    // per-zone equality blooms: ONE metadata-scale aggregate per bloom
    // column — explode each row into its two bit positions, bit_or the
    // words per (zone, word); zones × ≤2·BloomWords rows reach the driver
    val blooms: Map[String, Map[String, Array[Long]]] =
      bloomCols.map { c =>
        val posCols = Seq(
          pmod(xxhash64(col(c)), lit(ZonedManifest.BloomBits)),
          pmod(xxhash64(lit(ZonedManifest.BloomSalt), col(c)),
            lit(ZonedManifest.BloomBits)))
        val cells = zoned.select(col("__zone"),
            explode(array(posCols.map(p => p.cast("int")): _*)).as("__p"))
          .filter(col("__p").isNotNull)
          .groupBy(col("__zone"), expr("shiftright(__p, 6)").as("__w"))
          .agg(expr("bit_or(shiftleft(1L, CAST(__p & 63 AS INT)))")
            .as("__word"))
          .collect()
        val byZone = cells.groupBy(r => s"__zone=${r.get(0)}").map {
          case (zn, rows) =>
            val words = new Array[Long](ZonedManifest.BloomWords)
            rows.foreach(r => words(r.getInt(1)) |= r.getLong(2))
            zn -> words
        }
        c -> byZone
      }.toMap
    val zonesWithBlooms = zones.map { z =>
      val bl = bloomCols.flatMap(c =>
        blooms(c).get(z.dirName).map(c -> _)).toMap
      if (bl.isEmpty) z else z.copy(blooms = bl)
    }
    installManifest(path, df.schema, zonesWithBlooms, v)
    // a full (over)write REPLACED every zone directory, so any earlier
    // snapshot manifest that survived on disk is now a lie — a versioned
    // read through it would return the NEW files (or nothing) under the
    // OLD snapshot number. EXPIRE them like compact() does: delete every
    // other version manifest so `.option("version", old)` fails with the
    // clear no-such-snapshot message instead of returning wrong rows.
    // Appends (appendZones) remain the only mutation that retains
    // history — the Iceberg overwrite/expire contract.
    versions(path).filter(_ != v).foreach(old =>
      Files.deleteIfExists(Paths.get(path, ZonedManifest.versionName(old))))
  }

  /** Snapshot versions present under `path`, ascending (empty when the
    * table directory does not exist yet — first write). */
  def versions(path: String): Seq[Long] = {
    if (!Files.isDirectory(Paths.get(path))) return Seq.empty
    val stream = Files.list(Paths.get(path))
    try stream.iterator().asScala.map(_.getFileName.toString).flatMap { n =>
      if (n.startsWith("_zonemap.v") && n.endsWith(".tsv"))
        n.stripPrefix("_zonemap.v").stripSuffix(".tsv").toLongOption
      else None
    }.toSeq.sorted
    finally stream.close()
  }

  private def nextVersion(path: String): Long =
    versions(path).lastOption.getOrElse(0L) + 1L

  /** Serialize `zones` as BOTH the current `_zonemap.tsv` and the
    * numbered snapshot manifest `_zonemap.v<v>.tsv` — every layout
    * mutation is a new snapshot, and `.option("version", v)` reads any
    * retained one. */
  private def installManifest(path: String, schema: StructType,
                              zones: Seq[ZonedManifest.Zone],
                              v: Long,
                              deletes: Seq[ZonedManifest.DeleteZone] =
                                Seq.empty): Long = {
    val statColsOrdered = zones.flatMap(_.stats.keys).toSet.toSeq.sorted
    val schemaLine = "schema\t" + schema.fields
      .map(f => s"${f.name}:${if (f.dataType == LongType) "long" else "string"}")
      .mkString(",")
    val zoneLines = zones.map { z =>
      val st = statColsOrdered.filter(z.stats.contains).map(c =>
        s"$c:${z.stats(c)._1}:${z.stats(c)._2}").mkString(",")
      val bl = z.blooms.toSeq.sortBy(_._1).map { case (c, w) =>
        s"$c~${ZonedManifest.bloomToString(w)}" }.mkString(";")
      if (bl.isEmpty) s"zone\t${z.dirName}\t${z.nRows}\t$st"
      else s"zone\t${z.dirName}\t${z.nRows}\t$st\t$bl"
    }
    val dzoneLines = deletes.map(d =>
      s"dzone\t${d.dirName}\t${d.nRows}\t${d.keyCols.mkString(",")}")
    val bytes = ((schemaLine +: (zoneLines ++ dzoneLines)).mkString("\n") + "\n")
      .getBytes(StandardCharsets.UTF_8)
    Files.write(Paths.get(path, ZonedManifest.versionName(v)), bytes)
    Files.write(Paths.get(path, ZonedManifest.CurrentName), bytes)
    v
  }

  /**
   * APPEND `df` as new zones — the snapshot-isolation ingest path: new
   * zone directories land beside the existing ones (suffixed `-a<v>` so
   * repeated appends never collide; zone dir names are opaque storage
   * units, the data columns live inside the files), existing files are
   * NEVER touched, and a new snapshot manifest = old zones ++ new zones
   * is installed. Every retained older version keeps reading exactly
   * the rows it always did (`.option("version", v)`) — the Iceberg
   * append contract. Returns the new snapshot version.
   */
  def appendZones(df: DataFrame, path: String, zone: Column,
                  statCols: Seq[String], bloomCols: Seq[String] = Nil)
      : Long = {
    val m = ZonedManifest.read(path)
    require(df.schema.fields.map(f => (f.name, f.dataType)).sameElements(
        m.schema.fields.map(f => (f.name, f.dataType))),
      "appended frame must match the table schema exactly")
    val v = nextVersion(path)
    val tmp = Files.createTempDirectory("graft-zoned-append")
    write(df, tmp.toString, zone, statCols, bloomCols)
    val appended = ZonedManifest.read(tmp.toString)
    val renamed = appended.zones.map { z =>
      val dirName = s"${z.dirName}-a$v"
      require(!Files.exists(Paths.get(path, dirName)),
        s"appended zone $dirName collides with an existing zone")
      Files.move(tmp.resolve(z.dirName), Paths.get(path, dirName))
      z.copy(dirName = dirName)
    }
    graft.Artifacts.deleteRecursively(tmp)
    installManifest(path, m.schema, m.zones ++ renamed, v, m.deletes)
  }

  /**
   * EQUALITY DELETE (Iceberg v2 style, merge-on-read): logically delete
   * every row whose key tuple appears in `keys` — WITHOUT touching any
   * data file. The distinct key tuples are written as a delete zone
   * (`__del=a<v>`, same tab-CSV format) and a new snapshot manifest
   * records it; earlier snapshots keep reading the undeleted table
   * (time travel across the delete), and compaction never invalidates
   * the delete because it references values, not positions.
   *
   * `keys` columns must be a non-empty subset of the table schema with
   * matching types. Returns the new snapshot version.
   *
   * 100 TB shape: cost is O(|keys|) — one distinct + one CSV write;
   * the expensive row rewrite is deferred to the next real compaction
   * (exactly Delta/Iceberg merge-on-read economics).
   */
  def deleteWhere(keys: DataFrame, path: String): Long = {
    import scala.jdk.CollectionConverters._
    val m = ZonedManifest.read(path)
    val keyCols = keys.columns.toSeq
    require(keyCols.nonEmpty, "delete needs at least one key column")
    keyCols.foreach { c =>
      val f = m.schema.fields.find(_.name == c)
      require(f.isDefined, s"delete key $c is not a table column")
      require(f.get.dataType == keys.schema(c).dataType,
        s"delete key $c type ${keys.schema(c).dataType} != table " +
          s"${f.get.dataType}")
    }
    val v = nextVersion(path)
    val dirName = s"__del=a$v"
    require(!Files.exists(Paths.get(path, dirName)),
      s"delete zone $dirName collides with an existing directory")
    val distinctKeys = keys.distinct()
    // the delete zone rides the layout's tab-CSV contract, where a
    // NULL key never matches the left_anti join of readWithDeletes, an
    // EMPTY string round-trips to null (same silent no-op), and a
    // tab/newline inside a key tears the row — all three would be
    // deletes that silently don't delete. Fail LOUDLY instead (fused
    // into the same metadata-scale aggregate that counts the keys).
    val badKey = keyCols.map { c =>
      val base = col(c).isNull
      if (keys.schema(c).dataType == StringType)
        base || col(c) === "" || col(c) === "\\N" ||
          col(c).contains("\t") || col(c).contains("\n") ||
          col(c).contains("\r")
      else base
    }.reduce(_ || _)
    val cnts = distinctKeys.agg(count(lit(1)).as("n"),
      sum(when(badKey, 1L).otherwise(0L)).as("bad")).head()
    val n = cnts.getLong(0)
    val nBad = if (cnts.isNullAt(1)) 0L else cnts.getLong(1)
    require(nBad == 0L,
      s"$nBad delete key row(s) are null/empty or contain tab/newline/" +
        "\\N — unsupported by the delete-zone CSV layout; such deletes " +
        "would be silently dropped")
    val tmp = Files.createTempDirectory("graft-zoned-delete")
    distinctKeys.write
      .option("sep", "\t").option("nullValue", "\\N")
      .option("emptyValue", "").option("quote", "")
      .mode("overwrite").csv(tmp.toString)
    val target = Paths.get(path, dirName)
    Files.createDirectories(target)
    val stream = Files.list(tmp)
    try stream.iterator().asScala.toSeq.foreach { f =>
      val name = f.getFileName.toString
      if (Files.isRegularFile(f) &&
          !name.startsWith("_") && !name.startsWith("."))
        Files.move(f, target.resolve(name))
      else Files.deleteIfExists(f)
    } finally stream.close()
    Files.deleteIfExists(tmp)
    installManifest(path, m.schema, m.zones, v,
      m.deletes :+ ZonedManifest.DeleteZone(dirName, n, keyCols))
  }

  /**
   * MERGE-ON-READ: the table with every pending equality delete
   * applied — data zones scanned through the connector (zone pruning
   * and column pruning intact), each delete zone anti-joined out on its
   * own key columns. The delete side is usually metadata-sized and
   * broadcast by the planner; a giant delete set degrades to a shuffle
   * anti-join, which is still the right plan.
   */
  def readWithDeletes(spark: org.apache.spark.sql.SparkSession,
                      path: String,
                      version: Option[Long] = None): DataFrame = {
    val m = ZonedManifest.read(path,
      version.fold(ZonedManifest.CurrentName)(ZonedManifest.versionName))
    var reader = spark.read.format("graft.sources.ZonedSource")
      .option("ignoreDeletes", "true")
    version.foreach(v => reader = reader.option("version", v.toString))
    val data = reader.load(path)
    m.deletes.foldLeft(data) { (df, del) =>
      val keySchema = StructType(
        del.keyCols.map(c => m.schema.fields.find(_.name == c).get))
      val delKeys = spark.read
        .option("sep", "\t").option("nullValue", "\\N")
        .schema(keySchema)
        .csv(Paths.get(path, del.dirName).toString)
      df.join(delKeys, del.keyCols, "left_anti")
    }
  }

  /**
   * EXECUTE a compaction plan (the q164 shape: zone dir name →
   * compaction group): members of each group move into one merged
   * `__compact=<group>` zone whose manifest stats are the member-wise
   * min/max (so pruning stays exactly as selective as the union of the
   * members), all other zones keep their entries untouched. Pure
   * METADATA + file moves — no data rewrite, no Spark job; rows and
   * read results are byte-identical before and after (the spec's
   * contract). Returns the number of zones removed.
   */
  def compact(path: String, plan: Map[String, Long]): Int = {
    import scala.jdk.CollectionConverters._
    val m = ZonedManifest.read(path)
    val (moving, staying) = m.zones.partition(z => plan.contains(z.dirName))
    if (moving.isEmpty) return 0
    val merged = moving.groupBy(z => plan(z.dirName)).toSeq.sortBy(_._1)
      .map { case (group, members) =>
        val dirName = s"__compact=$group"
        val target = Paths.get(path, dirName)
        Files.createDirectories(target)
        members.foreach { z =>
          val src = Paths.get(path, z.dirName)
          val stream = Files.list(src)
          try stream.iterator().asScala.toSeq.foreach { f =>
            val name = f.getFileName.toString
            if (Files.isRegularFile(f) &&
                !name.startsWith("_") && !name.startsWith("."))
              // member dirs can carry same-named part files: prefix with
              // the source zone so moves never collide (prefix must not
              // start with _/. — the reader skips metadata files)
              Files.move(f, target.resolve(
                s"z${z.dirName.replaceAll("[^0-9A-Za-z-]", "-")}-$name"))
            else Files.deleteIfExists(f) // writer-side .crc/_ metadata
          }
          finally stream.close()
          Files.deleteIfExists(src)
        }
        val stats = members.flatMap(_.stats.toSeq)
          .groupBy(_._1).map { case (c, vs) =>
            c -> ((vs.map(_._2._1).min, vs.map(_._2._2).max)) }
        // merged bloom = OR of member blooms, only when EVERY member
        // carries one (a bloom-less member could hold any value — the
        // merged zone must then stay conservative, i.e. no bloom)
        val bloomCols = members.head.blooms.keySet
          .filter(c => members.forall(_.blooms.contains(c)))
        val blooms = bloomCols.map { c =>
          val words = new Array[Long](ZonedManifest.BloomWords)
          members.foreach { m =>
            val mw = m.blooms(c)
            var i = 0
            while (i < words.length) { words(i) |= mw(i); i += 1 }
          }
          c -> words
        }.toMap
        ZonedManifest.Zone(dirName, members.map(_.nRows).sum, stats,
          blooms)
      }
    // stat columns derive per-zone inside installManifest over the
    // union of ALL zones (matching ZonedManifest.read's derivation):
    // deriving from the head zone alone would silently drop a stat
    // column from every rewritten zone whenever the head zone happened
    // to omit it (e.g. an all-null zone), permanently losing pruning
    // selectivity and aggregate pushdown for that column
    // equality deletes survive compaction untouched: they reference key
    // VALUES, not file positions — the reason this layout uses equality
    // deletes rather than positional deletion vectors
    val newV = installManifest(path, m.schema, staying ++ merged,
      nextVersion(path), m.deletes)
    // compaction MOVED data files, so earlier snapshots can no longer
    // resolve their zone directories: EXPIRE them (delete their
    // manifests — a versioned read now fails with a clear message
    // instead of a missing-directory error mid-scan). This is the
    // expire-snapshots half of the Iceberg contract; appends never
    // expire anything.
    versions(path).filter(_ != newV).foreach(v =>
      Files.deleteIfExists(Paths.get(path, ZonedManifest.versionName(v))))
    moving.size - merged.size
  }
}
