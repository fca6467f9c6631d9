package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.jobs.{TrendsJob, TrendsMain}
import graft.model.DomainFixtures
import graft.queries.DomainQueries
import graft.sink.KeyedPartitionSink

/**
 * `daily_trends`: the paper's daily job through its CLI surface. Each
 * set-up repetition materializes the five DomainFixtures tables to parquet;
 * the last repetition's tables are the ones measured. The one-off rest of
 * set-up is a few warm-up days on the fixtures. A traced run first carries
 * the registry side of the engine there as well: it builds the stored ANN
 * and PQ indexes and runs the registry panel's digest pass
 * ([[RegistryPanel]]). Untraced runs leave it out, or the benchmark's runs
 * would not fit their time budget. Each operation is one `TrendsMain.run`
 * for a seed-drawn (day, list) with the reference defaults (3 passes,
 * limit 10, page 0, the keyed partition sink). The schedule re-runs
 * already-written days at a fixed share, the reference's pre-delete/rerun
 * path.
 *
 * A traced operation cannot open spans inside `TrendsMain.run`, so it makes
 * the calls of that method's parquet branch (`case (None, _)`) itself, one
 * span per layer: `TrendsMain.loadParquetTables` (sources),
 * `TrendsJob.runPass` per pass (queries) and `KeyedPartitionSink.write`
 * (sink). [[traced]] must mirror that branch, including its default of 100
 * write tasks; `trace.overhead_frac` compares this copy with the real call.
 */
final class DailyTrends(spark: SparkSession, in: Main.Inputs) extends Workload {
  private val root = in.root
  private val schedule: Seq[(String, String)] =
    in.node.get("ops").elements.asScala.map(o => o.get(0).asText -> o.get(1).asText).toSeq
  private val warmups: Seq[(String, String)] =
    in.node.get("warmup").elements.asScala.map(o => o.get(0).asText -> o.get(1).asText).toSeq
  private val rerunEvery = in.int("rerun_every")
  private var fixtures = ""
  private val sink = s"$root/sink"
  private val written = scala.collection.mutable.LinkedHashSet.empty[(String, String)]

  private def opts(tables: String, sinkPath: String, day: String, list: String) = Map(
    "tables-dir" -> tables, "sink-path" -> sinkPath,
    "since-date" -> day, "publishers-list-id" -> list)

  private val panel = new RegistryPanel(spark, in.data, in.strs("panel"))

  def setup(rep: Int): Double = {
    fixtures = s"$root/fixtures-$rep"
    val t0 = System.nanoTime()
    val t = DomainFixtures.tables(spark, in.data)
    Seq("weaving_status" -> t.weavingStatus, "highlight" -> t.highlight,
      "publishers_list" -> t.publishersList, "status_popularity" -> t.statusPopularity,
      "weaving_user" -> t.weavingUser).foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$fixtures/$name.parquet")
    }
    (System.nanoTime() - t0) / 1e9
  }

  override def prepare(): Double = {
    val indexes = if (in.trace) panel.buildIndexes() else 0.0
    if (in.trace) panel.digestPass()
    // into the measured sink, so that no measured operation is its first write
    warmups.foreach { case (day, list) => TrendsMain.run(spark, opts(fixtures, sink, day, list)) }
    indexes
  }

  def measure(loop: OpLoop, tracer: Option[Tracer], deadline: Long): Unit = {
    val ops = schedule.iterator
    var i = 0
    // a rerun is faster than a fresh day, so the loop ends only after a
    // whole round of fresh days and their rerun: every run then has the
    // same mix, whatever its operation count
    while ((System.nanoTime() < deadline || i % rerunEvery != 0) && ops.hasNext) {
      val (day, list) = ops.next()
      val o = opts(fixtures, sink, day, list)
      val start = System.currentTimeMillis()
      // whole rounds alternate between traced and untraced, so that both
      // sides of trace.overhead_frac hold fresh days and reruns alike
      val ok = Op.attempt(loop, tracer, traced = (i / rerunEvery) % 2 == 1, "trends_run",
        settle = tracer.foreach(_.annotate("sink", "files_written", filesSince(start)))) { sp =>
        if (sp.tracer.isEmpty) TrendsMain.run(spark, o) else traced(sp, o)
      }
      if (ok) written += day -> list
      i += 1
    }
  }

  /** `TrendsMain.run`'s parquet branch with a span around each layer. */
  private def traced(sp: Spans, o: Map[String, String]): Unit = {
    val cfg = TrendsJob.Config(params = TrendsMain.paramsFrom(o), sinkPath = sink)
    val t = sp("sources")(TrendsMain.loadParquetTables(spark, fixtures))
    val docs = sp("queries") {
      val pinned0 = spark.sparkContext.getPersistentRDDs.size
      val d = TrendsJob.activePasses(cfg.distinctSourcesOnly)
        .map { case (st, ds, rt) => TrendsJob.runPass(t, cfg, st, ds, rt) }
        .reduce(_ union _)
      sp.attr("pinned_rdds", spark.sparkContext.getPersistentRDDs.size - pinned0)
      d
    }
    sp("sink")(KeyedPartitionSink.write(docs, sink, dryRun = false, maxWriteTasks = 100))
  }

  /** Parquet files in the sink modified at or after `ms`. */
  private def filesSince(ms: Long): Double = {
    val st = java.nio.file.Files.walk(java.nio.file.Paths.get(sink))
    try st.iterator().asScala.count(p => p.toString.endsWith(".parquet") &&
      java.nio.file.Files.getLastModifiedTime(p).toMillis >= ms).toDouble
    finally st.close()
  }

  /** The sink and the oracle text; run.py recomputes each written
    * (day, list) partition in DuckDB and compares. */
  def checks(): Map[String, Any] = Map(
    "sink" -> sink,
    "written" -> written.toSeq.map { case (d, l) => Seq(d, l) },
    "deprecated_list_id" -> graft.queries.HighlightQueries.DeprecatedListId,
    "fixture_cte" -> DomainQueries.fixtureCte,
    "curated_sql" -> DomainQueries.q31Sql,
    "distinct_sql" -> DomainQueries.q32Sql,
    "oracle_day" -> DomainQueries.SinceDate,
    "digests" -> panel.digests)

  override def layerMetrics: Map[String, Double] = panel.layerMetrics
}
