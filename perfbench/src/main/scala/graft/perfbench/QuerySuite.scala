package graft.perfbench

import java.nio.file.Paths

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.ops.{BucketedAnn, PqStore}

/**
 * A panel of registry queries (`SparkEntry.queries`) over the stored ANN
 * and PQ indexes. [[buildIndexes]] builds both indexes from a clean state;
 * [[digestPass]] runs every panel query once, untimed by the loop, and
 * records its row count and order-insensitive digest (checked against
 * `perfbench/expected/query_suite.json`) together with what the builder
 * did before it returned: its seconds, the Spark jobs it started and the
 * RDDs it left persisted. The pass also fills the session memos, so a
 * measured query never pays a one-off build.
 */
final class RegistryPanel(spark: SparkSession, data: String, val panel: Seq[String]) {
  val registry = SparkEntry.queries
  val digests = scala.collection.mutable.LinkedHashMap.empty[String, ListMap[String, Any]]

  /** Seconds spent building the two indexes. */
  def buildIndexes(): Double = {
    Seq(BucketedAnn.indexPath(data), PqStore.indexPath(data))
      .foreach(p => Harness.deleteTree(Paths.get(p)))
    val t0 = System.nanoTime()
    BucketedAnn.ensureIndex(spark, data)
    PqStore.ensureIndex(spark, data)
    (System.nanoTime() - t0) / 1e9
  }

  def digestPass(): Unit = panel.foreach { name =>
    val sc = spark.sparkContext
    digests(name) =
      try {
        val group = s"perfbench-build-$name"
        val pinned0 = sc.getPersistentRDDs.size
        val t0 = System.nanoTime()
        sc.setJobGroup(group, name)
        val df = try registry(name)(spark, data) finally sc.clearJobGroup()
        val t1 = System.nanoTime()
        val (rows, digest) = QuerySuite.digest(df)
        ListMap("rows" -> rows, "digest" -> digest,
          "build_s" -> (t1 - t0) / 1e9,
          "build_jobs" -> sc.statusTracker.getJobIdsForGroup(group).length,
          "pinned_rdds" -> (sc.getPersistentRDDs.size - pinned0),
          "s" -> (System.nanoTime() - t0) / 1e9)
      } catch {
        case scala.util.control.NonFatal(e) => ListMap("error" -> e.getClass.getName)
      } finally spark.catalog.clearCache()
  }

  /** Per panel query, over the digest pass: `registry.*` layer metrics. */
  def layerMetrics: Map[String, Double] = {
    val ok = digests.values.filterNot(_.contains("error")).toSeq
    def mean(k: String) =
      if (ok.isEmpty) 0.0 else ok.map(_(k).toString.toDouble).sum / ok.size
    Map("registry.build_s" -> mean("build_s"), "registry.build_jobs" -> mean("build_jobs"),
      "registry.pinned_rdds" -> mean("pinned_rdds"), "registry.query_s" -> mean("s"))
  }
}

/**
 * `query_suite`: the registry panel into the `noop` sink, one caller. Each
 * set-up repetition builds the stored ANN and PQ indexes from a clean
 * state; the one-off rest of set-up is the panel's digest pass. The
 * measured loop runs whole rounds over the panel, each in its own
 * seed-shuffled order; in a traced run half the panel is traced in each
 * round, every query on alternate rounds.
 */
final class QuerySuite(spark: SparkSession, in: Main.Inputs) extends Workload {
  private val rounds: Seq[Seq[String]] =
    in.node.get("rounds").elements.asScala.map(_.elements.asScala.map(_.asText).toSeq).toSeq
  private val panel = new RegistryPanel(spark, in.data, in.strs("panel"))
  private val slot: Map[String, Int] = panel.panel.zipWithIndex.toMap

  def setup(rep: Int): Double = panel.buildIndexes()

  override def prepare(): Double = { panel.digestPass(); 0.0 }

  def measure(loop: OpLoop, tracer: Option[Tracer], deadline: Long): Unit = {
    val it = rounds.iterator
    var r = 0
    while (System.nanoTime() < deadline && it.hasNext) {
      it.next().foreach { name =>
        Op.attempt(loop, tracer, traced = (slot(name) + r) % 2 == 1, name) { sp =>
          val pinned0 = spark.sparkContext.getPersistentRDDs.size
          val df = sp("queries") {
            val d = panel.registry(name)(spark, in.data)
            sp.attr("pinned_rdds", spark.sparkContext.getPersistentRDDs.size - pinned0)
            d
          }
          sp("exec")(df.write.format("noop").mode("overwrite").save())
        }
        spark.catalog.clearCache()
      }
      r += 1
    }
  }

  override def layerMetrics: Map[String, Double] = panel.layerMetrics

  def checks(): Map[String, Any] = Map("digests" -> panel.digests)
}

object QuerySuite {

  /** Canonical text of one value: doubles rounded to 6 places (so the
    * last bits of a parallel sum do not count), nested values as JSON. */
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val r = round(c.cast(DoubleType), 6)
      when(r === 0.0, lit("0")).otherwise(r.cast(StringType))
    case _: ArrayType | _: MapType | _: StructType => to_json(c)
    case _ => c.cast(StringType)
  }

  /** (rows, digest): the digest is the exact sum of the rows' 64-bit
    * hashes, so it does not depend on row order or partitioning. */
  def digest(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val fields = named.schema.fields.toSeq
    val row = concat_ws("\u0001", fields.map(f =>
      coalesce(canon(col(f.name), f.dataType), lit("\u0000"))): _*)
    val r = named.select(xxhash64(row).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toString).getOrElse("0"))
  }
}
