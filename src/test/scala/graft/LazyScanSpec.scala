package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._

import graft.ops._

/** Every operator on the two-phase prefix scan returns a plan: it starts
  * no Spark job before the caller's action, caches nothing, and its
  * executed plan materializes each scan's range exchange ONCE, every other
  * consumer reading it as a `ReusedExchange` — the invariant that gives
  * the local pass and the offsets pass one row→partition assignment. */
class LazyScanSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val phaseKey = "graft.spec.phase"

  /** Builds `build`, runs the caller's action on it, and returns the
    * result with the number of jobs started while it was being built.
    * Jobs carry the phase local property; the listener bus is FIFO, so
    * once it has delivered an action job, it has delivered every build
    * job. */
  private def buildAndRun(build: => DataFrame): (DataFrame, Int) = {
    val sc = spark.sparkContext
    val phases = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        phases.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty(phaseKey))).getOrElse("none"))
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(phaseKey, "build")
      val df = build
      sc.setLocalProperty(phaseKey, "action")
      df.collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!phases.contains("action") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(phases.contains("action"), "the action's jobs never arrived")
      (df, phases.asScala.count(_ == "build"))
    } finally {
      sc.setLocalProperty(phaseKey, null)
      sc.removeSparkListener(listener)
    }
  }

  /** The scans' range exchanges of an executed adaptive plan:
    * (materialized, reused). `repartitionByRange` with an explicit count
    * is the only REPARTITION_BY_NUM shuffle these plans hold, which keeps
    * a final ORDER BY's range exchange out of the count. */
  private def scanExchanges(df: DataFrame): (Seq[SparkPlan], Seq[SparkPlan]) = {
    def isScan(p: SparkPlan): Boolean = p match {
      case e: ShuffleExchangeExec => e.shuffleOrigin == REPARTITION_BY_NUM
      case _ => false
    }
    val plan = df.queryExecution.executedPlan
    (collectWithSubqueries(plan) { case e: ShuffleExchangeExec if isScan(e) => e },
      collectWithSubqueries(plan) {
        case r: ReusedExchangeExec if isScan(r.child) => r.child })
  }

  private def checkLazy(scans: Int)(build: => DataFrame): Unit = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (df, buildJobs) = buildAndRun(build)
    assert(buildJobs === 0, "jobs started before the caller's action")
    val pinned = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(pinned.isEmpty, s"cached RDDs left behind: $pinned")
    val (materialized, reused) = scanExchanges(df)
    val plan = df.queryExecution.executedPlan.toString
    assert(materialized.size === scans, plan)
    assert(reused.map(_.canonicalized).toSet ===
      materialized.map(_.canonicalized).toSet, plan)
  }

  private lazy val rows = (1L to 300L)
    .map(i => (i, (i * 7919L) % 101L, i % 3L, i % 2L == 0L))
    .toDF("k", "v", "g", "flag")

  private val cases: Seq[(String, Int, () => DataFrame)] = Seq(
    ("GlobalIndex.withGlobalIndex", 1,
      () => GlobalIndex.withGlobalIndex(rows, "idx", col("v"), col("k"))),
    ("Packing.packByBudget", 1,
      () => Packing.packByBudget(rows, col("v"), budget = 500L, col("k"))),
    ("Auc.exactAuc", 1, () => Auc.exactAuc(rows, col("v"), col("flag"))),
    ("Spearman.correlate", 2,
      () => Spearman.correlate(rows, col("k"), col("v"))),
    ("WeightedSample.systematic", 1,
      () => WeightedSample.systematic(rows, col("v"), target = 20L, col("k"))),
    ("WeightedMedian.lowerMedian", 1,
      () => WeightedMedian.lowerMedian(rows, "g", "v", "k")),
    ("PrefixScan.exclusiveRunningMax", 1,
      () => PrefixScan.exclusiveRunningMax(rows, col("v"), "m", col("k"))))

  for ((name, scans, build) <- cases)
    test(s"$name returns a plan: no build job, no cache, one range exchange reused") {
      checkLazy(scans)(build())
    }

  /** Runs `body` over a data dir holding a small events table, already
    * read once: the first read of a table in a session reads its parquet
    * schema in a job (Tables' session memo), which is not the builder's. */
  private def withEvents(body: String => Unit): Unit =
    withTempDirs("graft-lazy-scan") { case Seq(dir) =>
      spark.range(2000L).select(
          (col("id") % 97L).as("user_id"),
          timestamp_seconds(lit(1704067200L) + col("id") * 977L).as("ts"),
          col("id").as("event_id"),
          ((col("id") * 7919L) % 1000L).cast("double").as("value"))
        .write.parquet(Tables.path(dir, "events"))
      Tables.events(spark, dir)
      body(dir)
    }

  test("q207 reads its index's range exchange once across every consumer") {
    withEvents { dir =>
      checkLazy(scans = 1)(queries.FrontierQueries.q207Winsorized(spark, dir))
    }
  }

  test("q197's two indexes each materialize their range exchange once") {
    withEvents { dir =>
      checkLazy(scans = 2)(
        queries.LakehouseQueries.q197ZorderPruning(spark, dir))
    }
  }
}
