package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/**
 * The benchmark JVM: one workload, one closed loop, one caller.
 *
 *   Main <inputs.json>
 *
 * `inputs.json` (written by perfbench/run.py from the benchmark seed) names
 * the workload, the input tables, the scratch root, the measuring window,
 * the trace switch and the workload's seed-drawn schedule. The JVM writes
 * one result file (`result` in the inputs): set-up repetitions, every
 * operation's sample or failure, the output-check material and, in a traced
 * run, the per-layer metrics and the span file.
 */
object Main {

  final case class Inputs(node: JsonNode) {
    def str(k: String): String = node.get(k).asText
    def int(k: String): Int = node.get(k).asInt
    def strs(k: String): Seq[String] = node.get(k).elements.asScala.map(_.asText).toSeq
    def longs(k: String): Seq[Long] = node.get(k).elements.asScala.map(_.asLong).toSeq
    def workload: String = str("workload")
    def data: String = str("data")
    def root: String = str("root")
    def cores: Int = int("cores")
    def seconds: Double = node.get("seconds").asDouble
    def trace: Boolean = int("trace") == 1
    def setupReps: Int = int("setup_reps")
  }

  /** The session from the workload records' `session` block (master and
    * Spark settings, with the core count filled in by run.py); only the
    * spill and warehouse directories, which live under the run's scratch
    * root, are set here. */
  def session(in: Inputs): SparkSession = {
    val b = SparkSession.builder()
      .appName("perfbench")
      .config("spark.local.dir", s"${in.root}/spark-local")
      .config("spark.sql.warehouse.dir", s"${in.root}/warehouse")
    sessionConf(in).foldLeft(b) {
      case (acc, ("master", m)) => acc.master(m)
      case (acc, (k, v)) => acc.config(k, v)
    }.getOrCreate()
  }

  def sessionConf(in: Inputs): ListMap[String, String] =
    ListMap(in.node.get("session").properties.asScala.toSeq
      .map(e => e.getKey -> e.getValue.asText): _*)

  def main(args: Array[String]): Unit = {
    val in = Inputs(new ObjectMapper().readTree(Files.readString(Paths.get(args(0)))))
    val t0 = System.nanoTime()
    val spark = session(in)
    val sessionS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    val result =
      try {
        val w: Workload = in.workload match {
          case "daily_trends" => new DailyTrends(spark, in)
          case "query_suite" => new QuerySuite(spark, in)
          case "stream_ingest" => new StreamIngest(spark, in)
          case other => sys.error(s"unknown workload $other")
        }
        Harness.run(spark, in, w, sessionS)
      } finally spark.stop()
    writeJson(in.str("result"), result)
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeJson(path: String, value: Any): Unit =
    Files.writeString(Paths.get(path), mapper.writeValueAsString(value) + "\n")
}

/** One workload's parts, driven by [[Harness]]. Set-up is split in two:
  * the artifact builds, repeated from a clean state, and the one-off rest
  * (warm-up operation, query start, the registry digest pass). */
trait Workload {
  /** One repetition of the artifact builds (fixtures, indexes, the ingest
    * store) from a clean state; the last repetition's artifacts are the
    * ones measured. Returns the seconds spent building. */
  def setup(rep: Int): Double
  /** The one-off rest of set-up. Returns the seconds of artifact builds
    * within it. */
  def prepare(): Double = 0.0
  /** Run operations until `deadline` (System.nanoTime). */
  def measure(loop: OpLoop, tracer: Option[Tracer], deadline: Long): Unit
  /** Layer metrics the workload records itself, in every run. */
  def layerMetrics: Map[String, Double] = Map.empty
  /** Output-check material and verdicts, after measuring. */
  def checks(): Map[String, Any]
  def close(): Unit = ()
}

object Harness {

  def run(spark: SparkSession, in: Main.Inputs, w: Workload,
          sessionS: Double): ListMap[String, Any] = {
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    val tmp0 = dirBytes(tmp)
    val setupS, artifactS = scala.collection.mutable.ArrayBuffer.empty[Double]
    (0 until in.setupReps).foreach { r =>
      val t0 = System.nanoTime()
      artifactS += w.setup(r)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    val prepareArtifactS = w.prepare()
    val prepareS = (System.nanoTime() - t0) / 1e9

    val tracer = if (in.trace) Some(new Tracer(spark)) else None
    val loop = new OpLoop
    val start = System.nanoTime()
    w.measure(loop, tracer, start + (in.seconds * 1e9).toLong)
    val loopWall = (System.nanoTime() - start) / 1e9
    val tmpGrowth = dirBytes(tmp) - tmp0
    val rss = peakRssMb()
    val retained = retainedHeapMb()
    val t1 = System.nanoTime()
    val checks = try w.checks() finally w.close()
    val checksS = (System.nanoTime() - t1) / 1e9

    val layers = tracer.map { t =>
      val m = t.layerMetrics(in.cores) ++ w.layerMetrics
      m("ops.artifact_build_s") = median(artifactS.toSeq) + prepareArtifactS
      m("ops.tmp_bytes_growth") = tmpGrowth.toDouble
      m("jvm.peak_rss_mb") = rss
      m
    }
    tracer.foreach { t =>
      Main.writeJson(in.str("trace_out"), ListMap("workload" -> in.workload, "spans" -> t.spansJson))
    }
    ListMap(
      "workload" -> in.workload,
      "cores" -> in.cores,
      "session" -> (Main.sessionConf(in).map { case (k, v) =>
        k -> (if (k == "master") spark.sparkContext.master else spark.conf.get(k, v)) }),
      "setup_reps_s" -> setupS.toSeq,
      "artifact_reps_s" -> artifactS.toSeq,
      "session_s" -> sessionS,
      "prepare_s" -> prepareS,
      "prepare_artifact_s" -> prepareArtifactS,
      "checks_s" -> checksS,
      "loop_wall_s" -> loopWall,
      "samples" -> loop.samples.map(s =>
        ListMap("name" -> s.name, "s" -> s.seconds, "traced" -> s.traced)),
      "failed" -> loop.failed.map(f =>
        ListMap("name" -> f.name, "exception" -> f.exceptionClass, "message" -> f.message)),
      "attempted" -> loop.attempted,
      "peak_rss_mb" -> rss,
      "retained_heap_mb" -> retained,
      "tmp_bytes_growth" -> tmpGrowth,
      "layers" -> layers,
      "checks" -> checks)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => scala.util.Try(Files.size(f)).getOrElse(0L)).sum
      finally st.close()
    }

  /** Heap the workload keeps live: heap in use after a full collection,
    * in MiB. Unlike the resident set it does not depend on how far G1 has
    * grown the heap, which varies from run to run. */
  def retainedHeapMb(): Double = {
    def used = {
      System.gc()
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    // Spark's ContextCleaner and finalizers free more only after a
    // collection has run, so collect until the heap stops shrinking
    var (last, now, n) = (Long.MaxValue, used, 1)
    while (last - now > (1L << 20) && n < 8) {
      Thread.sleep(200)
      last = now
      now = used
      n += 1
    }
    now / (1024.0 * 1024.0)
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(0.0)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally st.close()
    }
}

/** Span helper handed to an operation body: a no-op when untraced. */
final case class Spans(tracer: Option[Tracer]) {
  def apply[A](name: String)(body: => A): A = tracer.fold(body)(_.span(name)(body))
  def attr(key: String, value: Double): Unit = tracer.foreach(_.attr(key, value))
}

object Op {
  /** One closed-loop operation. When `traced`, the listeners are attached
    * around it and `settle` (untimed) waits for its last events. */
  def attempt(loop: OpLoop, tracer: Option[Tracer], traced: Boolean, name: String,
              settle: => Unit = ())(body: Spans => Unit): Boolean = {
    val t = tracer.filter(_ => traced)
    t.foreach(_.attach())
    try loop.attempt(name, t.isDefined) {
      t match {
        case Some(tr) => tr.op(name)(body(Spans(t)))
        case None => body(Spans(None))
      }
    } finally t.foreach { tr =>
      try settle finally tr.detach()
    }
  }
}
