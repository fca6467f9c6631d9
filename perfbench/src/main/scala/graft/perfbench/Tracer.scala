package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed region of one traced operation. The root span of an operation
  * has `parent == -1`; `attrs` holds counts taken at the span's boundary. */
final class Span(val id: Int, val parent: Int, val name: String,
                 val startMs: Long, val startNs: Long) {
  var endMs: Long = startMs
  var endNs: Long = startNs
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def seconds: Double = (endNs - startNs) / 1e9
}

/**
 * Spans around the benchmark's calls into each layer, plus the events of
 * Spark's public listeners (jobs, stages, tasks from `SparkListener`;
 * planning phases and rule times from `QueryExecutionListener`; per-trigger durations from
 * `StreamingQueryListener`). Everything stays in memory until the run
 * ends. Listener events arrive asynchronously, so each is attributed by
 * its own timestamp to the innermost span open at that moment.
 *
 * Listeners are attached only around traced operations, so
 * an untraced operation in the same run pays nothing; the difference
 * between the two is the tracing overhead.
 */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  private val jobs = new ConcurrentLinkedQueue[JobEv]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stages = new ConcurrentLinkedQueue[StageEv]()
  private val tasks = new ConcurrentLinkedQueue[TaskEv]()
  private val qes = new ConcurrentLinkedQueue[QeEv]()
  private val progress = new ConcurrentLinkedQueue[ProgressEv]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(JobEv(e.jobId, e.time, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.put(e.jobId, e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(StageEv(e.stageInfo.stageId, e.stageInfo.failureReason.isDefined))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      tasks.add(
        if (m == null) TaskEv(e.stageId, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, failed = true)
        else TaskEv(e.stageId, m.executorRunTime, m.executorCpuTime,
          m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
          failed = e.reason != Success))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qes.add(qeEvent(qe))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      qes.add(qeEvent(qe))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(ProgressEv(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  /** Attach the listeners before a traced operation. */
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Drain the bus, so every event of the operation has been delivered,
    * then detach the listeners. Runs outside the operation's timing. */
  def detach(): Unit = {
    drain()
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** The root span of one operation, carrying the driver GC time it saw. */
  def op[A](name: String)(body: => A): A = {
    val gc0 = gcMillis()
    try span(name)(body)
    finally spans.last.attrs("driver_gc_s") = (gcMillis() - gc0) / 1e3
  }

  /** A child span of the innermost open span (a root span if none is open). */
  def span[A](name: String)(body: => A): A = {
    val s = new Span(nextId, stack.headOption.map(_.id).getOrElse(-1), name,
      System.currentTimeMillis(), System.nanoTime())
    nextId += 1
    stack = s :: stack
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      spans += s
    }
  }
  private var nextId = 0

  /** Record a count on the innermost open span. */
  def attr(key: String, value: Double): Unit =
    stack.headOption.foreach(_.attrs(key) = value)

  /** Record a count on the last closed span named `name`, after the fact. */
  def annotate(name: String, key: String, value: Double): Unit =
    spans.findLast(_.name == name).foreach(_.attrs(key) = value)

  private def drain(): Unit = org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  // ------------------------------------------------------- attribution

  private lazy val byId: Map[Int, Span] = spans.map(s => s.id -> s).toMap

  private def chain(s: Span): List[Span] =
    s :: byId.get(s.parent).map(chain).getOrElse(Nil)

  private def depth(s: Span): Int = chain(s).size

  /** The innermost span open at wall time `t`, if any. */
  private def spanAt(t: Long): Option[Span] = {
    val open = spans.filter(s => s.startMs <= t && t <= s.endMs)
    if (open.isEmpty) None else Some(open.maxBy(s => (depth(s), s.startMs)))
  }

  private final case class Attributed(
      jobSpan: Map[Int, Span], taskSpans: Seq[(TaskEv, Span)],
      stageSpans: Seq[(StageEv, Span)], qeSpans: Seq[(QeEv, Span)],
      progressSpans: Seq[(ProgressEv, Span)])

  private lazy val attributed: Attributed = {
    val jobSpan = jobs.asScala.flatMap(j => spanAt(j.startMs).map(j.jobId -> _)).toMap
    val stageJob = jobs.asScala.flatMap(j => j.stageIds.map(_ -> j.jobId)).toMap
    def viaStage(stageId: Int) = stageJob.get(stageId).flatMap(jobSpan.get)
    Attributed(jobSpan,
      tasks.asScala.toSeq.flatMap(t => viaStage(t.stageId).map(t -> _)),
      stages.asScala.toSeq.flatMap(s => viaStage(s.stageId).map(s -> _)),
      qes.asScala.toSeq.flatMap(q => spanAt(q.atMs).map(q -> _)),
      progress.asScala.toSeq.flatMap(p => spanAt(p.atMs).map(p -> _)))
  }

  private def within(s: Span, name: String): Boolean = chain(s).exists(_.name == name)

  /**
   * Per-layer metrics of the traced operations. Counts and times are
   * per operation (sums divided by the number of traced operations);
   * streaming durations are per trigger.
   */
  def layerMetrics(cores: Int): mutable.LinkedHashMap[String, Double] = {
    val a = attributed
    val roots = spans.filter(_.parent < 0)
    val n = math.max(1, roots.size).toDouble
    val wall = roots.map(_.seconds).sum
    def spanSeconds(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    def spanAttr(name: String, key: String) =
      spans.filter(_.name == name).map(_.attrs.getOrElse(key, 0.0)).sum
    val ts = a.taskSpans.map(_._1)
    val buildJobs = a.jobSpan.values.count(within(_, "queries"))
    val sinkTasks = a.taskSpans.collect { case (t, s) if within(s, "sink") => t }
    val triggers = a.progressSpans.map(_._1)
    val nTrig = math.max(1, triggers.size).toDouble
    def trig(key: String) = triggers.map(_.durations.getOrElse(key, 0L)).sum / 1e3 / nTrig
    val streamJobs = a.jobSpan.values.count(within(_, "streaming"))
    val taskRun = ts.map(_.runMs).sum / 1e3
    mutable.LinkedHashMap[String, Double](
      "queries.build_s" -> spanSeconds("queries") / n,
      "queries.build_jobs" -> buildJobs / n,
      "queries.pinned_rdds" -> spanAttr("queries", "pinned_rdds") / n,
      "plans.analysis_s" -> a.qeSpans.map(_._1.analysisMs).sum / 1e3 / n,
      "plans.optimization_s" -> a.qeSpans.map(_._1.optimizationMs).sum / 1e3 / n,
      "plans.planning_s" -> a.qeSpans.map(_._1.planningMs).sum / 1e3 / n,
      "plans.graft_rules_s" -> a.qeSpans.map(_._1.graftRulesNs).sum / 1e9 / n,
      "exec.jobs" -> a.jobSpan.size / n,
      "exec.stages" -> a.stageSpans.size / n,
      "exec.tasks" -> ts.size / n,
      "exec.task_run_s" -> taskRun / n,
      "exec.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9 / n,
      "exec.task_gc_s" -> ts.map(_.gcMs).sum / 1e3 / n,
      "exec.core_busy_frac" -> (if (wall > 0) taskRun / (wall * cores) else 0.0),
      "exec.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum / n,
      "exec.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum / n,
      "exec.spill_bytes" -> ts.map(_.spill).sum / n,
      "exec.failed_tasks" -> ts.count(_.failed) / n,
      "sources.load_s" -> spanSeconds("sources") / n,
      "sources.bytes_read" -> ts.map(_.inBytes).sum / n,
      "sources.rows_read" -> ts.map(_.inRows).sum / n,
      "sink.write_s" -> spanSeconds("sink") / n,
      "sink.rows_written" -> sinkTasks.map(_.outRows).sum / n,
      "sink.bytes_written" -> sinkTasks.map(_.outBytes).sum / n,
      "sink.files_written" -> spanAttr("sink", "files_written") / n,
      "streaming.trigger_s" -> trig("triggerExecution"),
      "streaming.add_batch_s" -> trig("addBatch"),
      "streaming.query_planning_s" -> trig("queryPlanning"),
      "streaming.wal_commit_s" -> trig("walCommit"),
      "streaming.jobs_per_batch" -> (if (triggers.isEmpty) 0.0 else streamJobs / nTrig),
      "jvm.driver_gc_s" -> roots.map(_.attrs.getOrElse("driver_gc_s", 0.0)).sum / n)
  }

  /** Every span: the benchmark's calls (`kind` "call", with the listener
    * events attributed directly to them counted) and, as their children,
    * the attributed events themselves (`kind` "event"): planning phases of
    * each query execution, Spark jobs, streaming triggers. */
  def spansJson: Seq[Any] = {
    val a = attributed
    def count[T](xs: Seq[(T, Span)], s: Span) = xs.count(_._2.id == s.id)
    val calls = spans.sortBy(_.id).map { s =>
      ListMap("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> "call",
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds,
        "attrs" -> s.attrs,
        "jobs" -> a.jobSpan.values.count(_.id == s.id),
        "stages" -> count(a.stageSpans, s),
        "tasks" -> count(a.taskSpans, s),
        "query_executions" -> count(a.qeSpans, s),
        "triggers" -> count(a.progressSpans, s))
    }
    var next = nextId
    def event(parent: Span, name: String, start: Long, end: Long,
              attrs: (String, Any)*) = {
      next += 1
      ListMap("id" -> (next - 1), "parent" -> parent.id, "name" -> name,
        "kind" -> "event", "start_ms" -> start, "end_ms" -> end,
        "seconds" -> (end - start) / 1e3, "attrs" -> ListMap(attrs: _*))
    }
    val tasksPerJob = {
      val stageJob = jobs.asScala.flatMap(j => j.stageIds.map(_ -> j.jobId)).toMap
      tasks.asScala.toSeq.flatMap(t => stageJob.get(t.stageId)).groupBy(identity)
        .view.mapValues(_.size).toMap
    }
    val phases = a.qeSpans.flatMap { case (q, s) =>
      q.phases.map { case (ph, st, en) => event(s, s"plans.$ph", st, en, "root" -> q.root) }
    }
    val jobSpans = jobs.asScala.toSeq.flatMap { j =>
      a.jobSpan.get(j.jobId).map(s => event(s, "exec.job", j.startMs,
        Option(jobEnds.get(j.jobId)).getOrElse(j.startMs),
        "job_id" -> j.jobId, "tasks" -> tasksPerJob.getOrElse(j.jobId, 0)))
    }
    val triggers = a.progressSpans.map { case (p, s) =>
      event(s, "streaming.trigger", p.atMs, p.atMs + p.durations.getOrElse("triggerExecution", 0L),
        ("batch_id" -> p.batchId) +: p.durations.toSeq.sortBy(_._1): _*)
    }
    calls.toSeq ++ phases ++ jobSpans ++ triggers
  }
}

object Tracer {
  final case class JobEv(jobId: Int, startMs: Long, stageIds: Seq[Int])
  final case class StageEv(stageId: Int, failed: Boolean)
  final case class TaskEv(stageId: Int, runMs: Long, cpuNs: Long, gcMs: Long,
                          shuffleRead: Long, shuffleWrite: Long, spill: Long,
                          inBytes: Long, inRows: Long, outBytes: Long, outRows: Long,
                          failed: Boolean)
  final case class QeEv(atMs: Long, root: String, analysisMs: Long, optimizationMs: Long,
                        planningMs: Long, graftRulesNs: Long,
                        phases: Seq[(String, Long, Long)])
  final case class ProgressEv(batchId: Long, atMs: Long, durations: Map[String, Long])

  /** A query execution's planning phases and `graft.plans` rule time,
    * stamped with the start of its planning phase. */
  private def qeEvent(qe: QueryExecution): QeEv = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val at = Seq("planning", "optimization", "analysis")
      .flatMap(phases.get).headOption.map(_.startTimeMs)
      .getOrElse(System.currentTimeMillis())
    val graftRules = qe.tracker.rules.collect {
      case (rule, s) if rule.contains("graft.plans") => s.totalTimeNs
    }.sum
    QeEv(at, scala.util.Try(qe.executedPlan.nodeName).getOrElse("?"), ms("analysis"),
      ms("optimization"), ms("planning"), graftRules,
      phases.toSeq.map { case (k, v) => (k, v.startTimeMs, v.endTimeMs) }.sortBy(_._2))
  }
}
