package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall-clock milliseconds since the epoch with nanosecond resolution,
  * on the same clock Spark stamps its listener events with. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms(nanos: Long): Double = epoch0 + (nanos - nano0) / 1e6
  def now: Double = ms(System.nanoTime())
}

/** One traced interval. `op` is the operation every span of a request
  * shares; `parent` is the span that caused it (0 for an operation). */
final case class Span(id: Long, kind: String, name: String, op: Long,
                      parent: Long, startMs: Double, endMs: Double)

/** Per-layer tracing from outside the engine: a SparkListener for jobs,
  * stages and tasks, a QueryExecutionListener for Catalyst phases and the
  * executed plan, and the codegen and JVM counters read around each
  * operation. Registered only for traced passes, so untraced passes run
  * with no listener of the benchmark's on the bus.
  *
  * Jobs are attributed to operations through the job group the runner
  * sets per operation; stages and tasks through their job; query
  * executions through time, since the client runs one operation at a
  * time.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val lastEvent = new AtomicLong(System.nanoTime())
  private def touch(): Unit = lastEvent.set(System.nanoTime())

  // written by the listener thread, read after stop()
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stages = mutable.Map.empty[Int, StageRec]
  private val stageOp = mutable.Map.empty[Int, Long]
  private val queries = new ConcurrentLinkedQueue[QueryRec]()
  private var jobsOpen = 0
  private var stagesOpen = 0
  // duplicate-stage detector state: persisted RDD id -> in-flight stages
  // that include it, and the persisted RDDs some stage has fully built
  private val building = mutable.Map.empty[Int, mutable.Set[Int]]
  private val materialized = mutable.Set.empty[Int]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      touch()
      val op = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(GroupPrefix)).map(_.stripPrefix(GroupPrefix).toLong).getOrElse(0L)
      jobs(e.jobId) = JobRec(e.jobId, op, e.time.toDouble, Double.NaN, e.stageIds)
      e.stageIds.foreach(s => if (!stageOp.contains(s)) stageOp(s) = op)
      jobsOpen += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      touch()
      jobs.get(e.jobId).foreach { j =>
        jobs(e.jobId) = j.copy(endMs = e.time.toDouble)
        jobsOpen -= 1
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      touch()
      val si = e.stageInfo
      val persisted = si.rddInfos.filter(_.storageLevel.isValid).map(_.id)
      val dup = persisted.exists(r => !materialized(r) && building.get(r).exists(_.nonEmpty))
      persisted.foreach(r => building.getOrElseUpdate(r, mutable.Set.empty) += si.stageId)
      val prev = stages.get(si.stageId)
      stages(si.stageId) = StageRec(si.stageId, stageOp.getOrElse(si.stageId, 0L),
        si.submissionTime.map(_.toDouble).getOrElse(Clock.now), Double.NaN,
        attempts = prev.map(_.attempts + 1).getOrElse(1), dup = dup || prev.exists(_.dup),
        persisted = persisted.toSet)
      stagesOpen += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      touch()
      val si = e.stageInfo
      stages.get(si.stageId).foreach { s =>
        s.endMs = si.completionTime.map(_.toDouble).getOrElse(Clock.now)
        Option(si.taskMetrics).foreach(s.add)
        s.counters("tasks") += si.numTasks
        stagesOpen -= 1
        s.persisted.foreach { r =>
          building.get(r).foreach(_ -= si.stageId)
          if (si.failureReason.isEmpty) materialized += r
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      touch()
      stages.get(e.stageId).foreach { s =>
        val ti = e.taskInfo
        val m = e.taskMetrics
        if (!ti.successful) s.taskFailures += 1
        if (m != null) {
          s.schedDelayMs += math.max(0L, ti.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - ti.gettingResultTime)
          if (m.inputMetrics.recordsRead > 0 || m.inputMetrics.bytesRead > 0) s.scanTasks += 1
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = touch()
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      touch()
      val phases = qe.tracker.phases
      def dur(p: String) = phases.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
      val spans = phases.toSeq.map { case (n, s) => (n, s.startTimeMs.toDouble, s.endTimeMs.toDouble) }
      val at = phases.get("planning").orElse(phases.get("optimization"))
        .map(_.startTimeMs.toDouble).getOrElse(Clock.now)
      queries.add(QueryRec(at, dur("analysis"), dur("optimization"), dur("planning"),
        PlanFacts.of(qe.executedPlan), spans))
    }
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait until every job and stage the bus has announced has ended and
    * no event arrived for a moment, then detach the listeners. */
  def stop(): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    def quiet = synchronized(jobsOpen <= 0 && stagesOpen <= 0) &&
      System.nanoTime() - lastEvent.get() > 250L * 1000000L
    while (!quiet && System.nanoTime() < deadline) Thread.sleep(20)
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(listener)
  }

  /** Layer counters of one operation, and the spans it caused. */
  def attribute(op: OpRec): (Map[String, Double], Seq[Span]) = synchronized {
    val c = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val spans = mutable.ArrayBuffer.empty[Span]
    val opSpan = Span(op.id, "op", op.name, op.id, 0L, op.startMs, op.endMs)
    spans += opSpan
    val children = op.parts.map { case (kind, s, e) =>
      Span(nextId(), kind, op.name, op.id, op.id, s, e)
    }
    spans ++= children
    def parentAt(t: Double): Long =
      children.find(s => s.startMs <= t && t <= s.endMs).map(_.id).getOrElse(op.id)
    def inOp(t: Double) = t >= op.startMs && t <= op.endMs

    queries.asScala.filter(q => inOp(q.atMs)).foreach { q =>
      c("analysis_ms") += q.analysisMs; c("optimization_ms") += q.optimizationMs
      c("planning_ms") += q.planningMs; c("plan_actions") += 1
      q.facts.foreach { case (k, v) => c(k) += v }
      q.phases.foreach { case (n, s, e) => spans += Span(nextId(), "phase", n, op.id, parentAt(s), s, e) }
    }
    val opJobs = jobs.values.filter(_.op == op.id).toSeq.sortBy(_.startMs)
    val jobSpan = mutable.Map.empty[Int, Long]
    opJobs.foreach { j =>
      val sp = Span(nextId(), "job", s"job ${j.id}", op.id, parentAt(j.startMs), j.startMs, j.endMs)
      spans += sp
      jobSpan(j.id) = sp.id
      c("jobs") += 1
    }
    val jobIntervals = opJobs.map(j => (j.startMs, j.endMs))
    c("driver_gap_s") += (op.endMs - op.startMs - covered(op.startMs, op.endMs, jobIntervals)) / 1000
    val opStages = stages.values.filter(_.op == op.id).toSeq
    val submitted = opStages.map(_.id).toSet
    c("skipped_stages") += opJobs.flatMap(_.stageIds).distinct.count(s => !submitted(s))
    opStages.foreach { s =>
      val job = opJobs.find(_.stageIds.contains(s.id))
      spans += Span(nextId(), "stage", s"stage ${s.id}", op.id,
        job.flatMap(j => jobSpan.get(j.id)).getOrElse(op.id), s.startMs, s.endMs)
      c("stages") += 1
      c("stage_retries") += s.attempts - 1
      if (s.dup) c("dup_stages") += 1
      s.counters.foreach { case (k, v) => c(k) += v }
      c("sched_delay_ms") += s.schedDelayMs
      c("scan_tasks") += s.scanTasks
      c("task_failures") += s.taskFailures
    }
    c("persists") += opStages.flatMap(_.persisted).distinct.size
    (c.toMap, spans.toSeq)
  }

  private val ids = new AtomicLong(1L << 40)
  private def nextId(): Long = ids.incrementAndGet()
}

object Tracer {
  val GroupPrefix = "perfbench-op-"

  final case class JobRec(id: Int, op: Long, startMs: Double, endMs: Double, stageIds: Seq[Int])

  final case class QueryRec(atMs: Double, analysisMs: Double, optimizationMs: Double,
                            planningMs: Double, facts: Map[String, Double],
                            phases: Seq[(String, Double, Double)])

  final case class StageRec(id: Int, op: Long, startMs: Double, var endMs: Double,
                            attempts: Int, dup: Boolean, persisted: Set[Int]) {
    val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var schedDelayMs = 0L
    var scanTasks = 0
    var taskFailures = 0
    def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
      val mb = 1024.0 * 1024.0
      counters("executor_run_s") += m.executorRunTime / 1e3
      counters("executor_cpu_s") += m.executorCpuTime / 1e9
      counters("deserialize_s") += (m.executorDeserializeTime + m.resultSerializationTime) / 1e3
      counters("shuffle_write_mb") += m.shuffleWriteMetrics.bytesWritten / mb
      counters("shuffle_read_mb") += m.shuffleReadMetrics.totalBytesRead / mb
      counters("shuffle_records") += m.shuffleWriteMetrics.recordsWritten
      counters("fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
      counters("spill_mb") += (m.memoryBytesSpilled + m.diskBytesSpilled) / mb
      counters("input_mb") += m.inputMetrics.bytesRead / mb
      counters("input_records") += m.inputMetrics.recordsRead
    }
  }

  /** Union length of the parts of `intervals` inside [lo, hi]. */
  def covered(lo: Double, hi: Double, intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var reach = lo
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total
  }

  /** Self time per span kind: each span's duration minus the part of it
    * that its child spans cover. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val d = s.endMs - s.startMs
        if (d.isNaN) 0.0
        else d - covered(s.startMs, s.endMs, kids.getOrElse(s.id, Nil)
          .filter(_.id != s.id).map(k => (k.startMs, k.endMs)))
      }.sum / 1000
    }
  }

  def spanJson(s: Span): String = Check.json(Map(
    "id" -> s.id, "kind" -> s.kind, "name" -> s.name, "op" -> s.op,
    "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs))

  /** Process-wide counters read before and after a pass. */
  def jvmCounters(): Map[String, Double] = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)
    val compile = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = compile.getSnapshot
    val values = snap.getValues
    // the reservoir holds every sample until it overflows; past that,
    // scale its sum up to the full count
    val compileMs = if (values.isEmpty) 0.0
      else values.map(_.toDouble).sum * compile.getCount / values.length
    Map("gc_s" -> gc / 1e3, "jit_ms" -> jit.toDouble,
      "codegen_compiles" -> compile.getCount.toDouble, "codegen_compile_ms" -> compileMs)
  }
}

/** Executed-plan facts of one query execution, read from its final
  * (adaptive) physical plan including subqueries. */
object PlanFacts extends AdaptiveSparkPlanHelper {
  def of(plan: SparkPlan): Map[String, Double] = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    val exchanges = nodes.count {
      case _: ShuffleExchangeLike => true
      case _ => false
    }
    val broadcasts = nodes.count {
      case _: BroadcastExchangeLike => true
      case _ => false
    }
    val imrScans = nodes.count {
      case _: InMemoryTableScanExec => true
      case _ => false
    }
    val unpartitionedWindows = nodes.count {
      case w: WindowExec => w.partitionSpec.isEmpty
      case _ => false
    }
    Map("exchanges" -> exchanges.toDouble, "broadcasts" -> broadcasts.toDouble,
      "imr_scans" -> imrScans.toDouble,
      "unpartitioned_windows" -> unpartitionedWindows.toDouble,
      "non_codegen_ops" -> nonCodegen(plan).toDouble)
  }

  /** Operators that run outside whole-stage codegen, not counting the
    * plan's own wrappers (stages, exchanges, adapters). */
  private def nonCodegen(plan: SparkPlan): Int = {
    def walk(p: SparkPlan, inCodegen: Boolean): Int = p match {
      case w: WholeStageCodegenExec => walk(w.child, inCodegen = true)
      case i: InputAdapter => walk(i.child, inCodegen = false)
      case _: ReusedExchangeExec | _: ReusedSubqueryExec => 0
      case q: QueryStageExec => walk(q.plan, inCodegen = false)
      case a: adaptive.AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen = false)
      case e @ (_: ShuffleExchangeLike | _: BroadcastExchangeLike) =>
        e.children.map(walk(_, inCodegen = false)).sum
      case other =>
        val self = if (inCodegen) 0 else 1
        self + other.children.map(walk(_, inCodegen)).sum +
          other.subqueries.map(walk(_, inCodegen = false)).sum
    }
    walk(plan, inCodegen = false)
  }
}

/** An operation as the runner saw it: its interval and its parts
  * (build, action, release, or the single call of a lookup). */
final case class OpRec(id: Long, name: String, kind: String, startMs: Double, endMs: Double,
                       parts: Seq[(String, Double, Double)])
