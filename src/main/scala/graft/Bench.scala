package graft
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** Per-query engine timing for the driver's round bench.
  *
  * Attribution v4 (VERDICT r8 #1 — fourth relocation of ~70s of JVM
  * debt onto innocent queries): three mechanisms stack so a query's
  * wall-clock measures the ENGINE, not accumulated session state.
  *
  *  1. CHUNKED SESSION RESTARTS: the board runs in chunks of
  *     `SPARK_GRAFT_BENCH_CHUNK` (default 50) queries, each chunk on a
  *     FRESH SparkSession/SparkContext — shuffle files, broadcast
  *     blocks, accumulated listener/UI state and the ContextCleaner's
  *     reference queue die with the context instead of landing on
  *     whichever heavy query is on the clock 300 queries later.
  *     (Codegen'd classes cache JVM-wide by source, so later chunks
  *     don't re-pay janino compilation.)
  *  2. BLOCKING CLEANER: `spark.cleaner.referenceTracking.blocking
  *     .shuffle=true` — v3 drained caches/checkpoints synchronously
  *     between the clocks but shuffle cleanup still rode the async
  *     ContextCleaner queue; now any cleaner work the between-query
  *     gc enqueues completes before the next clock starts.
  *  3. LISTENER ATTRIBUTION: every query runs under a job group and a
  *     SparkListener sums the wall time of exactly the jobs that group
  *     submitted — reported as `queries_job` next to the wall-clock
  *     `queries` map, so phantom debt (wall ≫ job time) is visible in
  *     the artifact itself instead of needing a standalone re-run.
  *     `queries_task` additionally sums executor task run time per
  *     query (stage-attributed `executorRunTime`) — wall drifts with
  *     machine mood, job wall inflates under AQE stage concurrency;
  *     task time is robust to both and is the cross-round comparator.
  *
  * Failures are LOUD (VERDICT r8 #2): a throwing query records an
  * `errors` entry and the run exits nonzero — a crash can no longer
  * improve the bench total.
  */
object Bench {

  /** Sums job wall-time AND executor task run-time per job group
    * (only groups tagged `graftq:`). Task time (VERDICT r9 #2: "the
    * one metric robust to both machine drift and stage concurrency")
    * is attributed stage→group via the stage ids each job start
    * announces, then summed from each completed stage's
    * `taskMetrics.executorRunTime` — retried stage attempts both
    * count (both did real work). */
  private final class GroupTimeListener extends SparkListener {
    private val jobGroup = new ConcurrentHashMap[Int, String]()
    private val jobStart = new ConcurrentHashMap[Int, Long]()
    private val stageGroup = new ConcurrentHashMap[Int, String]()
    val groupMs = new ConcurrentHashMap[String, Long]()
    val taskMs = new ConcurrentHashMap[String, Long]()
    val pending = new AtomicInteger(0)
    // in-flight SUBMITTED-but-not-COMPLETED stages of graftq groups:
    // drain() waits on this too (ADVICE r10: job-end alone lets a
    // still-queued StageCompleted land AFTER queries_task is read,
    // silently undercounting that query and crediting the next one)
    val pendingStages = new AtomicInteger(0)
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val g = Option(js.properties)
        .map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null && g.startsWith("graftq:")) {
        jobGroup.put(js.jobId, g)
        jobStart.put(js.jobId, js.time)
        js.stageIds.foreach(sid => stageGroup.put(sid, g))
        pending.incrementAndGet()
        ()
      }
    }
    override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
      if (stageGroup.containsKey(ss.stageInfo.stageId)) {
        pendingStages.incrementAndGet(); ()
      }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      // get, not remove: a retried attempt re-completes the same id
      val g = stageGroup.get(sc.stageInfo.stageId)
      val m = sc.stageInfo.taskMetrics
      if (g != null) {
        if (m != null) taskMs.merge(g, m.executorRunTime, (a, b) => a + b)
        pendingStages.decrementAndGet() // must mirror onStageSubmitted
        ()
      }
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = {
      val g = jobGroup.remove(je.jobId)
      if (g != null) {
        val t0 = jobStart.remove(je.jobId)
        groupMs.merge(g, je.time - t0, (a, b) => a + b)
        pending.decrementAndGet()
        ()
      }
    }
    /** Listener-bus events are async; wait for the in-flight job-end
      * events of an already-completed action to land (bounded).
      * Returns false when the bound was hit with events still pending
      * — the caller must FLAG that query's `queries_job` entry as
      * undercounting instead of silently shipping it (VERDICT r9 #4:
      * a silent undercount is the exact failure mode the map exists
      * to expose). */
    def drain(maxMs: Long = 10000): Boolean = {
      val deadline = System.nanoTime() + maxMs * 1000000
      while ((pending.get() > 0 || pendingStages.get() > 0) &&
          System.nanoTime() < deadline)
        Thread.sleep(2)
      pending.get() == 0 && pendingStages.get() == 0
    }
  }

  private def newSession(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // v3 parked the async periodic-GC thread past the run horizon so
      // its System.gc() pauses can't land inside a measured query; v4
      // keeps that AND bounds how long a session lives (one chunk)
      .config("spark.cleaner.periodicGC.interval", "120min")
      // v4: shuffle cleanup no longer rides the async cleaner queue —
      // whatever the between-query gc enqueues is removed before the
      // cleaner thread moves on, so deletion storms can't accumulate
      // into a later query's clock (cache/broadcast/checkpoint blocking
      // is already the default)
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Absorb session/codegen warmup so the first measured query of a
    * chunk isn't charged for context startup or first-JIT. The full
    * tour (tokenizer + both iterative-loop shapes) only pays off once
    * — JIT-compiled code lives JVM-wide — so later chunks warm the new
    * CONTEXT's scan/shuffle path with the parquet count alone. Janino's
    * class cache is JVM-wide too, but it holds only 100 classes and the
    * tour's carry codegen stage ids (it reads no `Tables` file), so a
    * later query reuses one of them only by chance. */
  private def warmup(spark: SparkSession, sfDir: String,
                     full: Boolean): Unit = {
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    // every chunk (VERDICT r9 #5): warm the fresh context's shuffle
    // write/read path too, so a chunk's first query isn't charged
    // ~0.26s of first-exchange setup the other queries don't pay
    locally {
      import org.apache.spark.sql.functions.col
      spark.range(10000).groupBy(col("id") % 64).count().count()
    }
    if (full) {
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(org.apache.spark.sql.functions.explode(
          graft.functions.TextFns.tokenize(
            org.apache.spark.sql.functions.col("text"))))
        .count()
      locally {
        import org.apache.spark.sql.functions.col
        val tiny = spark.range(40).select(
          (col("id") % 10).as("src"), ((col("id") + 1) % 10).as("dst"))
        graft.operators.Graph.topK(
          graft.operators.Graph.personalizedPageRank(tiny, Seq(1L, 2L), 2,
            danglingFree = true), // the path ppr_top10 takes
          Seq(1L, 2L), 3).count()
        graft.operators.Graph.connectedComponents(tiny).count()
      }
    }
    spark.catalog.clearCache()
  }

  /** Per-query task seconds from the committed baseline file. The gate
    * is advisory: a token that is not a number (`1.2.3`) is dropped, not
    * fatal. */
  private[graft] def parseBaseline(txt: String): Map[String, Double] =
    "\"([^\"]+)\"\\s*:\\s*(-?[0-9.]+(?:[eE][+-]?[0-9]+)?)".r
      .findAllMatchIn(txt)
      .flatMap(m => m.group(2).toDoubleOption.map(m.group(1) -> _)).toMap

  /** `v` as the body of a JSON string literal. */
  private[graft] def jsonEscape(v: String): String =
    v.replace("\\", "\\\\").replace("\"", "\\\"")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val chunkSize = sys.env.getOrElse("SPARK_GRAFT_BENCH_CHUNK", "50").toInt
    // sorted order: deterministic per-query attribution across rounds.
    // stream_* queries are the streaming tier's micro-batch replay
    // CORRECTNESS harnesses (MemoryStream + state store, driver-paced):
    // they gate semantics in Verify but measure harness overhead, not
    // engine throughput — their batch twins (sessionize, hourly_agg,
    // q3_broadcast_join, dedup_exact, ...) are what bench here.
    // dev-only subset filter for A/B-tuning single queries; the driver
    // never sets it, so round benches always run the full map
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSet)
    // dev-only negative control (never set by the driver): inject a
    // failure into the named query to prove a crash exits nonzero with
    // an errors entry instead of shaving the total
    val fault = sys.env.get("SPARK_GRAFT_BENCH_FAULT")
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(_._1.startsWith("stream_"))
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val results = collection.mutable.ArrayBuffer.empty[(String, Double)]
    val jobSecs = collection.mutable.LinkedHashMap.empty[String, Double]
    val taskSecs = collection.mutable.LinkedHashMap.empty[String, Double]
    val errors = collection.mutable.LinkedHashMap.empty[String, String]
    // queries whose listener drain timed out — their queries_job entry
    // may undercount (VERDICT r9 #4); flagged in the artifact
    val jobIncomplete = collection.mutable.ArrayBuffer.empty[String]
    names.grouped(chunkSize).zipWithIndex.foreach { case (chunk, ci) =>
      val spark = newSession(cpus)
      val sc = spark.sparkContext
      val listener = new GroupTimeListener
      sc.addSparkListener(listener)
      warmup(spark, sfDir, full = ci == 0)
      chunk.foreach { case (name, fn) =>
        // per-query order: measure → blocking sweep of this query's
        // caches/checkpoints → full gc — each clock starts on a drained
        // block manager, a settled heap, and (v4) a drained cleaner
        sc.setJobGroup(s"graftq:$name", name)
        val t0 = System.nanoTime()
        try {
          if (fault.contains(name))
            throw new IllegalStateException("injected bench fault")
          fn(spark, sfDir).count(); ()
        }
        catch { case t: Throwable =>
          // strip ALL control chars (Spark messages embed tabs/plan
          // dumps), not just CR/LF — else the artifact is invalid JSON
          errors(name) = s"${t.getClass.getSimpleName}: ${
            Option(t.getMessage).getOrElse("")
              .replaceAll("[\\p{Cntrl}\"\\\\]", " ").take(200)}"
        }
        val dt = (System.nanoTime() - t0) / 1e9
        sc.clearJobGroup()
        // operators track persist()'d intermediates in CacheScope;
        // release them (library contract), then clearCache as a
        // measurement-tool backstop so one query's cache never
        // pressures the next query. localCheckpoint RDDs are NOT
        // catalog-cached — sweep the block manager's persistent-RDD
        // registry too, else checkpoint blocks accumulate and inflate
        // later loops
        CacheScope.release(spark, blocking = true)
        spark.catalog.clearCache()
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        System.gc()
        if (!listener.drain()) jobIncomplete += name
        results += name -> dt
        jobSecs(name) =
          listener.groupMs.getOrDefault(s"graftq:$name", 0L) / 1e3
        taskSecs(name) =
          listener.taskMs.getOrDefault(s"graftq:$name", 0L) / 1e3
      }
      sc.removeSparkListener(listener)
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    // MECHANICAL REGRESSION GATE (VERDICT r11 #2, carried from ADVICE
    // r10): compare this run's per-query task seconds against the
    // COMMITTED baseline map (bench_task_baseline.json at the repo
    // root, regenerated each round from the accepted final board) and
    // flag every query whose task time exceeds 1.5× its baseline into
    // the artifact itself — full-board cold acceptance is the gate,
    // not isolated warm probes. Additions-only: new top-level fields.
    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_BENCH_TASK_BASELINE",
      "bench_task_baseline.json")
    val baseline: Map[String, Double] = {
      val p = java.nio.file.Path.of(baselinePath)
      if (java.nio.file.Files.isReadable(p))
        parseBaseline(java.nio.file.Files.readString(p))
      else Map.empty
    }
    val taskRegressions = taskSecs.toSeq.flatMap { case (n, t) =>
      baseline.get(n) match {
        // 0.5s floor: sub-second queries ratio-flap on host noise
        case Some(b) if b > 0 && t > 1.5 * b && t > 0.5 =>
          Some(n -> math.floor(t / b * 100 + 0.5) / 100)
        case _ => None
      }
    }.sortBy(-_._2)
    def jmap(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = jmap(results)
    val jq = jmap(jobSecs)
    val tq = jmap(taskSecs)
    val errs = errors.map { case (k, v) => s"\"$k\":\"$v\"" }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // the reading key ships IN the artifact (VERDICT r9 #3) so a future
    // round can't misread AQE stage-concurrency as a regression
    val jobKey = "queries_job sums listener-attributed job wall-time " +
      "per query. job >> wall is EXPECTED (AQE materializes query " +
      "stages as concurrent jobs); wall >> job is the phantom-debt " +
      "signal (un-attributed session work landing on the clock). " +
      "Queries in queries_job_incomplete hit the 10s listener drain " +
      "bound and may undercount job time. queries_task sums executor " +
      "task run time (executorRunTime, all cores) per query - the one " +
      "number robust to BOTH machine drift and stage concurrency; " +
      "compare IT across rounds."
    val jinc = jobIncomplete.map("\"" + _ + "\"").mkString("[", ",", "]")
    val trj = jmap(taskRegressions)
    val json = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""queries":$qs,"queries_job":$jq,"queries_task":$tq,""" +
      s""""queries_job_key":"$jobKey",""" +
      s""""task_baseline":"${if (baseline.isEmpty) "" else jsonEscape(baselinePath)}",""" +
      s""""task_regressions":$trj,""" +
      s""""queries_job_incomplete":$jinc,"errors":$errs,"sf":"${jsonEscape(sfDir)}"}"""
    // full payload first in the log, and always in a file: the
    // driver's log-tail parse only sees the LAST ~2000 chars, which a
    // 250-query map overflows — that full map lives here
    println(json)
    val outFile = java.nio.file.Path.of(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json"))
    Option(outFile.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(outFile, json + "\n")
    // LAST stdout line: a compact summary that always fits the
    // 2000-char tail (3-decimal values, top-20 slowest queries only,
    // full map pointer)
    def r3(d: Double): Double = math.floor(d * 1000 + 0.5) / 1000
    val svals = results.map(_._2).sorted
    val median = if (svals.isEmpty) 0.0
      else (svals((svals.length - 1) / 2) + svals(svals.length / 2)) / 2
    val top = results.sortBy(-_._2).take(20)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec",""" +
      s""""n_queries":${results.length},"median":${r3(median)},""" +
      s""""n_errors":${errors.size},"queries":$top,""" +
      s""""n_task_regressions":${taskRegressions.length},""" +
      s""""queries_full":"${jsonEscape(outFile.toString)}","sf":"${jsonEscape(sfDir)}"}""")
    if (taskRegressions.nonEmpty)
      System.err.println("[bench] task-time regressions vs committed " +
        s"baseline (>1.5x): ${taskRegressions.take(20).map {
          case (n, r) => s"$n=${r}x" }.mkString(", ")}")
    // a crashing query must FAIL the bench run, not shave its total
    // (VERDICT r8 #2) — correctness gates the values; this gates the
    // artifact's integrity
    if (jobIncomplete.nonEmpty)
      System.err.println("[bench] WARNING: listener drain timed out for: " +
        jobIncomplete.mkString(", ") + " (queries_job may undercount)")
    if (errors.nonEmpty) {
      System.err.println(s"[bench] FAILED queries: ${errors.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}
