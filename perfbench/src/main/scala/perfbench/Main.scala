package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import scala.collection.mutable
import scala.util.Random

import com.sun.management.OperatingSystemMXBean
import org.apache.spark.sql.SparkSession

import graft.{CacheScope, SparkEntry}

/** The benchmark's JVM. One closed-loop client issues one operation at a
  * time against a local[cores] session. Phases: cold set-up (JVM start,
  * session, warm-up), reference results, one untimed burn-in pass, then a
  * fixed number of measured passes. Writes its figures to <work>/run.json,
  * which run.py completes with the oracle checks; BENCHMARK.json at the
  * repository root describes the workloads and metrics.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <fixtures> <work> <cores>
  */
object Main {
  final case class OpResult(name: String, kind: String, seconds: Double, ok: Boolean,
                            traced: Boolean)

  def main(argv: Array[String]): Unit = {
    val Array(workload, seedArg, secondsArg, traceArg, fixtures, workArg, coresArg) = argv
    val (seed, seconds, trace, cores) =
      (seedArg.toLong, secondsArg.toDouble, traceArg == "1", coresArg.toInt)
    val work = Paths.get(workArg)

    // set-up, cold: from the JVM's start through the session start and the
    // workload's warm-up, the cost a user pays before the first operation
    val wl = Workloads(workload, seed, fixtures, work)
    val spark = session(cores)
    wl.warmup(spark)
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    writeOracleSql(work, fixtures)
    wl.prepare(spark)

    val runner = new Runner(spark, cores)
    val rng = new Random(seed)
    // burn-in: untimed passes, so the measured passes see a JIT-warm JVM
    // and a filled codegen cache; the first alone samples the live heap
    val burnIn = (0 until wl.burnInPasses).map(i =>
      runner.pass(wl.pass(rng), traced = false, sampleHeap = i == 0))

    val passes = mutable.ArrayBuffer.empty[PassResult]
    // a fixed number of whole passes, so that two commits measure the same
    // work: as many as fill `seconds` at the workload's nominal pass time.
    // Traced runs measure untraced and traced passes in the order
    // U T T U, repeated, so the JIT's drift from pass to pass cancels out
    // of the tracing overhead.
    val untraced = math.max(1, math.round(seconds / wl.passSeconds).toInt)
    val count = if (trace) 4 * math.max(1, math.round(untraced / 4.0).toInt) else untraced
    for (i <- 0 until count) {
      // each pass starts from a collected heap, off the clock
      System.gc()
      passes += runner.pass(wl.pass(rng), traced = trace && (i % 4 == 1 || i % 4 == 2))
    }
    val selfCheck = if (trace) Some(runner.stampedeCheck()) else None
    spark.stop()

    val out = Result.build(workload, seed, trace, cores, setupS, burnIn,
      passes.toSeq, selfCheck, wl, work)
    Check.write(work.resolve("run.json"), out)
  }

  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.cleaner.periodicGC.interval", "120min")
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The oracle SQL of every workload's contract queries, for run.py. */
  private def writeOracleSql(work: Path, fixtures: String): Unit = {
    val all = Workloads.names.flatMap(n => Workloads(n, 0L, fixtures, work).contractQueries)
    Check.write(work.resolve("oracle_sql.json"),
      Check.json(all.distinct.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap))
  }

  final case class PassResult(traced: Boolean, wallS: Double, cpuS: Double,
                              ops: Seq[OpResult], layers: Map[String, Double], spans: Seq[Span])

  /** Runs passes and, on traced passes, the tracer around them. */
  final class Runner(spark: SparkSession, cores: Int) {
    private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[OperatingSystemMXBean]
    private var nextOp = 0L

    def pass(ops: Seq[Op], traced: Boolean, sampleHeap: Boolean = false): PassResult = {
      val tracer = if (traced) Some(new Tracer(spark)) else None
      tracer.foreach(_.start())
      val jvm0 = if (traced) Tracer.jvmCounters() else Map.empty[String, Double]
      val cpu0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      var cachedPeak = 0.0
      var offWall, offCpu = 0L
      val recs = ops.map { op =>
        nextOp += 1
        val id = nextOp
        val parts = mutable.ArrayBuffer.empty[(String, Double, Double)]
        var offClock = 0L
        val ctx = new Ctx {
          val spark: SparkSession = Runner.this.spark
          def part[T](kind: String)(body: => T): T = {
            val s = System.nanoTime()
            try body finally parts += ((kind, Clock.ms(s), Clock.now))
          }
          def release(): Unit = {
            if (sampleHeap) {
              val (g, c) = (System.nanoTime(), os.getProcessCpuTime)
              part("heap_sample")(Heap.sample())
              offClock += System.nanoTime() - g
              offCpu += os.getProcessCpuTime - c
            }
            if (traced) cachedPeak = math.max(cachedPeak, cachedMb())
            part("release")(CacheScope.release(spark, blocking = true))
          }
        }
        spark.sparkContext.setJobGroup(Tracer.GroupPrefix + id, op.name)
        val s = System.nanoTime()
        val check = try Some(op.run(ctx)) catch {
          case e: Exception =>
            System.err.println(s"[perfbench] ${op.name} failed: $e")
            CacheScope.release(spark, blocking = true)
            None
        }
        val e = System.nanoTime()
        spark.sparkContext.clearJobGroup()
        // the check is the harness's work: off the pass's clock too
        val (g, c0) = (System.nanoTime(), os.getProcessCpuTime)
        val ok = check.exists { c =>
          val r = try c() catch { case _: Exception => false }
          if (!r) System.err.println(s"[perfbench] ${op.name}: wrong result")
          r
        }
        offWall += offClock + System.nanoTime() - g
        offCpu += os.getProcessCpuTime - c0
        (OpResult(op.name, op.kind, (e - s - offClock) / 1e9, ok, traced),
          OpRec(id, op.name, op.kind, Clock.ms(s), Clock.ms(e), parts.toSeq))
      }
      val wall = (System.nanoTime() - t0 - offWall) / 1e9
      val cpu = (os.getProcessCpuTime - cpu0 - offCpu) / 1e9
      val (layers, spans) = tracer match {
        case None => (Map.empty[String, Double], Seq.empty[Span])
        case Some(t) =>
          t.stop()
          val jvm1 = Tracer.jvmCounters()
          val perOp = recs.map { case (r, rec) => (r, t.attribute(rec)) }
          val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
          perOp.foreach { case (r, (c, _)) =>
            c.foreach { case (k, v) => sums(k) += v }
            if (r.kind == "lookup") {
              sums("lookup_input_records") += c("input_records")
              sums("lookups") += 1
            }
          }
          jvm1.foreach { case (k, v) => sums(k) += v - jvm0(k) }
          sums("cached_mb_peak") = cachedPeak
          sums("build_s") = recs.flatMap(_._2.parts).filter(_._1 == "build").map(p => p._3 - p._2).sum / 1e3
          sums("action_s") = recs.flatMap(_._2.parts).filter(_._1 == "action").map(p => p._3 - p._2).sum / 1e3
          sums("op_wall_s") = recs.map(_._1.seconds).sum
          (sums.toMap, perOp.flatMap(_._2._2))
      }
      PassResult(traced, wall, cpu, recs.map(_._1), layers, spans)
    }

    private def cachedMb(): Double =
      spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / (1024.0 * 1024.0)

    /** Runs the deliberate stampede and its eager twin under the tracer;
      * returns the duplicate stages found in each. */
    def stampedeCheck(): (Double, Double) = {
      def dups(eager: Boolean): Double = {
        val op = new Op {
          val name = if (eager) "stampede_eager" else "stampede_lazy"
          val kind = "selfcheck"
          def run(ctx: Ctx): () => Boolean = {
            val df = ctx.part("build")(Workloads.stampede(ctx.spark, eager))
            val rows = ctx.part("action")(df.collect())
            ctx.release()
            () => rows.map(_.getLong(1)).sum == 800000L
          }
        }
        val p = pass(Seq(op), traced = true)
        if (!p.ops.forall(_.ok)) Double.NaN else p.layers.getOrElse("dup_stages", 0.0)
      }
      (dups(eager = false), dups(eager = true))
    }
  }

  /** Live heap: heap in use after full collections, sampled at the end of
    * each operation's action in the first burn-in pass, while the
    * operation still holds its cached intermediates. Measured passes force
    * no collection between their operations. */
  object Heap {
    @volatile var peakMb = 0.0

    private def collectedMb(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }

    /** Collects every 100 ms, at least five times and then until the heap
      * stops shrinking. Spark's listener bus and context cleaner let go of
      * the events and blocks of finished jobs asynchronously: one
      * collection right after a graph_iter action still counted 60-110 MB
      * that a second one, 300 ms later, freed, and how much depended on
      * timing. */
    def sample(): Unit = {
      var prev = collectedMb()
      var cur = prev
      var rounds = 0
      while (rounds < 5 || (prev - cur > 1.0 && rounds < 20)) {
        Thread.sleep(100)
        prev = cur
        cur = collectedMb()
        rounds += 1
      }
      peakMb = math.max(peakMb, cur)
    }
  }
}
