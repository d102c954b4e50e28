package graft.tools

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** Dev tool: where a query's time goes (guide §1/§7). Runs each named
  * `SparkEntry.queries` query twice (cold, then warm), releasing every
  * cache after each pass, and prints
  *  - a `[st]` line per stage whose tasks ran > 200 ms: tasks,
  *    run/CPU/GC/deserialize seconds, shuffle read/write MB, shuffle
  *    records written and the stage name (callsite);
  *  - a `[q]` line per pass with the query's totals: wall seconds,
  *    jobs, duplicate stages, task run/CPU/GC milliseconds, shuffle
  *    bytes and records written. A duplicate stage is submitted while
  *    another in-flight stage is still building one of its persisted
  *    RDDs: both compute it (a cache stampede).
  *
  * Usage: `SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=... sbt "runMain
  * graft.tools.StageProbe q1 q2 ..."` (defaults: sf0.1, 32 cores).
  */
object StageProbe {
  private final class Totals {
    val jobs, dups, runMs, cpuNs, gcMs, shuffleBytes, shuffleRecords = new AtomicLong
    def all: Seq[AtomicLong] = Seq(jobs, dups, runMs, cpuNs, gcMs, shuffleBytes, shuffleRecords)
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val t = new Totals
    // persisted RDD id -> in-flight stages computing it; built RDDs
    val building = mutable.Map.empty[Int, mutable.Set[Int]]
    val built = mutable.Set.empty[Int]
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        t.jobs.incrementAndGet(); ()
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        val si = e.stageInfo
        val persisted = si.rddInfos.filter(_.storageLevel.isValid).map(_.id)
        if (persisted.exists(r => !built(r) && building.get(r).exists(_.nonEmpty)))
          t.dups.incrementAndGet()
        persisted.foreach(r => building.getOrElseUpdate(r, mutable.Set.empty) += si.stageId)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        si.rddInfos.filter(_.storageLevel.isValid).foreach { r =>
          building.get(r.id).foreach(_ -= si.stageId)
          if (si.failureReason.isEmpty) built += r.id
        }
        val m = si.taskMetrics
        if (m != null) {
          t.runMs.addAndGet(m.executorRunTime)
          t.cpuNs.addAndGet(m.executorCpuTime)
          t.gcMs.addAndGet(m.jvmGCTime)
          t.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          t.shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          if (m.executorRunTime > 200) {
            println(f"[st] id=${si.stageId}%4d tasks=${si.numTasks}%3d " +
              f"run=${m.executorRunTime / 1e3}%7.2f cpu=${m.executorCpuTime / 1e9}%7.2f " +
              f"gc=${m.jvmGCTime / 1e3}%5.2f des=${m.executorDeserializeTime / 1e3}%6.2f " +
              f"sr=${m.shuffleReadMetrics.totalBytesRead / 1048576.0}%7.1fM " +
              f"sw=${m.shuffleWriteMetrics.bytesWritten / 1048576.0}%7.1fM " +
              f"rows=${m.shuffleWriteMetrics.recordsWritten}%10d " +
              si.name.take(60))
          }
        }
      }
    })
    s.read.parquet(s"$dir/lineitem.parquet").count()
    Thread.sleep(1200)
    for (n <- args; pass <- Seq("cold", "warm")) {
      println(s"===== $n/$pass =====")
      t.all.foreach(_.set(0L))
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(s, dir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      graft.CacheScope.release(s, blocking = true)
      s.catalog.clearCache()
      s.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      Thread.sleep(1200) // let the listener bus drain (no public flush)
      println(f"[q] $n%-28s $pass%-4s wall=$wall%7.2f s jobs=${t.jobs.get}%4d " +
        f"dup=${t.dups.get}%3d " +
        f"run=${t.runMs.get}%8d ms cpu=${t.cpuNs.get / 1000000L}%8d ms " +
        f"gc=${t.gcMs.get}%6d ms shuffleWrite=${t.shuffleBytes.get}%12d B " +
        f"records=${t.shuffleRecords.get}%10d")
    }
    s.stop()
  }
}
