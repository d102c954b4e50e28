package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The engine's sessions compile each generated pipeline once: class
  * names carry no codegen stage id, so the same pipeline in another loop
  * round, plan or query hits Janino's class cache. */
class CodegenSpec extends SparkSpec {
  private val useId = "spark.sql.codegen.useIdInClassName"

  /** Whole-stage and expression classes Janino compiled while `body` ran
    * (in local mode the driver's and the executor's compiles alike). */
  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("any Tables read turns stage ids out of codegen class names") {
    val readers = Seq[(String, (org.apache.spark.sql.SparkSession, String) => Any)](
      "load" -> ((s, d) => Tables.load(s, d, "region")),
      "events" -> ((s, d) => Tables.events(s, d)),
      "documents" -> ((s, d) => Tables.documents(s, d)),
      "embeddings" -> ((s, d) => Tables.embeddings(s, d)))
    readers.foreach { case (name, read) =>
      val fresh = spark.newSession()
      assert(fresh.conf.get(useId) == "true", s"$name: Spark's default")
      read(fresh, sf)
      assert(fresh.conf.get(useId) == "false", name)
    }
  }

  test("a second back-to-back hits_scores run compiles almost nothing") {
    def run(): Unit = {
      SparkEntry.queries("hits_scores")(spark, sf).collect()
      CacheScope.release(spark, blocking = true)
    }
    val first = compiles(run())
    val second = compiles(run())
    info(s"hits_scores compiled $first classes, then $second")
    assert(second < 10, s"hits_scores compiled $first classes, then $second")
  }
}
