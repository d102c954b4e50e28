package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture-table loaders (schemas in /root/repo/FIXTURES.md).
  *
  * The reference addressed columns by ordinal over '|'-split text lines
  * (e.g. reference Q1.scala:39-41); here every table is columnar parquet
  * with a named schema, so Catalyst column pruning + filter pushdown reach
  * the scan for free. At 100 TB these would be partitioned/bucketed tables
  * behind a catalog; the `dir` parameter stands in for that resolution.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Every operator reads its tables here, so this is also where the
    * engine's session gets its one codegen setting.
    *
    * Spark names each whole-stage-codegen class after the stage's
    * position in its plan (`GeneratedIteratorForCodegenStage<N>`), and
    * the name is part of the generated source that keys Janino's
    * 100-entry class cache. The same pipeline therefore got a fresh key
    * in loop round 1, in round k and in the final action: a warm
    * graph_iter pass compiled 132–145 classes (1.2 s of Janino time)
    * over the same four queries every pass. With
    * `useIdInClassName=false` identical pipelines share one class across
    * rounds, plans and queries: 37–39 compiles per pass, and on 4 cores
    * graph_iter's cpu_s median went 18.56→14.93 s (perfbench, ten
    * interleaved pairs). Spark reads the flag when a plan executes, and
    * the caller's action runs outside any operator, so it has to be a
    * session setting: scoping it to a loop (`Graph.withLoopConf`)
    * gained nothing.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.codegen.useIdInClassName", "false")
    spark.read.parquet(s"$dir/$name.parquet")
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized
    * reader refuses; read it as a nanos long (legacy flag, runtime-
    * settable) and rebuild a microsecond timestamp — every consumer
    * works at second/hour granularity, so nothing is lost.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case _ => df   // already a timestamp (e.g. test-written fixtures)
    }
  }
  /** The text and vector tables feed compute-heavy per-row work
    * (tokenization, hashing, vector math). The fixtures are single-row-
    * group files, so the scan is one task no matter what — spread the
    * rows across the session's parallelism right after the scan or the
    * whole tier runs single-threaded. On a real cluster the table
    * would arrive in many files and this becomes a no-op-sized shuffle.
    */
  private def spread(s: SparkSession, df: DataFrame): DataFrame =
    df.repartition(s.conf.get("spark.sql.shuffle.partitions", "32").toInt)

  def documents(s: SparkSession, d: String): DataFrame =
    spread(s, load(s, d, "documents"))
  def embeddings(s: SparkSession, d: String): DataFrame =
    spread(s, load(s, d, "embeddings"))
}
