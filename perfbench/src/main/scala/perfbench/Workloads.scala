package perfbench

import java.io.File
import java.nio.file.Path

import scala.collection.immutable.SortedSet
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, explode, expr}
import org.apache.spark.sql.types.StructType

import graft.{CacheScope, SparkEntry, Tables}
import graft.functions.TextFns
import graft.operators.Index
import graft.sources.TermStore

/** The runner's side of one operation: it records the intervals of the
  * operation's parts (build, action, release) for tracing. */
trait Ctx {
  def spark: SparkSession
  def part[T](kind: String)(body: => T): T
  /** Release the operators' cached intermediates, as the library's
    * contract asks of every caller after its action. */
  def release(): Unit
}

/** One operation of the closed loop. `run` performs it and returns the
  * check of its result, which the runner evaluates off the clock. */
trait Op {
  def name: String
  def kind: String
  def run(ctx: Ctx): () => Boolean
}

/** A workload: a fixed multiset of operations per pass, put in an order
  * the seed decides, plus its warm-up and its untimed reference results. */
trait Workload {
  def warmup(spark: SparkSession): Unit
  def prepare(spark: SparkSession): Unit = ()
  def pass(rng: Random): Seq[Op]
  /** Nominal wall time of one pass on four cores, which sets the number
    * of measured passes for a given --seconds. */
  def passSeconds: Double
  /** Untimed passes before the measured ones. */
  def burnInPasses: Int = 1
  /** Contract queries whose results run.py checks against an oracle. */
  def contractQueries: Seq[String]
}

object Workloads {
  val names: Seq[String] = Seq("graph_iter", "text_ir")

  /** Iterative graph loops over the customer-supplier graph: the
    * reference's multi-source personalized PageRank, global PageRank, the
    * alternating-key HITS loop and connected components. */
  val graphQueries: Seq[String] =
    Seq("ppr_top10", "pagerank_global", "hits_scores", "graph_components")

  /** Text-analytics and dedup contract queries over the documents tier. */
  val textQueries: Seq[String] = Seq("word_count", "dedup_minhash")

  val lookupsPerPass = 50
  /** One boolean query of each postfix shape per pass; the seed picks the
    * terms, so the mix of work stays the same across seeds. */
  val booleanShapes: Seq[Seq[String] => String] = Seq(
    t => s"${t(0)} ${t(1)} AND",
    t => s"${t(0)} ${t(1)} OR",
    t => s"${t(0)} ${t(1)} AND ${t(2)} OR",
    t => s"${t(0)} ${t(1)} ${t(2)} OR AND")

  def apply(name: String, seed: Long, dir: String, work: Path): Workload = name match {
    case "graph_iter" => new Queries(graphQueries, dir, work) { val passSeconds = 9.0 }
    case "text_ir" => new TextIr(seed, dir, work)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Contract queries: build, materialize every column with collect(),
    * release. The first result of each query in a run is written as
    * parquet to <work>/results/<query> for run.py's oracle check; every
    * later one must equal it. */
  abstract class Queries(queries: Seq[String], dir: String, work: Path) extends Workload {
    private val first = collection.mutable.Map.empty[String, Check.Table]

    def warmup(spark: SparkSession): Unit = {
      Tables.lineitem(spark, dir).collect()
      spark.range(10000).groupBy(col("id") % 64).count().collect()
    }

    def pass(rng: Random): Seq[Op] = rng.shuffle(queries).map(queryOp)

    def contractQueries: Seq[String] = queries

    def queryOp(q: String): Op = new Op {
      val name: String = q
      val kind = "query"
      def run(ctx: Ctx): () => Boolean = {
        val df = ctx.part("build")(SparkEntry.queries(q)(ctx.spark, dir))
        val rows = ctx.part("action")(df.collect())
        ctx.release()
        () => check(ctx.spark, q, df.schema, rows)
      }
    }

    private def check(spark: SparkSession, q: String, schema: StructType,
                      rows: Array[Row]): Boolean = {
      val t = Check.canonical(schema.fieldNames.toSeq, rows)
      first.get(q) match {
        case Some(f) => Check.sameTable(f, t)
        case None =>
          first(q) = t
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
            .write.mode("overwrite").parquet(work.resolve("results").resolve(q).toString)
          true
      }
    }
  }

  /** The documents tier: the store write path (postings built and written
    * with TermStore.write), the read path (seeded point lookups through
    * TermStore.parquetBacked, seeded postfix boolean queries), and the
    * text and dedup contract queries. */
  final class TextIr(seed: Long, dir: String, work: Path)
      extends Queries(textQueries, dir, work) {
    val passSeconds = 6.5
    // the JIT keeps speeding a text_ir pass up for several passes: after
    // one pass of burn-in its two measured passes ran 15% apart and its
    // wall_s spread over five seeds was 0.21; after two, 0.07
    override val burnInPasses = 2
    private val storePath = work.resolve("store").toString
    private var store: TermStore = _
    private var expectedPostings: Map[String, Seq[(Long, Long)]] = Map.empty
    private var expectedDocs: Map[String, SortedSet[Long]] = Map.empty
    private var lookupTerms: Seq[String] = Nil
    private var boolQueries: Seq[String] = Nil

    override def warmup(spark: SparkSession): Unit = {
      super.warmup(spark)
      Tables.documents(spark, dir).select(explode(TextFns.tokenize(col("text")))).collect()
    }

    /** Reference results, off the clock: postings per term from
      * Index.postings, and each boolean query evaluated as set algebra
      * over TermStore.fetchDocumentSet. */
    override def prepare(spark: SparkSession): Unit = {
      expectedPostings = Index.postings(spark, dir).collect().toSeq
        .map(r => (r.getAs[String]("term"), (r.getAs[Long]("doc_id"), r.getAs[Long]("tf"))))
        .groupBy(_._1).map { case (t, ps) => t -> ps.map(_._2).sortBy(_._1) }
      val vocabulary = expectedPostings.keys.toSeq.sorted
      val rng = new Random(seed)
      lookupTerms = Seq.fill(lookupsPerPass)(vocabulary(rng.nextInt(vocabulary.size)))
      boolQueries = booleanShapes.map(shape => shape(rng.shuffle(vocabulary).take(3)))
      TermStore.write(Index.postingsLists(spark, dir), storePath)
      store = TermStore.parquetBacked(spark, storePath)
      val terms = boolQueries.flatMap(_.split(" ")).filterNot(Set("AND", "OR")).distinct
      val sets = terms.map(t => t -> store.fetchDocumentSet(t)).toMap
      expectedDocs = boolQueries.map(q => q -> evalPostfix(q, sets)).toMap
    }

    private def evalPostfix(q: String, sets: Map[String, SortedSet[Long]]): SortedSet[Long] = {
      val stack = q.split(" ").foldLeft(List.empty[SortedSet[Long]]) {
        case (b :: a :: rest, "AND") => (a intersect b) :: rest
        case (b :: a :: rest, "OR") => (a union b) :: rest
        case (st, term) => sets(term) :: st
      }
      stack.head
    }

    override def pass(rng: Random): Seq[Op] =
      storeBuild +: rng.shuffle(
        lookupTerms.map(lookupOp) ++ boolQueries.map(boolOp) ++ textQueries.map(queryOp))

    private val storeBuild: Op = new Op {
      val name = "store_build"
      val kind = "store_build"
      def run(ctx: Ctx): () => Boolean = {
        val postings = ctx.part("build")(Index.postingsLists(ctx.spark, dir))
        ctx.part("action") {
          TermStore.write(postings, storePath)
          store = TermStore.parquetBacked(ctx.spark, storePath)
        }
        ctx.release()
        () => storeFiles.nonEmpty
      }
    }

    private def lookupOp(term: String): Op = new Op {
      val name = "lookup"
      val kind = "lookup"
      def run(ctx: Ctx): () => Boolean = {
        val got = ctx.part("action")(store.fetchPostings(term))
        () => got == expectedPostings(term)
      }
    }

    private def boolOp(q: String): Op = new Op {
      val name = "boolean"
      val kind = "boolean"
      def run(ctx: Ctx): () => Boolean = {
        val df = ctx.part("build")(Index.booleanQuery(ctx.spark, dir, q))
        val rows = ctx.part("action")(df.collect())
        ctx.release()
        () => SortedSet(rows.map(_.getLong(0)).toIndexedSeq: _*) == expectedDocs(q)
      }
    }

    def storeFiles: Seq[File] =
      Option(new File(storePath).listFiles).toSeq.flatten.filter(_.getName.endsWith(".parquet"))
  }

  /** A plan that reads one lazily persisted intermediate from two
    * concurrent subtrees — the cache stampede the duplicate-stage
    * detector must flag — and the same plan with the intermediate
    * materialized first, which it must not flag. */
  def stampede(spark: SparkSession, eager: Boolean): DataFrame = {
    val base = spark.range(0, 400000, 1, spark.sparkContext.defaultParallelism)
      .selectExpr("id", "sha2(cast(id as string), 256) as h").persist()
    if (eager) CacheScope.register(base) else CacheScope.track(base)
    base.groupBy(expr("id % 7").as("k")).count()
      .union(base.groupBy(expr("id % 11").as("k")).count())
  }
}
