package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.Cross
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec,
  HashJoin}
import org.apache.spark.sql.functions._
import graft.operators.Similarity

class SimilaritySpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** `q`'s plan before it runs, the form the older plan tests read. */
  private def plan(df: DataFrame): String = {
    val p = df.queryExecution.executedPlan.toString
    CacheScope.release(spark)
    p
  }

  /** The executed plans of every action `q` runs (its eager registers
    * and checkpoints too) and of every cache they read. */
  private def executed(q: => DataFrame): Seq[SparkPlan] = {
    val probe = new JobProbe().run(spark)(q.collect())
    CacheScope.release(spark)
    val plans = probe.plans.asScala.toSeq
    plans ++ plans.flatMap(PlanShape.caches)
  }

  /** The IVF posture every index build and search keeps: the centroid
    * table (`cv`) broadcasts onto a nested-loop join, nothing goes
    * cartesian, and every nested-loop join is a `Cross` join. Returns the
    * names of the hash joins on `centroid_id`: the probe-list joins (and
    * ivf_balance's empty-list fill). */
  private def ivfPosture(tag: String, plans: Seq[SparkPlan]): Seq[String] = {
    val nodes = plans.flatMap(p => collectWithSubqueries(p) { case n => n })
    val bnlj = nodes.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.forall(_.joinType == Cross),
      s"$tag: conditioned nested-loop join: ${bnlj.map(_.simpleString(200))}")
    assert(bnlj.exists(j => j.right.output.exists(_.name == "cv") &&
      collect(j.right) { case b: BroadcastExchangeLike => b }.nonEmpty),
      s"$tag: the centroid table must broadcast onto the scan")
    assert(!nodes.exists(_.nodeName == "CartesianProduct"), tag)
    nodes.collect { case j: HashJoin
      if j.leftKeys.exists(_.references.exists(_.name == "centroid_id")) =>
      j.nodeName }
  }

  test("knn_ivf: centroids broadcast, the bounded probe list broadcasts") {
    val joins = ivfPosture("knn_ivf",
      executed(Similarity.ivfTopK(spark, sf, 10, 5)))
    assert(joins.nonEmpty && joins.forall(_ == "BroadcastHashJoin"), joins)
  }

  test("ann_recall: centroids broadcast, the bounded probe list broadcasts") {
    val joins = ivfPosture("ann_recall",
      executed(Similarity.annRecall(spark, sf)))
    assert(joins.nonEmpty && joins.forall(_ == "BroadcastHashJoin"), joins)
  }

  test("nprobe sweep: centroids broadcast, probe join bounded") {
    val p = plan(Similarity.nprobeRecallSweep(spark, sf))
    assert(p.contains("BroadcastExchange"),
      "the 16-centroid and bounded-query tables must broadcast")
    assert(!p.contains("CartesianProduct"))
    p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
      .foreach(l => assert(l.contains("Cross"),
        s"nprobe_sweep: conditioned nested-loop join — unbounded broadcast? $l"))
    val joins = ivfPosture("nprobe_recall_sweep",
      executed(Similarity.nprobeRecallSweep(spark, sf)))
    assert(joins.nonEmpty && joins.forall(_ == "BroadcastHashJoin"), joins)
  }

  test("recall_at_k_sweep: centroids broadcast, the bounded probe list" +
    " broadcasts") {
    val joins = ivfPosture("recall_at_k_sweep",
      executed(Similarity.recallAtKSweep(spark, sf)))
    assert(joins.nonEmpty && joins.forall(_ == "BroadcastHashJoin"), joins)
  }

  test("ivf_centroid_sweep: centroids broadcast, the bounded probe lists" +
    " broadcast") {
    val joins = ivfPosture("ivf_centroid_sweep",
      executed(Similarity.centroidSweep(spark, sf)))
    assert(joins.nonEmpty && joins.forall(_ == "BroadcastHashJoin"), joins)
  }

  test("ivf_balance: centroids broadcast, the assignment shuffles no" +
    " embedding") {
    val plans = executed(Similarity.ivfBalance(spark, sf))
    ivfPosture("ivf_balance", plans)
    // the assignment's top-1 exchange is keyed on vec_id
    val assign = plans.flatMap(p => collectWithSubqueries(p) {
      case x: ShuffleExchangeLike if (x.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.exists(_.references.exists(_.name == "vec_id"))
        case _ => false
      }) => x })
    assert(assign.nonEmpty)
    assign.foreach(x => assert(!x.output.exists(_.name == "embedding"),
      s"ivf_balance: the assignment shuffles the embedding: ${x.simpleString(200)}"))
  }

  test("knn_label_consistency: centroids broadcast, probes do NOT") {
    val p = plan(Similarity.knnLabelConsistency(spark, sf))
    assert(p.contains("BroadcastExchange"),
      "the 16-centroid table must broadcast")
    // the n-proportional probe table must reach candidates through a
    // shuffled equality join on the centroid key
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      s"probe join must shuffle on centroid_id, not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    val joins = ivfPosture("knn_label_consistency",
      executed(Similarity.knnLabelConsistency(spark, sf)))
    assert(joins.nonEmpty && joins.forall(_ == "ShuffledHashJoin"), joins)
  }

  test("mutual_nn_pairs: the mutuality check is an equality self-join") {
    // the top-1 table is localCheckpoint-ed, so the candidate stage's
    // broadcasts are upstream of the visible plan; what this pins is
    // the reversed-key self-join shape on the checkpointed table
    val p = plan(Similarity.mutualNnPairs(spark, sf))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin")
      || p.contains("BroadcastHashJoin"),
      "mutuality must join on the reversed (query, vec) key")
    // the checkpoint's own plan holds the IVF candidate generation
    val joins = ivfPosture("mutual_nn_pairs",
      executed(Similarity.mutualNnPairs(spark, sf)))
    assert(joins.nonEmpty && joins.forall(_ == "ShuffledHashJoin"), joins)
  }

  test("lof_audit: centroids broadcast, probes shuffle") {
    val p = plan(Similarity.lofAudit(spark, sf))
    assert(p.contains("BroadcastExchange"),
      "the 16-centroid table must broadcast")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      "the n-proportional probe join must shuffle on centroid_id")
    assert(!p.contains("CartesianProduct"))
    val joins = ivfPosture("lof_audit",
      executed(Similarity.lofAudit(spark, sf)))
    assert(joins.nonEmpty && joins.forall(_ == "ShuffledHashJoin"), joins)
  }

  test("intrinsic_dimension: centroids broadcast, probe join shuffles," +
    " no full-corpus broadcast") {
    val p = plan(Similarity.intrinsicDimension(spark, sf))
    assert(p.contains("BroadcastExchange"),
      "the 16-centroid table must broadcast")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      "the n-proportional probe join must shuffle on centroid_id")
    assert(!p.contains("CartesianProduct"))
    // the only nested-loop joins allowed are unconditioned Cross
    // broadcasts of BOUNDED frames (16-row centroids, 1-row scalars);
    // the r5 shape was a conditioned Inner BNLJ against the WHOLE
    // broadcast embedding table (`NOT (vec_id = qid)`)
    p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
      .foreach(l => assert(l.contains("Cross"),
        s"conditioned nested-loop join — full-corpus broadcast? $l"))
    val joins = ivfPosture("intrinsic_dimension",
      executed(Similarity.intrinsicDimension(spark, sf)))
    assert(joins.nonEmpty && joins.forall(_ == "ShuffledHashJoin"), joins)
  }

  test("every IVF inverted list and probe list comes from one nearest-centroid step") {
    // a hand-built assignment would re-decide the centroid broadcast,
    // the ranking and its tiebreak on its own
    val src = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths
      .get("src/main/scala/graft/operators/Similarity.scala")))
    def uses(code: String) =
      java.util.regex.Pattern.quote(code).r.findAllMatchIn(src).size
    assert(uses("crossJoin(broadcast(cent))") == 1)
    assert(uses("orderBy(col(\"csim\").desc, col(\"centroid_id\"))") == 1)
  }

  test("cosine: identical=1, orthogonal=0, opposite=-1") {
    val df = Seq(
      (Seq(1f, 0f), Seq(1f, 0f)),
      (Seq(1f, 0f), Seq(0f, 1f)),
      (Seq(1f, 0f), Seq(-1f, 0f))
    ).toDF("a", "b")
    val got = df.select(Similarity.cosine($"a", $"b")).collect()
      .map(_.getDouble(0))
    assert(math.abs(got(0) - 1.0) < 1e-12)
    assert(math.abs(got(1)) < 1e-12)
    assert(math.abs(got(2) + 1.0) < 1e-12)
  }

  test("fused cosine Expression is bit-identical to the built-in composition") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").limit(50)
      .select($"vec_id", $"embedding")
    val q = emb.filter($"vec_id" === 0)
      .select($"embedding".as("qv"))
    val both = emb.crossJoin(q).select(
      Similarity.cosine($"embedding", $"qv").as("fused"),
      Similarity.cosineBuiltins($"embedding", $"qv").as("builtin"))
      .collect()
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    assert(both.nonEmpty)
  }

  test("brute force: exactly k neighbors per query, sorted desc") {
    val top = Similarity.bruteForceTopK(spark, sf, 5, 4).collect()
    val by = top.groupBy(_.getLong(0))
    assert(by.keySet == Set(0L, 1L, 2L, 3L, 4L))
    by.values.foreach { rows =>
      assert(rows.length == 4)
      val sims = rows.sortBy(-_.getDouble(2)).map(_.getDouble(2))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
      rows.foreach(r => assert(r.getLong(1) != r.getLong(0)))
    }
  }

  test("IVF probes recover a meaningful fraction of exact neighbors") {
    val exact = Similarity.bruteForceTopK(spark, sf, 5, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(spark, sf, 5, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.size <= exact.size)
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.3, s"recall=$recall too low")
  }

  test("kmeans matches a driver-side Lloyd's run exactly") {
    val vecs = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    val k = 3; val iters = 2
    var cents = vecs.take(k).map(_._2)
    def nearest(v: Array[Double]): Int =
      cents.zipWithIndex.map { case (c, i) =>
        (v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum, i)
      }.min._2
    for (_ <- 1 until iters) {
      val byC = vecs.groupBy { case (_, v) => nearest(v) }
      cents = cents.indices.flatMap(i => byC.get(i).map { m =>
        val dim = m.head._2.length
        Array.tabulate(dim)(d => m.map(_._2(d)).sum / m.length)
      }).toArray
    }
    val want = vecs.map { case (id, v) => id -> nearest(v) }.toMap
    val got = Similarity.kmeans(spark, sf, k, iters).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.keySet == want.keySet)
    assert(got == want)
    assert(got.values.toSet.size > 1, "should use more than one cluster")
  }

  test("LSH near-dup pairs are a subset of the exact all-pairs result") {
    val exact = Similarity.embeddingPairs(spark, sf, 0.45).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.embeddingPairsLsh(spark, sf, 0.45).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact),
      s"LSH found pairs the exact scan did not: ${lsh -- exact}")
    assert(lsh.nonEmpty, "bucket join should surface at least one pair")
  }
}
