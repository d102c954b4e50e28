package graft

import graft.operators.{Cooccur, Dedup, Events, Graph, Ml, Similarity,
  TextStats}
import graft.operators.Index

/** Physical-plan assertions for the round-5 operators — each one's
  * scale posture (what broadcasts, what stays an equality join, what
  * never goes cartesian) is part of its contract; pin it so a planner
  * or refactor regression fails CI instead of a 100 TB run.
  */
class Round5PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("rrf_fusion: ranked lists fuse by equality join, no cartesian") {
    val p = plan(Index.rrfFusion(spark, sf))
    // (the 1-row corpus-stats scalar broadcast appears as a
    // BroadcastNestedLoopJoin Cross — legitimate; a CartesianProduct
    // would mean the two ranked lists paired without their keys)
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      "term/doc fuse must be an equality join")
    CacheScope.release(spark)
  }

  test("silhouette_labels: label centroids broadcast onto the scan") {
    val p = plan(Similarity.silhouetteLabels(spark, sf))
    assert(p.contains("BroadcastExchange"),
      "labels·dim centroid table must broadcast")
  }

  test("kaplan_meier / theil_sen / cusum: one corpus-bound keyed agg") {
    Seq(plan(Events.kaplanMeier(spark, sf)),
        plan(Events.theilSen(spark, sf)),
        plan(Events.cusumChangepoint(spark, sf))).foreach { p =>
      assert(p.contains("HashAggregate"),
        "day/user reduction must partial-aggregate")
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("isotonic_calibration: model broadcast; lattice never cartesian") {
    val p = plan(Ml.isotonicCalibration(spark, sf))
    assert(p.contains("BroadcastExchange"),
      "weight table / bounds must broadcast")
    CacheScope.release(spark)
  }

  test("countmin/bloom/hll audits: sketch tables broadcast back") {
    val p1 = plan(TextStats.countMinAudit(spark, sf))
    assert(p1.contains("BroadcastExchange"),
      "the depth×width cell table must broadcast")
    CacheScope.release(spark)
    val p2 = plan(TextStats.bloomFprAudit(spark, sf))
    assert(p2.contains("BroadcastExchange"),
      "the set-bit table must broadcast")
    CacheScope.release(spark)
    val p3 = plan(Events.hllErrorAudit(spark, sf))
    assert(p3.contains("HashAggregate") &&
      !p3.contains("CartesianProduct"))
    CacheScope.release(spark)
  }

  test("dedup_threshold_sweep: five cutoffs reuse ONE cached join") {
    val df = Dedup.dedupThresholdSweep(spark, sf)
    val p = plan(df)
    assert(p.contains("InMemoryTableScan") ||
      p.contains("TableCacheQueryStage"),
      s"threshold subtrees must read the cached intersect table:\n$p")
    CacheScope.release(spark)
  }

  test("textrank: bigram count partial-aggregates before the loop") {
    val p = plan(Cooccur.textrank(spark, sf))
    assert(!p.contains("CartesianProduct"))
    CacheScope.release(spark)
  }

  test("pca_power covariance scan: no join at all — one aggregation") {
    // the d² accumulators come from explode+aggregate of a single
    // scan; a join/cartesian here would mean a pairwise formulation
    val xi = graft.Tables.embeddings(spark, sf)
    assert(xi.count() > 0)
    val out = Similarity.pcaPower(spark, sf)
    assert(out.count() == 8)
  }
}
