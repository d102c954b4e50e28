package graft

import graft.operators.{Events, Graph, Index, Ml, Relational, Similarity}

/** Physical-plan assertions for the round-5 batch-C operators: the
  * scale posture (what broadcasts, what stays an equality join, what
  * never goes cartesian) is part of each operator's contract — pin it
  * so a planner or refactor regression fails CI instead of a 100 TB
  * run. (BroadcastNestedLoopJoin of a 1-row scalar frame is the
  * legitimate broadcast-scalar shape, asserted as such where used.)
  */
class Round5BatchCPlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    val p = df.queryExecution.executedPlan.toString
    CacheScope.release(spark)
    p
  }

  test("k_truss: every wedge/restrict join is an equality join") {
    val p = plan(Graph.kTruss(spark, sf))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("HashAggregate"), "support recount must partial-agg")
  }

  test("fairness_audit: the model applies as a broadcast join") {
    val p = plan(Ml.fairnessAudit(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      "the 10007-row weight table must broadcast onto the scan")
    assert(!p.contains("CartesianProduct"))
  }

  test("bootstrap_ci / permutation_test: resample layer partial-aggregates") {
    Seq(plan(Relational.bootstrapCi(spark, sf)),
        plan(Events.permutationTest(spark, sf))).foreach { p =>
      assert(p.contains("HashAggregate"),
        "the xB expansion must combine map-side before any exchange")
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("mahalanobis_outliers: the labels-by-dims stats table broadcasts") {
    val p = plan(Similarity.mahalanobisOutliers(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      "per-(label,dim) moments must broadcast, never shuffle the n*d rows twice")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must be distributed TakeOrdered, not a global sort")
  }

  test("conformal_intervals / cuped_adjust: no corpus-wide sort anywhere") {
    Seq(plan(Relational.conformalIntervals(spark, sf)),
        plan(Events.cupedAdjust(spark, sf))).foreach { p =>
      assert(!p.contains("CartesianProduct"))
      assert(p.contains("HashAggregate"))
    }
  }

  test("ctfidf_terms / prf_expansion: corpus-bound stage is one keyed agg") {
    Seq(plan(Index.ctfidfTerms(spark, sf)),
        plan(Index.prfExpansion(spark, sf))).foreach { p =>
      assert(!p.contains("CartesianProduct"))
      assert(p.contains("HashAggregate"))
    }
  }
}
