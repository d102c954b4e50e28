package graft

import graft.operators.{Dedup, Events, Graph, Relational, Similarity,
  TextStats}

/** Physical-plan posture pins for the round-6 operators: what
  * broadcasts, what stays an equality join, what partial-aggregates,
  * and what never goes cartesian — so a planner or refactor
  * regression fails CI instead of a 100 TB run. (A
  * BroadcastNestedLoopJoin Cross of a 1-row/box-bounded frame is the
  * legitimate broadcast-scalar shape; the asserts below forbid the
  * dangerous variants only.)
  */
class Round6PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    val p = df.queryExecution.executedPlan.toString
    CacheScope.release(spark)
    p
  }

  private def noConditionedBnlj(p: String, tag: String): Unit =
    p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
      .foreach(l => assert(l.contains("Cross"),
        s"$tag: conditioned nested-loop join — unbounded broadcast? $l"))

  test("nonparametric tier: one partial-agg shuffle, never cartesian") {
    Seq(plan(Events.ansariBradley(spark, sf)),
        plan(Events.moodMedian(spark, sf)),
        plan(Events.jonckheereTerpstra(spark, sf)),
        plan(Events.brownForsythe(spark, sf)),
        plan(Events.kuiperTwoSample(spark, sf)),
        plan(Events.cochranArmitage(spark, sf)),
        plan(Events.grubbsTest(spark, sf)),
        plan(Events.runningRecords(spark, sf))).foreach { p =>
      assert(p.contains("HashAggregate"),
        "value/day/user reduction must partial-aggregate")
      assert(!p.contains("CartesianProduct"))
      noConditionedBnlj(p, "nonparametric")
    }
  }

  test("link-prediction wedges: equality joins on the shared customer") {
    Seq(plan(Graph.jaccardLinkPred(spark, sf)),
        plan(Graph.preferentialAttachment(spark, sf))).foreach { p =>
      assert(!p.contains("CartesianProduct"))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
        || p.contains("BroadcastHashJoin"),
        "the wedge must be an equality join on the customer key")
    }
  }

  test("gini/benford: value-keyed partial agg; scalar-only broadcasts") {
    Seq(plan(Relational.giniMeanDifference(spark, sf)),
        plan(Relational.benfordDigits(spark, sf))).foreach { p =>
      assert(p.contains("HashAggregate"))
      assert(!p.contains("CartesianProduct"))
      noConditionedBnlj(p, "gini/benford")
    }
  }

  test("lix/msttr/pareto: single-scan token aggs, no cartesian") {
    Seq(plan(TextStats.lixReadability(spark, sf)),
        plan(TextStats.msttrDiversity(spark, sf))).foreach { p =>
      assert(p.contains("HashAggregate"))
      assert(!p.contains("CartesianProduct"))
      assert(!p.contains("BroadcastNestedLoopJoin"))
    }
    val pf = plan(graft.operators.Curation.paretoFront(spark, sf))
    assert(pf.contains("BroadcastHashJoin") ||
      pf.contains("BroadcastExchange"),
      "the bounded front-lengths table must broadcast back onto docs")
    assert(!pf.contains("CartesianProduct"))
  }

  test("band sweep / containment: equality bucket joins only") {
    Seq(plan(Dedup.lshBandSweep(spark, sf)),
        plan(Dedup.docContainment(spark, sf))).foreach { p =>
      assert(!p.contains("CartesianProduct"))
      assert(!p.contains("BroadcastNestedLoopJoin"),
        "candidates must come from the banded equality join")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
        || p.contains("BroadcastHashJoin"))
    }
  }

  test("inventory policy: the part dimension broadcasts onto lineitem") {
    val p = plan(Relational.inventoryPolicy(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      "part is a dimension — it must broadcast, never shuffle lineitem")
    assert(!p.contains("CartesianProduct"))
  }
}
