package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec,
  FilterExec, InputAdapter, ProjectExec, QueryExecution, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper,
  QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, Exchange}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel
import graft.operators.Graph

/** In-memory sequential oracle with the reference's semantics
  * (SURVEY §2.7 G9 / `SequentialPersonalizedPageRank.java`): priors at
  * the source, alpha=0.15, teleport + dangling mass all to the source.
  */
object SeqPPR {
  def run(edges: Seq[(Long, Long)], source: Long, iters: Int,
          alpha: Double = 0.15): Map[Long, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val out = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    var r = nodes.map(n => n -> (if (n == source) 1.0 else 0.0)).toMap
    for (_ <- 1 to iters) {
      val recv = mutable.Map[Long, Double]().withDefaultValue(0.0)
      for (n <- nodes; outs <- out.get(n); d <- outs)
        recv(d) += r(n) / outs.size
      val missing = 1.0 - recv.values.sum
      r = nodes.map { n =>
        n -> ((1 - alpha) * recv(n) +
          (if (n == source) alpha + (1 - alpha) * missing else 0.0))
      }.toMap
    }
    r
  }
}

/** What the cluster did while a body ran: jobs started, tasks ended,
  * stages that read files, and the executed plan of every query
  * execution (actions and checkpoints). */
final class JobProbe extends SparkListener with QueryExecutionListener {
  val jobs = new AtomicInteger
  val tasks = new AtomicInteger
  val fileScanStages = new AtomicInteger
  val plans = new ConcurrentLinkedQueue[SparkPlan]
  private val open = new AtomicInteger
  private val lastEvent = new AtomicLong(System.nanoTime())
  private def touch(): Unit = lastEvent.set(System.nanoTime())

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); open.incrementAndGet(); touch()
  }
  override def onJobEnd(j: SparkListenerJobEnd): Unit = {
    open.decrementAndGet(); touch()
  }
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet(); touch()
  }
  override def onStageCompleted(st: SparkListenerStageCompleted): Unit = {
    if (st.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
      fileScanStages.incrementAndGet()
    touch()
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = touch()
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
    plans.add(qe.executedPlan); touch()
  }
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    touch()

  /** Runs `body` with this probe attached; returns once every job it
    * started has ended and the buses have been quiet for 300 ms. */
  def run(spark: SparkSession)(body: => Unit): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    try {
      body
      val deadline = System.nanoTime() + 30L * 1000000000L
      while ((open.get > 0 || System.nanoTime() - lastEvent.get < 300L * 1000000L) &&
          System.nanoTime() < deadline) Thread.sleep(20)
    } finally {
      spark.listenerManager.unregister(this)
      spark.sparkContext.removeSparkListener(this)
    }
    this
  }
}

object PlanShape extends AdaptiveSparkPlanHelper {
  /** Broadcast exchanges whose subtree reads a cached relation. */
  def broadcastsOfCached(plan: SparkPlan): Int =
    collectWithSubqueries(plan) { case b: BroadcastExchangeLike => b }
      .count(b => collect(b) { case i: InMemoryTableScanExec => i }.nonEmpty)

  /** The plans that built the caches `plan` reads, directly or through
    * other caches. One object per cache, shared by every plan reading it. */
  def caches(plan: SparkPlan): Seq[SparkPlan] = {
    val direct = collectWithSubqueries(plan) {
      case i: InMemoryTableScanExec => i.relation.cacheBuilder.cachedPlan }
    direct ++ direct.flatMap(caches)
  }

  /** The exchanges in `plan` alone, not in the caches it reads. */
  def ownExchanges(plan: SparkPlan): Seq[Exchange] =
    collectWithSubqueries(plan) { case x: Exchange => x }

  /** Every exchange `plan` runs, including those that built its caches. */
  def exchanges(plan: SparkPlan): Seq[Exchange] =
    (plan +: caches(plan)).flatMap(ownExchanges)

  /** The cache (its building plan) `plan` reads through projections and
    * filters only. */
  @scala.annotation.tailrec
  def cacheRead(plan: SparkPlan): Option[SparkPlan] = plan match {
    case i: InMemoryTableScanExec => Some(i.relation.cacheBuilder.cachedPlan)
    case q: QueryStageExec => cacheRead(q.plan)
    case _: ProjectExec | _: FilterExec | _: WholeStageCodegenExec |
         _: InputAdapter | _: ColumnarToRowExec => cacheRead(plan.children.head)
    case _ => None
  }

  def readsFiles(cache: SparkPlan): Boolean =
    collect(cache) { case f: FileSourceScanExec => f }.nonEmpty

  /** `xs` without repeats of the same object. */
  def distinctRefs[A <: AnyRef](xs: Seq[A]): Seq[A] =
    xs.foldLeft(Vector.empty[A])((acc, x) => if (acc.exists(_ eq x)) acc else acc :+ x)
}

class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** A lineitem/orders fixture of `(orderkey, suppkey, custkey)` rows in
    * `dir`, overwriting any earlier one. */
  private def writeFixture(dir: String, rows: Seq[(Long, Long, Long)]): Unit = {
    rows.map(r => (r._1, r._2)).toDF("l_orderkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    rows.map(r => (r._1, r._3)).distinct.toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
  }

  private def tempDir(): String =
    java.nio.file.Files.createTempDirectory("graphspec").toString

  private def componentSizes(s: SparkSession, dir: String): Seq[Long] =
    Graph.csComponents(s, dir).groupBy("comp").count()
      .collect().map(_.getLong(1)).toSeq.sorted

  val smallEdges: Seq[(Long, Long)] =
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (5L, 1L))
  // node 4 is dangling (no out-edges); node 5 has no in-edges

  test("distributed PPR matches sequential oracle on a dangling graph") {
    val edges = smallEdges.toDF("src", "dst")
    val sources = Seq(1L, 4L)
    val ranks = Graph.personalizedPageRank(edges, sources, 10).collect()
    sources.zipWithIndex.foreach { case (src, i) =>
      val oracle = SeqPPR.run(smallEdges, src, 10)
      ranks.foreach { row =>
        val id = row.getLong(0)
        val got = row.getDouble(1 + i)
        assert(math.abs(got - oracle(id)) < 1e-12,
          s"source=$src id=$id got=$got want=${oracle(id)}")
      }
    }
  }

  test("mass conserves: ranks sum to 1 per source") {
    val edges = smallEdges.toDF("src", "dst")
    val ranks = Graph.personalizedPageRank(edges, Seq(1L), 7).collect()
    val total = ranks.map(_.getDouble(1)).sum
    assert(math.abs(total - 1.0) < 1e-12)
  }

  test("Gnutella regression: adjacency parse + 3 iterations vs oracle") {
    val path = "/root/reference/data/p2p-Gnutella08-adj.txt"
    assume(new java.io.File(path).exists())
    val edges = Graph.adjacencyEdges(spark, path)
    val local = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(local.nonEmpty)
    val oracle = SeqPPR.run(local, 0L, 3)
    val ranks = Graph.personalizedPageRank(edges, Seq(0L), 3).collect()
    ranks.foreach { row =>
      val id = row.getLong(0)
      assert(math.abs(row.getDouble(1) - oracle(id)) < 1e-12)
    }
  }

  test("connected components match union-find on a multi-component graph") {
    // components: {1,2,3,4,5} (from smallEdges), {10,11}, {20}... node 20
    // can't exist alone (no self-edges) so add 20-21
    val edges = (smallEdges ++ Seq((10L, 11L), (21L, 20L))).toDF("src", "dst")
    val got = Graph.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // union-find oracle
    val all = smallEdges ++ Seq((10L, 11L), (21L, 20L))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    all.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = (all.map(_._1) ++ all.map(_._2)).distinct
    val oracle = nodes.groupBy(find).values
      .map(g => g.toSet -> g.min).toMap
    oracle.foreach { case (members, minId) =>
      members.foreach(m => assert(got(m) == minId,
        s"node $m: got ${got(m)} want $minId"))
    }
  }

  test("topK returns k best per source, sorted") {
    val edges = smallEdges.toDF("src", "dst")
    val ranks = Graph.personalizedPageRank(edges, Seq(1L, 4L), 5)
    val top = Graph.topK(ranks, Seq(1L, 4L), 2).collect()
    assert(top.length == 4)
    val bySource = top.groupBy(_.getLong(0))
    bySource.foreach { case (_, rows) =>
      val rs = rows.map(_.getDouble(2))
      assert(rs.zip(rs.tail).forall { case (a, b) => a >= b })
    }
  }

  test("triangleCensus matches a brute-force enumeration") {
    val got = Graph.triangleCensus(spark, sf).collect()(0)
    // brute force: recompute the thresholded projection in memory
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_suppkey").distinct().collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val byOrder = li.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val co = scala.collection.mutable.Map[(Long, Long), Long]()
    byOrder.values.foreach { ss =>
      for (i <- ss.indices; j <- i + 1 until ss.size if ss(i) != ss(j))
        co((ss(i), ss(j))) = co.getOrElse((ss(i), ss(j)), 0L) + 1
    }
    // interpolated p90 (same formula as Spark percentile / quantile_cont)
    val cs = co.values.toArray.sorted.map(_.toDouble)
    val pos = 0.9 * (cs.length - 1)
    val (lo, f) = (pos.toInt, pos - pos.toInt)
    val thr = if (lo + 1 < cs.length) cs(lo) * (1 - f) + cs(lo + 1) * f
              else cs(lo)
    // .iterator first: collect on a Map producing pairs would rebuild a
    // Map and silently merge edges sharing a first endpoint
    val und = co.iterator.collect { case (p, c) if c >= thr => p }.toSet
    // degree-oriented enumeration, mirroring the operator
    val deg = und.toSeq.flatMap { case (u, v) => Seq(u, v) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ord = Ordering.Tuple2[Long, Long]
    def eta(x: Long) = (deg(x), x)
    val oriented = und.map { case (u, v) =>
      if (ord.lt(eta(u), eta(v))) (u, v) else (v, u) }
    val outAdj = oriented.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val wedges = for {
      (a, ts) <- outAdj.toSeq
      b <- ts; c <- ts if ord.lt(eta(b), eta(c))
    } yield (a, b, c)
    val tris = wedges.count { case (_, b, c) => oriented((b, c)) }
    assert(got.getLong(0) == und.size.toLong)
    assert(got.getLong(1) == wedges.size.toLong)
    assert(got.getLong(2) == tris.toLong)
  }

  test("PPR dangling-free fast path ≡ generic path on the fixture graph") {
    val e = Graph.customerSupplierEdges(spark, sf)
    // precondition the fast path claims: every vertex has out-edges
    val dangling = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .join(e.select(col("src").as("id")).distinct(), Seq("id"), "left_anti")
      .count()
    assert(dangling == 0L, "symmetrized graph must have no dangling nodes")
    def ranksOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val generic = ranksOf(Graph.personalizedPageRank(e, Seq(1L, 2L), 4))
    val fast = ranksOf(Graph.personalizedPageRank(e, Seq(1L, 2L), 4,
      danglingFree = true))
    assert(fast.keySet == generic.keySet)
    fast.foreach { case (id, (a0, a1)) =>
      val (b0, b1) = generic(id)
      assert(math.abs(a0 - b0) < 1e-12 && math.abs(a1 - b1) < 1e-12,
        s"rank mismatch at $id")
    }
  }

  test("triangleCensusEdges: degree orientation collapses hub fan-out") {
    // star: hub 0 — leaves 1..50, plus one leaf-leaf edge (1,2) closing
    // a single triangle. Degree orientation points every spoke INTO the
    // hub, so the hub owns no wedges at all: 1 wedge total, where the
    // old id-orientation (hub = smallest id = out-degree 50) enumerated
    // C(50,2) = 1225 — the fan-out bound that keeps a power-law hub's
    // self-join survivable at 100 TB.
    val e = ((1L to 50L).map(i => (0L, i)) :+ (1L, 2L)).toDF("u", "v")
    val got = Graph.triangleCensusEdges(e).collect()(0)
    assert(got.getLong(0) == 51L, "n_edges")
    assert(got.getLong(1) == 1L, s"oriented wedge volume, got ${got.getLong(1)}")
    assert(got.getLong(2) == 1L, "n_triangles")
  }

  test("one job per loop round, no broadcast of the pinned graph") {
    Graph.csGraph(spark, sf) // pinned before the counting starts
    def jobs(q: Int => Unit, rounds: Int): JobProbe =
      new JobProbe().run(spark)(q(rounds))
    val loops = Seq[(String, Int => Unit)](
      "pagerank_global" -> (r => Graph.pagerankGlobal(spark, sf, rounds = r).collect()),
      "ppr_top10" -> (r => Graph.pprTopK(spark, sf, Seq(1L, 2L), r, 10).collect()),
      "hits_scores" -> (r => Graph.hits(spark, sf, rounds = r).collect()))
    loops.foreach { case (name, q) =>
      val (a, b) = (jobs(q, 2), jobs(q, 3))
      assert(b.jobs.get - a.jobs.get == 1,
        s"$name: ${a.jobs.get} jobs at 2 rounds, ${b.jobs.get} at 3")
      val plans = b.plans.asScala.toSeq
      assert(plans.size > 3, s"$name: only ${plans.size} plans seen")
      assert(plans.map(PlanShape.broadcastsOfCached).sum == 0,
        s"$name broadcasts a cached relation")
    }
  }

  test("collecting hits_scores runs one job over its checkpointed vectors") {
    val df = Graph.hits(spark, sf)
    val p = new JobProbe().run(spark)(df.collect())
    assert(p.jobs.get == 1, s"${p.jobs.get} jobs to collect hits_scores")
    val plans = p.plans.asScala.toSeq
    assert(plans.nonEmpty, "the probe must see the collect's plan")
    plans.foreach { plan =>
      assert(PlanShape.ownExchanges(plan).isEmpty, s"an exchange in\n$plan")
      assert(!plan.toString.contains("might_contain"), s"a bloom filter in\n$plan")
    }
  }

  test("a second graph query reads the pinned graph, not lineitem/orders") {
    spark.catalog.clearCache()
    val first = new JobProbe().run(spark)(Graph.pagerankGlobal(spark, sf).collect())
    assert(first.fileScanStages.get > 0, "the probe must see the build's scans")
    Seq[() => Unit](
      () => Graph.pprTopK(spark, sf, Seq(1L, 2L), 8, 10).collect(),
      () => Graph.hits(spark, sf).collect(),
      () => Graph.csComponents(spark, sf, driverCutoff = 0).collect()).foreach { q =>
      val p = new JobProbe().run(spark)(q())
      assert(p.fileScanStages.get == 0,
        s"${p.fileScanStages.get} file-scan stages after the graph was pinned")
    }
  }

  test("the pinned graph is rebuilt after clearCache, an RDD unpersist, a rewrite, a new session") {
    val dir = tempDir()
    writeFixture(dir, Seq((1L, 1L, 10L), (2L, 2L, 20L), (3L, 1L, 30L)))
    val g1 = Graph.csGraph(spark, dir)
    assert(Graph.csGraph(spark, dir) eq g1, "reused within the session")
    assert(componentSizes(spark, dir) == Seq(2L, 3L))

    spark.catalog.clearCache()
    val g2 = Graph.csGraph(spark, dir)
    assert(g2 ne g1)
    assert(g2.edges.storageLevel != StorageLevel.NONE &&
      g2.vertices.storageLevel != StorageLevel.NONE, "rebuilt pinned")

    // an RDD-level sweep leaves the CacheManager entry but drops its blocks
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val g2b = Graph.csGraph(spark, dir)
    assert(g2b ne g2)
    assert(Graph.csGraph(spark, dir) eq g2b, "the rebuilt graph is reused")

    // order 3 moves to customer 20: one component of all four vertices
    writeFixture(dir, Seq((1L, 1L, 10L), (2L, 2L, 20L), (3L, 1L, 20L)))
    val g3 = Graph.csGraph(spark, dir)
    assert(g3 ne g2b)
    assert(componentSizes(spark, dir) == Seq(4L))

    val other = spark.newSession()
    assert(Graph.csGraph(other, dir) ne Graph.csGraph(spark, dir))
    assert(componentSizes(other, dir) == Seq(4L))
  }

  test("custkey >= supplierOffset fails loudly instead of colliding") {
    val dir = tempDir()
    writeFixture(dir, Seq((1L, 1L, 10L), (2L, 2L, 2000000L)))
    // hash_walks seeds from customer, conductance tags nations
    Seq((10L, 0L), (2000000L, 1L)).toDF("c_custkey", "c_nationkey")
      .write.parquet(s"$dir/customer.parquet")
    Seq((1L, 0L), (2L, 1L)).toDF("s_suppkey", "s_nationkey")
      .write.parquet(s"$dir/supplier.parquet")
    // raise_error throws org.apache.spark.SparkRuntimeException
    // (private[spark]); depending on the plan it reaches the driver as
    // is or as the cause of the aborted job's SparkException
    def collides(name: String)(q: => Any): Unit = {
      val e = intercept[Exception](q)
      val raised = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .find(_.getClass.getName == "org.apache.spark.SparkRuntimeException")
      assert(raised.exists(r => r.getMessage.contains("USER_RAISED_EXCEPTION") &&
        r.getMessage.contains("supplierOffset")), s"$name: $e")
    }
    collides("csGraph")(Graph.csGraph(spark, dir))
    Seq[(String, () => DataFrame)](
      "two_hop_reach" -> (() => Graph.twoHopReach(spark, dir)),
      "bfs_distances" -> (() => Graph.bfsDistances(spark, dir, 1L)),
      "eccentricity_sample" -> (() => Graph.eccentricitySample(spark, dir)),
      "harmonic_centrality" -> (() => Graph.harmonicCentrality(spark, dir)),
      "shortest_path_counts" -> (() => Graph.shortestPathCounts(spark, dir)),
      "betweenness_sample" -> (() => Graph.betweennessSample(spark, dir)),
      "katz_centrality" -> (() => Graph.katzCentrality(spark, dir)),
      "eigenvector_centrality" -> (() => Graph.eigenvectorCentrality(spark, dir)),
      "k_core" -> (() => Graph.kCore(spark, dir)),
      "label_prop" -> (() => Graph.labelPropagation(spark, dir)),
      "modularity" -> (() => Graph.modularity(spark, dir)),
      "vote_rank" -> (() => Graph.voteRank(spark, dir)),
      "weighted_ppr" -> (() => Graph.weightedPpr(spark, dir)),
      "salsa_scores" -> (() => Graph.salsaScores(spark, dir)),
      "adamic_adar" -> (() => Graph.adamicAdar(spark, dir)),
      "resource_allocation" -> (() => Graph.resourceAllocation(spark, dir)),
      "jaccard_link_pred" -> (() => Graph.jaccardLinkPred(spark, dir)),
      "preferential_attachment" -> (() => Graph.preferentialAttachment(spark, dir)),
      "butterfly_count" -> (() => Graph.butterflyCount(spark, dir)),
      "weighted_sssp" -> (() => Graph.weightedSssp(spark, dir)),
      "graph_backbone" -> (() => Graph.graphBackbone(spark, dir)),
      "louvain_move_gains" -> (() => Graph.louvainMoveGains(spark, dir)),
      "hash_walks" -> (() => Graph.hashWalks(spark, dir)),
      "assortativity" -> (() => Graph.assortativity(spark, dir)),
      "graph_summary" -> (() => Graph.graphSummary(spark, dir)),
      "degree_distribution" -> (() => Graph.degreeDistribution(spark, dir)),
      "degree_anonymity" -> (() => Graph.degreeAnonymity(spark, dir)),
      "hill_tail_index" -> (() => Graph.hillTailIndex(spark, dir)),
      "percolation_threshold" -> (() => Graph.percolationThreshold(spark, dir)),
      "avg_neighbor_degree" -> (() => Graph.avgNeighborDegree(spark, dir)),
      "effective_diameter" -> (() => Graph.effectiveDiameter(spark, dir)),
      "conductance" -> (() => Graph.conductance(spark, dir))).foreach {
      case (name, q) =>
        // the check is an expression of the edge relation: it fires in
        // whichever job first reads it, at the latest the collect
        collides(name)(q().collect())
        CacheScope.release(spark, blocking = true)
    }
  }

  test("the supplier offset is applied in one place in Graph") {
    // a new hand-built customer⇄supplier join would bypass the
    // relation's inline offset check
    val src = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths
      .get("src/main/scala/graft/operators/Graph.scala")))
    val offsetApplied = java.util.regex.Pattern.quote(
      "l_suppkey\") + SupplierOffset").r
    assert(offsetApplied.findAllMatchIn(src).size == 1)
  }

  test("pinned loops exchange their raw edges once and never re-shuffle the pinned copy") {
    // 150k distinct customer-supplier pairs: 300k edges, enough for two
    // loop partitions. Broadcast joins are off so every join shuffles
    // the way it does once the edges outgrow a broadcast (sf0.1).
    val dir = tempDir()
    writeFixture(dir, (0L until 150000L).map(i => (i, i % 997, i % 20000)))
    val loops = Seq[(String, () => Any)](
      "bfs_distances" -> (() => Graph.bfsDistances(spark, dir, 1L).collect()),
      "eccentricity_sample" -> (() => Graph.eccentricitySample(spark, dir).collect()),
      "shortest_path_counts" -> (() => Graph.shortestPathCounts(spark, dir).collect()),
      "betweenness_sample" -> (() => Graph.betweennessSample(spark, dir).collect()),
      "katz_centrality" -> (() => Graph.katzCentrality(spark, dir).collect()),
      "eigenvector_centrality" -> (() => Graph.eigenvectorCentrality(spark, dir).collect()),
      "label_prop" -> (() => Graph.labelPropagation(spark, dir).collect()),
      "modularity" -> (() => Graph.modularity(spark, dir).collect()))
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(threshold)
    spark.conf.set(threshold, "-1")
    try loops.foreach { case (name, q) =>
      val plans = new JobProbe().run(spark)(q()).plans.asScala.toSeq
      CacheScope.release(spark, blocking = true)
      val caches = PlanShape.distinctRefs(plans.flatMap(PlanShape.caches))
      val xs = PlanShape.distinctRefs(plans.flatMap(PlanShape.exchanges))
      def readers(of: Seq[SparkPlan]): Seq[Exchange] = xs.filter(x =>
        PlanShape.cacheRead(x.child).exists(c => of.exists(_ eq c)))
      val pins = readers(caches.filter(PlanShape.readsFiles))
      assert(pins.size == 1, s"$name: ${pins.size} exchanges of the raw edges")
      assert(pins.head.outputPartitioning.numPartitions == 2, name)
      val pinned = caches.filter(c =>
        PlanShape.ownExchanges(c).exists(_ eq pins.head))
      assert(pinned.size == 1, s"$name: no cache holds the pinned copy")
      val again = readers(pinned)
      assert(again.isEmpty, s"$name re-shuffles the pinned edges: " +
        again.map(_.simpleString(3)).mkString("; "))
    } finally spark.conf.set(threshold, prev)
  }

  test("components loop over the pinned edges matches union-find") {
    val distributed = Graph.csComponents(spark, sf, driverCutoff = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val driver = Graph.csComponents(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Graph.csGraph(spark, sf).nEdges <= 10000, "fixture takes the driver path")
    assert(distributed == driver)
  }
}
