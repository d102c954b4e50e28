package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Events, Graph, Ml, Similarity, TextStats}

/** Brute-force in-memory oracles for the round-4 operator batch (the
  * driver hash-checks values against DuckDB; these pin semantics on the
  * tiny fixture and run in CI without DuckDB).
  */
class Round4OpsSpec extends SparkSpec {

  private def edges(dir: String = sf): Array[(Long, Long)] =
    Graph.customerSupplierEdges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))

  test("bfs_distances: matches driver-side BFS from the same source") {
    val e = edges()
    val adj = e.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).toSet }
    val src = 1L
    var dist = Map(src -> 0)
    var frontier = Set(src)
    for (h <- 1 to 4) {
      val next = frontier.flatMap(adj.getOrElse(_, Set.empty))
        .filterNot(dist.contains)
      dist ++= next.map(_ -> h)
      frontier = next
    }
    val got = Graph.bfsDistances(spark, sf, src).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == dist, s"got ${got.size} rows, want ${dist.size}")
  }

  test("two_hop_reach: matches brute-force capped reach") {
    val e = edges()
    val adj = e.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).toSet }
    val deg = e.groupBy(_._1).map { case (s, xs) => s -> xs.length }
    val want = adj.map { case (id, nbrs) =>
      val two = nbrs.filter(deg(_) <= 64).flatMap(adj.getOrElse(_, Set.empty))
      id -> ((nbrs ++ two) - id).size
    }
    val got = Graph.twoHopReach(spark, sf, k = 1000000).collect()
      .map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    assert(got == want.filter(_._2 > 0))
  }

  test("assortativity: matches the direct Pearson formula over edge ends") {
    import spark.implicits._
    // a perfect matching (customers 10, 20 each linked to one supplier):
    // every edge end has degree 1, so the degree variance is 0
    val matching = java.nio.file.Files.createTempDirectory("matching").toString
    Seq((1L, 1L), (2L, 2L)).toDF("l_orderkey", "l_suppkey")
      .write.parquet(s"$matching/lineitem.parquet")
    Seq((1L, 10L), (2L, 20L)).toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$matching/orders.parquet")
    for (dir <- Seq(sf, matching)) {
      val e = edges(dir)
      val deg = e.groupBy(_._1).map { case (s, xs) => s -> xs.length.toLong }
      val ends = e.map { case (a, b) => (deg(a), deg(b)) }
      val m = ends.length.toDouble
      val sx = ends.map(_._1).sum.toDouble
      val sxx = ends.map(x => x._1 * x._1).sum.toDouble
      val sxy = ends.map(x => x._1 * x._2).sum.toDouble
      val mean = sx / m
      val va = sxx / m - mean * mean
      val want = ((sxy / m - mean * mean) / va * 1e6 + 0.5).floor / 1e6
      val row = Graph.assortativity(spark, dir).collect().head
      assert(row.getLong(0) == ends.length)
      // undefined at zero variance: NULL, as the DuckDB oracle returns
      if (va == 0) assert(row.isNullAt(1), dir) else assert(row.getDouble(1) == want)
    }
  }

  test("decision_stump: best threshold beats every other threshold") {
    val rows = Tables.lineitem(spark, sf)
      .select(col("l_quantity").cast("long"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L)).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val tn = rows.length.toLong
    val tp = rows.map(_._2).sum
    def acc(t: Long): Long = {
      val cp = rows.filter(_._1 <= t).map(_._2).sum
      val cn = rows.count(_._1 <= t).toLong
      math.max(cp + (tn - tp) - (cn - cp), (tp - cp) + (cn - cp))
    }
    val best = Ml.decisionStump(spark, sf).collect().head
    val (bt, bc) = (best.getLong(0), best.getLong(1))
    assert(bc == acc(bt))
    rows.map(_._1).distinct.foreach { t =>
      assert(acc(t) < bc || (acc(t) == bc && t >= bt),
        s"threshold $t (acc ${acc(t)}) should not beat $bt (acc $bc)")
    }
  }

  test("containment_pairs: directed, asymmetric, and threshold-exact") {
    val got = Dedup.containmentPairs(spark, sf, 0.5).collect()
    got.foreach { r =>
      assert(r.getLong(0) != r.getLong(1), "self-pairs excluded")
      assert(r.getDouble(2) >= 0.5 && r.getDouble(2) <= 1.0)
    }
    // each contained doc appears exactly once (best container chosen)
    val ids = got.map(_.getLong(0))
    assert(ids.distinct.length == ids.length)
  }

  test("acf_daily: lag-0 sanity via variance, bounded magnitudes") {
    val rows = Events.acfDaily(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 7)
    rows.foreach { r =>
      val a = r.getDouble(2)
      assert(a >= -1.0000005 && a <= 1.0000005, s"acf out of range: $a")
    }
  }

  test("seasonal_hourly: shares sum to ~1 per type, dense 24-hour spine") {
    val rows = Events.seasonalHourly(spark, sf).collect()
    val byType = rows.groupBy(_.getString(0))
    byType.foreach { case (t, rs) =>
      assert(rs.length == 24, s"$t spine not dense: ${rs.length}")
      val tot = rs.map(_.getDouble(3)).sum
      assert(math.abs(tot - 1.0) < 1e-4, s"$t shares sum to $tot")
    }
  }

  test("mutual_information: non-negative and below min marginal entropy") {
    val row = Events.mutualInformation(spark, sf).collect().head
    val mi = row.getDouble(0)
    assert(mi >= -1e-4, s"MI must be ~non-negative, got $mi")
    // H(type) <= ln(5) for the 5-type fixture; MI <= min(H) always
    assert(mi <= math.log(24.0) + 1e-6)
  }

  test("schema_drift: slice counts cover the table") {
    val rows = Events.schemaDrift(spark, sf).collect()
    val total = rows.map(r => r.getLong(1) + r.getLong(2)).sum
    assert(total == Tables.events(spark, sf).count())
  }

  test("bpe_pair_counts: pairs are 2-char, counts positive descending") {
    val rows = TextStats.bpePairCounts(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getString(0).length == 2))
    val ns = rows.map(_.getLong(1))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
  }

  test("embedding_prototypes: unit-ish prototypes, one row per (label,pos)") {
    val rows = Similarity.normalizedPrototypes(spark, sf).collect()
    val keys = rows.map(r => (r.getInt(0), r.getInt(1)))
    assert(keys.distinct.length == keys.length)
    val dims = rows.groupBy(_.getInt(0)).values.map(_.length).toSet
    assert(dims == Set(64), s"every label must have 64 dims: $dims")
  }

  test("frequent_pairs: matches brute-force basket pair counts") {
    val baskets = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted).toMap
      .filter(_._2.length <= 30)
    val want = baskets.values.flatMap(ps =>
      for (i <- ps.indices; j <- i + 1 until ps.length)
        yield (ps(i), ps(j)))
      .groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= 3).toMap
    val got = operators.Relational.frequentPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == want)
  }

  test("q2_mincost_shape: each reported supplier offers the true min") {
    val li = Tables.lineitem(spark, sf)
      .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.floor(r.getDouble(2) * 100 + 0.5).toLong / r.getDouble(3)))
    val minBy = li.groupBy(_._1).view.mapValues(_.map(_._3).min).toMap
    val got = operators.Relational.q2MincostShape(spark, sf).collect()
    got.foreach { r =>
      val (pk, supp) = (r.getLong(0), r.getLong(1))
      val offered = li.filter(x => x._1 == pk && x._2 == supp).map(_._3).min
      assert(offered == minBy(pk), s"part $pk: supplier $supp not minimal")
    }
  }

  test("rolling_median_daily: matches driver-side sliding median") {
    val rows = Events.rollingMedianDaily(spark, sf).collect()
      .sortBy(_.getLong(0))
    val ys = rows.map(_.getLong(1))
    rows.zipWithIndex.foreach { case (r, i) =>
      val frame = ys.slice(math.max(0, i - 6), i + 1).sorted
      val want = frame((frame.length + 1) / 2 - 1)
      assert(r.getLong(2) == want, s"day $i: ${r.getLong(2)} != $want")
    }
  }

  test("pagerank_global: ranks positive, total mass conserved pre-cut") {
    val top = Graph.pagerankGlobal(spark, sf, k = 1000000).collect()
    assert(top.nonEmpty)
    top.foreach(r => assert(r.getDouble(1) > 0))
    val mass = top.map(_.getDouble(1)).sum
    assert(math.abs(mass - 1.0) < 1e-4, s"mass $mass should be ~1")
  }

  test("weighted_ppr: mass conserved; reduces to PPR on unit weights") {
    val top = Graph.weightedPpr(spark, sf, k = 1000000).collect()
    val mass = top.map(_.getDouble(1)).sum
    assert(math.abs(mass - 1.0) < 1e-4, s"mass $mass should be ~1")
    top.foreach(r => assert(r.getDouble(1) >= 0))
  }

  test("eccentricity_sample: ring sizes match single-source BFS") {
    val rows = Graph.eccentricitySample(spark, sf, Seq(1L), 4).collect()
      .map(r => r.getInt(1) -> r.getLong(2)).toMap
    val e = edges()
    val adj = e.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).toSet }
    var dist = Map(1L -> 0)
    var frontier = Set(1L)
    for (h <- 1 to 4) {
      val next = frontier.flatMap(adj.getOrElse(_, Set.empty))
        .filterNot(dist.contains)
      dist ++= next.map(_ -> h)
      frontier = next
    }
    val want = dist.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(rows == want)
  }

  test("hll_rollup: estimates within budget (flags all true)") {
    val rows = operators.Relational.hllRollup(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getBoolean(3),
      s"${r.getString(0)}: merged HLL estimate outside 5% of exact"))
  }

  test("zonemap_prune: bucket accounting consistent, pruning non-trivial") {
    val r = operators.Relational.zonemapPruneReport(spark, sf).collect().head
    assert(r.getLong(0) == r.getLong(1) + r.getLong(2),
      "scanned + skipped must equal bucket count")
    assert(r.getLong(3) <= r.getLong(4))
    assert(r.getLong(2) > 0,
      "z-order layout should let the range predicate skip some buckets")
  }

  test("eventually_follows: matches brute-force event pair scan") {
    val evs = Tables.events(spark, sf)
      .selectExpr("user_id", "event_type",
        "unix_micros(cast(ts as timestamp)) as us", "event_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val want = evs.groupBy(_._1).values.flatMap { es =>
      (for {
        x <- es; y <- es
        if x._2 != y._2 && (x._3 < y._3 || (x._3 == y._3 && x._4 < y._4))
      } yield (x._2, y._2)).distinct
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = Events.eventuallyFollows(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == want)
  }

  test("bounce_rate: bounces never exceed sessions; rate in [0,1]") {
    val rows = Events.bounceRate(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
  }

  test("mad_anomalies: every flagged cell is a genuine MAD outlier") {
    val daily = Tables.events(spark, sf)
      .selectExpr("event_type",
        "floor(unix_timestamp(ts) / 86400) as day").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    def medianD(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    val byType = daily.groupBy(_._1._1).view
      .mapValues(_.values.map(_.toDouble).toSeq).toMap
    Events.madAnomalies(spark, sf).collect().foreach { r =>
      val ys = byType(r.getString(0))
      val med = medianD(ys)
      val mad = medianD(ys.map(y => math.abs(y - med)))
      val score = (r.getLong(2) - med) / mad
      assert(math.abs(score) > 2.9,
        s"${r.getString(0)}/${r.getLong(1)} score $score not an outlier")
    }
  }

  test("psi_drift: zero drift on identical slices, per-type rows") {
    val rows = Events.psiDrift(spark, sf).collect()
    assert(rows.nonEmpty)
    // PSI is non-negative by construction (Gibbs' inequality on the
    // floored proportions, up to the 1e-6 term quantization)
    rows.foreach(r => assert(r.getDouble(1) >= -1e-5,
      s"${r.getString(0)}: psi ${r.getDouble(1)} negative"))
  }

  test("negative_samples: k per vec, never own label, hash-deterministic") {
    val emb = Tables.embeddings(spark, sf)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = operators.Curation.negativeSamples(spark, sf).collect()
    val byVec = rows.groupBy(_.getLong(0))
    assert(byVec.size == emb.size, "every vector gets negatives")
    byVec.foreach { case (v, rs) =>
      assert(rs.length == 3)
      rs.foreach(r => assert(r.getInt(3) != emb(v),
        s"vec $v sampled its own label"))
    }
    val again = operators.Curation.negativeSamples(spark, sf).collect()
    assert(rows.map(_.toString).sorted.sameElements(
      again.map(_.toString).sorted))
  }

  test("hard_negatives: reported pair is the true cross-label max") {
    val emb = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v",
        "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getInt(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val got = operators.Similarity.hardNegatives(spark, sf, 10).collect()
    got.foreach { r =>
      val q = emb.find(_._1 == r.getLong(0)).get
      val best = emb.filter(_._3 != q._3)
        .map(e => (BigDecimal(cos(q._2, e._2)).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble, e._1))
        .max(Ordering.Tuple2(Ordering.Double.TotalOrdering,
          Ordering.Long.reverse))
      assert(r.getLong(1) == best._2,
        s"query ${r.getLong(0)}: got ${r.getLong(1)}, want ${best._2}")
    }
  }

  test("clustering_coeff: coefficients in [0,1], degree >= 2") {
    val rows = Graph.clusteringCoeff(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(1) >= 2)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      // triangles bounded by pairs of neighbors
      assert(r.getLong(2) <= r.getLong(1) * (r.getLong(1) - 1) / 2)
    }
  }

  test("shortest_path_counts: matches driver-side BFS with multiplicity") {
    val e = edges()
    val adj = e.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2) }
    var sigma = Map(1L -> 1L)
    var dist = Map(1L -> 0)
    var frontier = Set(1L)
    for (h <- 1 to 4) {
      val contrib = scala.collection.mutable.Map.empty[Long, Long]
      frontier.foreach { u =>
        adj.getOrElse(u, Array.empty[Long]).foreach { v =>
          if (!dist.contains(v))
            contrib(v) = contrib.getOrElse(v, 0L) + sigma(u)
        }
      }
      dist ++= contrib.keys.map(_ -> h)
      sigma ++= contrib
      frontier = contrib.keySet.toSet
    }
    val got = Graph.shortestPathCounts(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    val want = dist.map { case (id, d) => id -> (d, sigma(id)) }
    assert(got == want)
  }

  test("pair_lift: lift recomputed from supports matches") {
    val rows = operators.Relational.pairLift(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(3) > 0))
    // lift ordering is descending
    val ls = rows.map(_.getDouble(3))
    assert(ls.zip(ls.tail).forall { case (a, b) => a >= b })
  }

  test("mp_quantiles sketch: rank error bounded under adversarial merges") {
    val agg = new functions.Aggregators.MpQuantileAgg(128)
    val n = 20000
    // deterministic non-uniform data: squares mod a prime, so values
    // cluster — a uniform-only test would hide rank-translation bugs
    val data = (0 until n).map(i => ((i.toLong * i) % 9973).toDouble)
    // adversarial merge tree: many tiny partials merged pairwise
    val partials = data.grouped(97).map(chunk =>
      chunk.foldLeft(agg.zero)(agg.reduce)).toSeq
    val sketch = partials.reduce(agg.merge)
    val est = agg.finish(sketch).toMap
    val sorted = data.sorted
    (1 to 9).foreach { i =>
      val p = i / 10.0
      val e = est(p)
      val rank = sorted.count(_ <= e).toDouble / n
      assert(math.abs(rank - p) < 0.05,
        f"p=$p est=$e%.1f has rank $rank%.3f (error ${rank - p}%.3f)")
    }
  }

  test("session_entropy: bands cover all sessions, entropy >= 0") {
    val rows = Events.sessionEntropy(spark, sf).collect()
    assert(rows.nonEmpty)
    val totalSessions = rows.map(_.getLong(1)).sum
    val sessCount = Events.sessionize(spark, sf).count()
    assert(totalSessions == sessCount)
    rows.foreach { r =>
      assert(r.getDouble(2) >= -1e-9)
      assert(r.getDouble(2) <= math.log(5.0) + 1e-6)
    }
  }

  test("harmonic_centrality: consistent with the eccentricity rings") {
    val rings = Graph.eccentricitySample(spark, sf, Seq(1L), 4).collect()
      .map(r => r.getInt(1) -> r.getLong(2)).toMap
    val want = (1 to 4).map(d => rings.getOrElse(d, 0L).toDouble / d).sum
    val row = Graph.harmonicCentrality(spark, sf, Seq(1L), 4)
      .collect().head
    assert(row.getDouble(1) == math.floor(want * 1e6 + 0.5) / 1e6)
    assert(row.getLong(2) == (1 to 4).map(rings.getOrElse(_, 0L)).sum)
  }

  test("graph_summary: counts match the edge list") {
    val e = edges()
    val r = Graph.graphSummary(spark, sf).collect().head
    assert(r.getLong(0) == e.map(_._1).distinct.length)
    assert(r.getLong(1) == e.length / 2)
    assert(r.getLong(2) == e.groupBy(_._1).values.map(_.length).max)
  }

  test("intersession_gaps: all gaps exceed the session gap rule") {
    val r = Events.intersessionGaps(spark, sf).collect().head
    assert(r.getLong(1) > 1800, "min inter-session gap must exceed 30min")
    assert(r.getLong(1) <= r.getLong(2) && r.getLong(2) <= r.getLong(3)
      && r.getLong(3) <= r.getLong(4))
  }

  test("k_anonymity: accounting consistent") {
    val r = Events.kAnonymity(spark, sf).collect().head
    assert(r.getLong(1) <= r.getLong(0),
      "violating classes bounded by class count")
    assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
  }

  test("join_cardinality: forecast equals the actual join size") {
    val r = operators.Relational.joinCardinalityForecast(spark, sf)
      .collect().head
    val actual = Tables.orders(spark, sf).join(
      Tables.lineitem(spark, sf),
      org.apache.spark.sql.functions.col("o_orderkey") ===
        org.apache.spark.sql.functions.col("l_orderkey")).count()
    assert(r.getLong(0) == actual,
      s"forecast ${r.getLong(0)} != actual join $actual")
  }

  test("heaps_law: V(n) monotone, beta in (0,1]") {
    val rows = operators.TextStats.heapsLaw(spark, sf).collect()
      .sortBy(_.getInt(0))
    assert(rows.length == 10)
    val vs = rows.map(_.getLong(2))
    assert(vs.zip(vs.tail).forall { case (a, b) => a <= b })
    // the 50-doc fixture's word-soup vocab saturates in bucket 1, so
    // the fitted exponent can be exactly 0 here; the bound is the spec
    val beta = rows.head.getDouble(3)
    assert(beta >= 0.0 && beta <= 1.0, s"implausible Heaps beta $beta")
  }

  test("embedding_drift: cosines bounded, one row per split label") {
    val rows = Similarity.embeddingDrift(spark, sf).collect()
    assert(rows.nonEmpty)
    // at sf0.001 each half holds ~2 random 64-dim vectors per label,
    // so prototype agreement is noise — only the bound is invariant
    // (value parity is the DuckDB oracle's job at sf0.01)
    rows.foreach { r =>
      val c = r.getDouble(1)
      assert(c >= -1.0000005 && c <= 1.0000005)
    }
    val labels = rows.map(_.getInt(0))
    assert(labels.distinct.length == labels.length)
  }
}
