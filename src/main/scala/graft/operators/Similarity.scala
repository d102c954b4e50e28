package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{CacheScope, Tables}

/** Similarity-search tier (north-star extras): cosine top-k over the
  * `embeddings` table — brute force as the exact baseline, IVF-style
  * coarse quantization as the scale path.
  *
  * Cosine is built from `zip_with` + `aggregate` higher-order functions
  * in double precision (sequential left-to-right sum — deterministic and
  * engine-portable); everything stays inside codegen, no UDF.
  */
object Similarity {

  /** Double-precision cosine similarity of two float-array columns —
    * fused custom Expression (one pass, no intermediate arrays, stays in
    * whole-stage codegen). Same left-to-right double accumulation as the
    * built-in composition below, so results are bit-identical.
    */
  def cosine(a: Column, b: Column): Column =
    graft.expressions.VectorExpressions.cosineSim(a, b)

  /** Pure-built-ins composition (`aggregate` ∘ `zip_with`) kept as the
    * no-custom-code reference implementation; allocates two intermediate
    * arrays per comparison.
    */
  def cosineBuiltins(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    dot(a, b) / sqrt(dot(a, a)) / sqrt(dot(b, b))
  }

  /** Exact brute-force top-k neighbors for query vectors `vec_id <
    * numQueries`. The query side is broadcast (tiny); the corpus is
    * scanned once — at 100 TB this is the per-partition flat scan that
    * any ANN variant must beat, and the correctness oracle for them.
    */
  def bruteForceTopK(s: SparkSession, dir: String,
                     numQueries: Int, k: Int): DataFrame =
    exactTopK(Tables.embeddings(s, dir).select("vec_id", "embedding"),
      numQueries, k)
      .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"))

  /** [[bruteForceTopK]] over `emb` (`vec_id`, `embedding`), unrounded and
    * ranked: `(query_id, vec_id, sim, rank)`, the ground truth the
    * recall sweeps rank the IVF candidates against.
    */
  private def exactTopK(emb: DataFrame, numQueries: Int, k: Int): DataFrame =
    topK(emb.crossJoin(broadcast(queries(emb, numQueries)))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("embedding"), col("qv")).as("sim")), k)

  /** The query vectors `vec_id < numQueries` as `(query_id, qv)`. */
  private def queries(emb: DataFrame, numQueries: Int): DataFrame =
    emb.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))

  /** Each query's `k` most similar vectors by (`sim` desc, `vec_id`),
    * every column kept plus their `rank` (1 = nearest).
    */
  private def topK(scored: DataFrame, k: Int): DataFrame =
    scored.withColumn("rank", row_number().over(Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rank") <= k)

  /** Embedding-cosine near-duplicate pairs: all vector pairs with
    * similarity ≥ threshold. Exact all-pairs here (corpus fits one
    * broadcast at test SFs); the 100 TB path reuses the LSH machinery
    * already in the engine — random-hyperplane sign banding (SimHash
    * over projections) or the IVF cluster assignment below as the
    * candidate key, with this exact fused-cosine check verifying
    * candidates only.
    */
  def embeddingPairs(s: SparkSession, dir: String,
                     threshold: Double): DataFrame = {
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val l = emb.select(col("vec_id").as("vec_a"), col("embedding").as("va"))
    val r = emb.select(col("vec_id").as("vec_b"), col("embedding").as("vb"))
    l.join(broadcast(r), col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        cosine(col("va"), col("vb")).as("sim"))
      .filter(col("sim") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("sim"), 6).as("sim"))
  }

  /** Random-hyperplane LSH near-dup pairs — the 100 TB path for
    * embedding dedup: 16 sign-bits per vector (plane weights ±1 derived
    * from a deterministic multiplicative hash of (plane, dim), so the
    * whole pipeline — including the oracle — is reproducible arithmetic),
    * banded 4×4 bits; candidates share a band value, then the exact
    * fused-cosine check keeps pairs ≥ threshold. Only bucket-mates are
    * ever compared: the all-pairs O(n²) of `embeddingPairs` becomes
    * O(Σ bucket²) with bucket sizes driven by the data's cone structure.
    */
  def embeddingPairsLsh(s: SparkSession, dir: String, threshold: Double,
                        planes: Int = 16, bands: Int = 4): DataFrame = {
    require(planes % bands == 0, "bands must divide planes")
    val perBand = planes / bands
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    // sign(p,d) = 1-2·bit13(((p·128+d)·2654435761) mod 2^31): cheap,
    // deterministic, SQL-restatable pseudo-random ±1 plane weights
    val sig = emb.select(col("vec_id"), col("embedding"), expr(
      s"""transform(sequence(0, ${planes - 1}), p ->
            CASE WHEN aggregate(sequence(0, size(embedding) - 1), 0.0D, (acc, d) ->
              acc + CAST(element_at(embedding, d + 1) AS DOUBLE) *
                (1 - 2 * ((((p * 128 + d) * 2654435761) div 8192) % 2)))
              >= 0.0D THEN 1 ELSE 0 END)""").as("bits"))
    val banded = sig.select(col("vec_id"), col("embedding"), expr(
      s"""explode(transform(sequence(0, ${bands - 1}), b ->
            struct(b AS band,
              aggregate(slice(bits, b * $perBand + 1, $perBand), 0,
                (acc, x) -> acc * 2 + x) AS bv)))""").as("t"))
      .select(col("vec_id"), col("embedding"), col("t.band"), col("t.bv"))
      .persist()
    CacheScope.register(banded) // eager: both sides of the self-join read it
    val l = banded.select(col("vec_id").as("vec_a"),
      col("embedding").as("va"), col("band"), col("bv"))
    val r = banded.select(col("vec_id").as("vec_b"),
      col("embedding").as("vb"), col("band"), col("bv"))
    l.join(r, Seq("band", "bv"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        cosine(col("va"), col("vb")).as("sim"))
      .distinct()
      .filter(col("sim") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("sim"), 6).as("sim"))
  }

  /** IVF-style approximate top-k: coarse centroids = the first
    * `numCentroids` corpus vectors (deterministic stand-in for k-means —
    * the assignment/probe machinery is identical); every vector is
    * assigned to its nearest centroid once ([[invertedLists]]); a query
    * probes only its `nprobe` nearest centroids' inverted lists. Search
    * cost drops by ~numCentroids/nprobe at equal plumbing.
    */
  def ivfTopK(s: SparkSession, dir: String, numQueries: Int, k: Int,
              numCentroids: Int = 16, nprobe: Int = 4): DataFrame = {
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val cent = centroids(emb, numCentroids)
    val probes = nearestCentroids(queries(emb, numQueries), "query_id", "qv",
      cent, nprobe)
    topK(candidates(invertedLists(emb, cent), broadcast(probes))
      .select(col("query_id"), col("vec_id"),
        cosine(col("embedding"), col("qv")).as("sim")), k)
      .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"))
  }

  /** IVF coarse centroids: the first `c` corpus vectors as
    * `(centroid_id, cv)`.
    */
  private def centroids(emb: DataFrame, c: Int): DataFrame =
    emb.filter(col("vec_id") < c)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cv"))

  /** The `n` nearest centroids of every row of `rows` by cosine of its
    * `vec` column, ties to the smaller `centroid_id`: every input
    * column, plus `centroid_id` and its rank `pr` (1 = nearest). The
    * centroids broadcast onto one scan of `rows`; the top-n per `id` is
    * a partial WindowGroupLimit, an Exchange hashpartitioning(`id`), then
    * the final WindowGroupLimit and the Window. So every row crosses one
    * shuffle carrying every column it keeps: the corpus assignment
    * ships each embedding once.
    */
  private def nearestCentroids(rows: DataFrame, id: String, vec: String,
                               cent: DataFrame, n: Int): DataFrame =
    rows.crossJoin(broadcast(cent))
      .select(rows.columns.map(col) :+ col("centroid_id") :+
        cosine(col(vec), col("cv")).as("csim"): _*)
      .withColumn("pr", row_number().over(Window.partitionBy(id)
        .orderBy(col("csim").desc, col("centroid_id"))))
      .filter(col("pr") <= n)
      .drop("csim")

  /** IVF inverted lists: every corpus row of `emb` (`vec_id`,
    * `embedding`, …) with its nearest centroid's `centroid_id`.
    */
  private def invertedLists(emb: DataFrame, cent: DataFrame): DataFrame =
    nearestCentroids(emb, "vec_id", "embedding", cent, 1).drop("pr")

  /** IVF candidates: every vector of a probed inverted list paired with
    * the query (`query_id`) that probed it, the query itself excluded.
    * The caller hints the probe side: broadcast for a bounded query set,
    * shuffle_hash when every vector is a query.
    */
  private def candidates(lists: DataFrame, probes: DataFrame): DataFrame =
    lists.join(probes, Seq("centroid_id"))
      .filter(col("vec_id") =!= col("query_id"))

  /** IVF nprobe tuning sweep (W492): recall@k AND candidate volume at
    * nprobe ∈ {1,2,4,8} from ONE assignment pass — the table an ANN
    * deployment reads to pick its operating point (recall rises with
    * nprobe, cost rises linearly; the knee is the config). The probe
    * RANK computed once per (query, centroid) serves every sweep
    * point (candidates at nprobe p = rank ≤ p), so the sweep costs
    * one probe-list search at the LARGEST nprobe, not |sweep| passes
    * — the same one-pass-many-cutoffs shape as
    * `Dedup.dedupThresholdSweep`. Ground truth is the engine's own
    * brute-force top-k over the BOUNDED query set (how recall is
    * estimated at any corpus size); recall is an exact integer ratio
    * divided once.
    */
  def nprobeRecallSweep(s: SparkSession, dir: String,
                        numQueries: Int = 10, k: Int = 10,
                        numCentroids: Int = 16,
                        probes: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val cent = centroids(emb, numCentroids)
    val plist = nearestCentroids(queries(emb, numQueries), "query_id", "qv",
      cent, probes.max)
    val swept = candidates(invertedLists(emb, cent), broadcast(plist))
      .select(col("query_id"), col("vec_id"), col("pr"),
        cosine(col("embedding"), col("qv")).as("sim"))
      .select(col("query_id"), col("vec_id"), col("sim"), col("pr"),
        explode(array(probes.map(p => lit(p.toLong)): _*)).as("nprobe"))
      .filter(col("pr") <= col("nprobe"))
    val wTop = Window.partitionBy("nprobe", "query_id")
      .orderBy(col("sim").desc, col("vec_id"))
    val approx = swept
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= k)
      .select("nprobe", "query_id", "vec_id")
    val truth = bruteForceTopK(s, dir, numQueries, k)
      .select("query_id", "vec_id")
    val nCand = swept.groupBy("nprobe")
      .agg(count(lit(1)).as("n_candidates"))
    approx.join(truth, Seq("query_id", "vec_id"))
      .groupBy("nprobe").agg(count(lit(1)).as("hits"))
      .join(nCand, Seq("nprobe"), "right")
      .select(col("nprobe"), col("n_candidates"),
        Events.q(coalesce(col("hits"), lit(0L)).cast("double") /
          lit((numQueries * k).toDouble), 6).as("recall"))
      .orderBy("nprobe")
  }

  /** ANN quality gate (W221): per-query recall@`k` of the IVF index
    * against the exact brute-force top-k — THE number that decides
    * whether an approximate index ships (quantizeInt8's reconstruction
    * error is the memory side of the same budget). Both rankings come
    * from the engine's own operators with identical tiebreaks, joined
    * on (query, neighbor); recall = |IVF ∩ exact| / k as an exact
    * integer ratio divided once. At 100 TB the ground truth comes from
    * the same brute-force kernel on a SAMPLED query set — recall is
    * always estimated on a probe sample, which is precisely this plan.
    */
  def annRecall(s: SparkSession, dir: String, numQueries: Int = 10,
                k: Int = 5, numCentroids: Int = 16,
                nprobe: Int = 4): DataFrame = {
    val exact = bruteForceTopK(s, dir, numQueries, k)
      .select(col("query_id"), col("vec_id"))
    val approx = ivfTopK(s, dir, numQueries, k, numCentroids, nprobe)
      .select(col("query_id"), col("vec_id"), lit(1L).as("hit"))
    exact.join(approx, Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .select(col("query_id"), col("hits"),
        (floor(col("hits").cast("double") / k * lit(1e6) + lit(0.5))
          / lit(1e6)).as("recall"))
      .orderBy("query_id")
  }

  /** Recall@k sweep (W504): IVF recall at rank cutoffs k = 1/5/10 from
    * ONE candidate pass at a fixed nprobe — [[nprobeRecallSweep]]'s
    * other axis (that table fixes k and sweeps probe width; this fixes
    * the probe budget and asks how deep the returned ranking stays
    * trustworthy — recall@1 gates a dedup-by-NN rollout, recall@10 a
    * retrieval one). Both rankings are ranked once; every cutoff reads
    * the same two rank columns, so the sweep costs a 3-row spine, not
    * three searches.
    */
  def recallAtKSweep(s: SparkSession, dir: String, numQueries: Int = 10,
                     numCentroids: Int = 16, nprobe: Int = 4,
                     ks: Seq[Int] = Seq(1, 5, 10)): DataFrame = {
    import s.implicits._
    val kmax = ks.max
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val cent = centroids(emb, numCentroids)
    val plist = nearestCentroids(queries(emb, numQueries), "query_id", "qv",
      cent, nprobe)
    val cand = candidates(invertedLists(emb, cent), broadcast(plist))
      .select(col("query_id"), col("vec_id"),
        cosine(col("embedding"), col("qv")).as("sim"))
      .persist()
    CacheScope.register(cand) // eager: count + ranked read it
    val approx = topK(cand, kmax)
      .select(col("query_id"), col("vec_id"), col("rank").as("ra"))
    val truth = exactTopK(emb, numQueries, kmax)
      .select(col("query_id"), col("vec_id"), col("rank").as("rt"))
    val nCand = cand.agg(count(lit(1)).as("n_candidates"))
    val spine = ks.map(_.toLong).toDF("k")
    val hits = approx.join(truth, Seq("query_id", "vec_id"))
      .crossJoin(broadcast(spine))
      .filter(col("ra") <= col("k") && col("rt") <= col("k"))
      .groupBy("k").agg(count(lit(1)).as("hits"))
    broadcast(spine).join(hits, Seq("k"), "left")
      .crossJoin(broadcast(nCand))
      .select(col("k"), col("n_candidates"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        Events.q(coalesce(col("hits"), lit(0L)).cast("double") /
          (lit(numQueries.toDouble) * col("k").cast("double")), 6)
          .as("recall"))
      .orderBy("k")
  }

  /** IVF centroid-count sweep (W510): recall@k and candidate volume
    * at numCentroids = 8/16/32 with the probe budget FIXED — the
    * third IVF tuning axis after probe width ([[nprobeRecallSweep]])
    * and rank depth ([[recallAtKSweep]]). More centroids shrink each
    * list (fewer candidates scanned per query — the speed win) but
    * the fixed nprobe covers a smaller corpus fraction (the recall
    * price); the table shows where that trade crosses. Ground truth
    * is ranked ONCE and shared by every sweep point; each C costs one
    * assignment pass over the corpus.
    */
  def centroidSweep(s: SparkSession, dir: String, numQueries: Int = 10,
                    k: Int = 10, nprobe: Int = 4,
                    cs: Seq[Int] = Seq(8, 16, 32)): DataFrame = {
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      .persist()
    CacheScope.register(emb) // every sweep point scans it
    val truth = exactTopK(emb, numQueries, k).select("query_id", "vec_id")
      .persist()
    CacheScope.register(truth) // joined by every sweep point
    cs.map { c =>
      val cent = centroids(emb, c)
      val plist = nearestCentroids(queries(emb, numQueries), "query_id",
        "qv", cent, nprobe)
      val cand = candidates(invertedLists(emb, cent), broadcast(plist))
        .select(col("query_id"), col("vec_id"),
          cosine(col("embedding"), col("qv")).as("sim"))
        .persist()
      CacheScope.register(cand) // count + ranked read it
      val approx = topK(cand, k).select("query_id", "vec_id")
      val hits = approx.join(truth, Seq("query_id", "vec_id"))
        .agg(count(lit(1)).as("hits"))
      val nCand = cand.agg(count(lit(1)).as("n_candidates"))
      hits.crossJoin(nCand)
        .select(lit(c.toLong).as("n_centroids"), col("n_candidates"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          Events.q(coalesce(col("hits"), lit(0L)).cast("double") /
            lit((numQueries * k).toDouble), 6).as("recall"))
    }.reduce(_ unionAll _).orderBy("n_centroids")
  }

  /** Deterministic k-center seeding (W222): Gonzalez farthest-first
    * traversal over cosine distance — start from vec_id 0, repeatedly
    * pick the vector farthest from every centroid chosen so far (ties
    * to the smaller id). The principled replacement for the first-k
    * stand-in seeding `ivfTopK`/`kmeans` document (farthest-first is
    * the classic 2-approximation for the k-center radius, and unlike
    * k-means++ it is deterministic, so the oracle replays it exactly).
    * Each step is one distributed min-distance aggregate + argmax
    * (k−1 scans of the cached corpus — the canonical implementation;
    * k is a small constant, and only the 1-row argmax reaches the
    * driver). Surfaces (step, chosen id, coverage radius at pick):
    * the radius column is the k-center objective trace a capacity
    * planner reads to choose k.
    */
  def farthestFirstInit(s: SparkSession, dir: String,
                        k: Int = 8): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val picked = scala.collection.mutable.ArrayBuffer[
      (Int, Long, Option[Double])]((0, 0L, None))
    // OPTIMIZATION r11 (the mmrSelect treatment, guide §1.2/§4): the
    // min-distance-to-chosen changes per step by exactly ONE new
    // center, so carry it as an incremental `d` column —
    // least(d_prev, dist(v, new)) ≡ min over the chosen set (min is
    // fold-order-free) — instead of re-scoring every candidate
    // against the WHOLE chosen set each step (k²/2 → k cosine
    // passes). The new center rides a broadcast 1-row frame, so the
    // per-step plan is literal-free and codegen compiles once.
    val c0 = emb.filter(col("vec_id") === 0L)
      .select(col("embedding").as("cv"), col("vec_id").as("cid"))
    var state = emb.crossJoin(broadcast(c0))
      .filter(col("vec_id") =!= col("cid"))
      .select(col("vec_id"), col("embedding"),
        (lit(1.0) - cosine(col("embedding"), col("cv"))).as("d"))
      .localCheckpoint()
    for (step <- 1 until k) {
      val r = state.select(col("vec_id"), col("d"))
        .orderBy(col("d").desc, col("vec_id"))
        .limit(1).collect()(0)
      picked += ((step, r.getLong(0), Some(r.getDouble(1))))
      if (step < k - 1) {
        val sel = state.filter(col("vec_id") === lit(r.getLong(0)))
          .select(col("embedding").as("cv"), col("vec_id").as("cid"))
        state = state.crossJoin(broadcast(sel))
          .filter(col("vec_id") =!= col("cid"))
          .select(col("vec_id"), col("embedding"),
            least(col("d"),
              lit(1.0) - cosine(col("embedding"), col("cv"))).as("d"))
          .localCheckpoint()
      }
    }
    picked.toSeq
      .map { case (st, id, d) =>
        (st, id, d.map(x => math.floor(x * 1e6 + 0.5) / 1e6))
      }
      .toDF("step", "vec_id", "radius")
      .orderBy("step")
  }

  /** Int8 affine quantization of the embedding column — the memory
    * layout an ANN index actually stores (4× smaller than float32,
    * SIMD-friendly). Per-vector scale/zero-point from the min/max
    * range (asymmetric affine: q = round((x−min)/scale), x̂ = min +
    * q·scale); reports the max absolute reconstruction error so a
    * recall budget can gate the rollout. Pure per-row projection — no
    * shuffle at any scale; every step is deterministic arithmetic the
    * oracle replays.
    */
  def quantizeInt8(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    emb
      .select(col("vec_id"), col("v"),
        array_min(col("v")).as("lo"), array_max(col("v")).as("hi"))
      // "scale_raw", NOT "scale": aliasing the rounded output "scale"
      // in the next select would make its sibling expressions resolve
      // col("scale") to the ROUNDED lateral alias (Spark 4 lateral
      // column aliases shadow same-name input columns), silently
      // quantizing against the display-rounded scale
      .select(col("vec_id"), col("v"), col("lo"),
        // degenerate constant vectors quantize with scale 1 (q = 0)
        when(col("hi") > col("lo"), (col("hi") - col("lo")) / lit(255.0))
          .otherwise(lit(1.0)).as("scale_raw"))
      .select(col("vec_id"), round(col("scale_raw"), 9).as("scale"),
        round(col("lo"), 6).as("zero_point"),
        // q = floor(r + 0.5), NOT round(r): the max error sits at
        // quantization midpoints where Spark's HALF_UP and DuckDB's
        // nearest-even disagree; floor(+0.5) ties identically
        round(aggregate(
          transform(col("v"), x =>
            abs(x - (col("lo") +
              floor((x - col("lo")) / col("scale_raw") + lit(0.5)) *
                col("scale_raw")))),
          lit(0.0), (acc, e) => greatest(acc, e)), 6).as("max_abs_err"))
  }

  /** Per-label mean embedding (the class-centroid table an IVF index or
    * a label-conditioned retrieval layer builds): positions explode via
    * `posexplode`, one partial-aggregated shuffle on (label, pos) —
    * mergeable at any scale because a mean is a (sum, count) sketch.
    * Output: (label, pos, centroid, n_vecs), dim × labels rows.
    */
  def embeddingCentroids(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(round(avg(col("v").cast("double")), 6).as("centroid"),
        count(lit(1)).as("n_vecs"))

  /** Pairwise cosine similarity between the per-label centroid vectors
    * (the class-separation diagnostic run before trusting a labeled
    * corpus for training: near-identical centroids mean the labels
    * don't separate in embedding space). Builds on
    * [[embeddingCentroids]] — centroids round to 6 dp BEFORE the
    * cosine so both engines fold identical doubles, in fixed ascending
    * `pos` order. Output is labels² rows (tiny): the heavy work is the
    * one centroid aggregation, the pair join is a broadcast of a
    * label-count-sized table.
    */
  def centroidDistances(s: SparkSession, dir: String): DataFrame = {
    val vecs = embeddingCentroids(s, dir)
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"), col("centroid"))))
        .as("pv"))
      .select(col("label"), transform(col("pv"), p => p("centroid")).as("v"))
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, e) => acc + e)
    val a = vecs.select(col("label").as("l1"), col("v").as("v1"))
    val b = vecs.select(col("label").as("l2"), col("v").as("v2"))
    a.join(broadcast(b), col("l1") < col("l2"))
      .select(col("l1"), col("l2"),
        round(dot(col("v1"), col("v2")) /
          (sqrt(dot(col("v1"), col("v1"))) * sqrt(dot(col("v2"), col("v2")))),
          6).as("cosine"))
  }

  /** All-pairs document similarity over tf-idf vectors via inverted-
    * index self-join (the Elsayed/Lin/Oard pairwise-similarity pattern:
    * two documents can only have nonzero dot product through terms they
    * share, so joining the postings list to itself on `term` enumerates
    * exactly the contributing (doc_a, doc_b, term) triples). Weight =
    * tf · ln(N/df); similarity = cosine over the per-doc tf-idf vector.
    *
    * Scale posture: the join cost is Σ_term df², so the df-pruning cut
    * (`maxDfFrac`) removes the near-stopword terms that dominate that
    * sum while contributing ~0 weight anyway (ln(N/df) → 0 as df → N) —
    * the standard quadratic-blowup guard for 100 TB corpora. Norms are
    * computed over the FULL vector (pruning only gates which terms may
    * *connect* a pair), so scores stay comparable as the cut moves.
    */
  def docSimilarityPairs(s: SparkSession, dir: String,
                         threshold: Double = 0.3,
                         maxDfFrac: Double = 0.2): DataFrame = {
    val p = Index.postings(s, dir).persist()
    CacheScope.register(p) // eager: df, norms and both join sides read it
    val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val df = p.groupBy("term").agg(count(lit(1)).as("df"))
    val weighted = p.join(df, "term").crossJoin(broadcast(nDocs))
      .select(col("term"), col("doc_id"), col("df"), col("n_docs"),
        (col("tf") * log(col("n_docs") / col("df"))).as("w"))
      .persist()
    CacheScope.register(weighted) // eager: norms + both sides of the pair join
    p.unpersist(blocking = false)
    val norms = weighted.groupBy("doc_id")
      .agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    val kept = weighted.filter(col("df") <= col("n_docs") * maxDfFrac)
    val l = kept.select(col("term"), col("doc_id").as("doc_a"), col("w").as("wa"))
    val r = kept.select(col("term"), col("doc_id").as("doc_b"), col("w").as("wb"))
    l.join(r, "term")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(col("wa") * col("wb")).as("dot"))
      .join(norms.select(col("doc_id").as("doc_a"), col("nrm").as("na")), "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("nrm").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(col("dot") / (col("na") * col("nb")), 6).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Lloyd's k-means over the embedding column: `iters` assignment
    * passes, centroids re-estimated between passes. Initial centroids =
    * the `k` smallest vec_ids (deterministic — no seeded sampling to
    * keep re-runs and the oracle identical). Per pass: centroids ride
    * along as one literal array (k·dim doubles — broadcast-sized by
    * construction), assignment is a codegen'd argmin over a
    * `transform` of squared distances, and re-estimation is a per-dim
    * `posexplode` + avg whose shuffle carries k·dim rows. The corpus
    * is persisted once and scanned `iters` times — the canonical
    * distributed k-means dataflow (centroid state driver-side, data
    * never re-shuffled). Output is the final discrete assignment, which
    * is robust to sub-ulp distance noise between engines.
    */
  def kmeans(s: SparkSession, dir: String,
             k: Int = 4, iters: Int = 3): DataFrame = {
    val vecs = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .persist()
    CacheScope.register(vecs) // materialize once before the multi-pass loop
    var centroids: Seq[(Int, Seq[Double])] = vecs.orderBy("vec_id").limit(k)
      .collect().zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](1)) }.toSeq

    def assign(): DataFrame = {
      val cLit = array(centroids.map { case (cid, c) =>
        struct(lit(cid).as("cid"), array(c.map(lit): _*).as("c"))
      }: _*)
      // min over struct(dist, cid) is lexicographic: nearest centroid,
      // ties to the lower cid — mirrored by the oracle's ORDER BY
      vecs.select(col("vec_id"), col("v"),
        array_min(transform(cLit, ct =>
          struct(
            aggregate(zip_with(col("v"), ct("c"),
              (x, y) => (x - y) * (x - y)), lit(0.0), _ + _).as("dist"),
            ct("cid").as("cid"))))("cid").as("cluster"))
    }

    for (_ <- 1 until iters) {
      centroids = assign()
        .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cluster", "pos").agg(avg("x").as("m"))
        .groupBy("cluster")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("ms"))
        .collect()
        .map(r => (r.getInt(0),
          r.getSeq[org.apache.spark.sql.Row](1).map(_.getDouble(1))))
        .sortBy(_._1).toSeq
    }
    assign().select(col("vec_id"), col("cluster"))
  }

  /** Exact covariance matrix of the leading `d` embedding dimensions —
    * the input to a PCA/whitening fit. Single scan: each row explodes
    * into its d(d+1)/2 upper-triangle products, aggregated by (i, j);
    * one shuffle whose cardinality is d², independent of corpus size —
    * the classic "d² accumulators" distributed-covariance shape (at
    * 100 TB the map side reduces everything; only 36 groups move).
    *
    * Determinism: values are quantized to the 1e-6 grid as longs first,
    * so Σx, Σy and Σxy are EXACT (long / decimal) and merge-order-
    * insensitive; the covariance (E[xy] − E[x]E[y], computed in doubles
    * from those exact sums) is bit-identical in any engine.
    */
  def covarianceMatrix(s: SparkSession, dir: String, d: Int = 8): DataFrame = {
    val xi = Tables.embeddings(s, dir)
      .select(transform(
        slice(col("embedding").cast("array<double>"), 1, d),
        x => round(x * lit(1e6), 0).cast("long")).as("xi"))
    val pairs = xi.select(explode(flatten(
      transform(sequence(lit(0), lit(d - 1)), i =>
        transform(sequence(i, lit(d - 1)), j =>
          struct(i.as("i"), j.as("j"),
            element_at(col("xi"), i + 1).as("a"),
            element_at(col("xi"), j + 1).as("b")))))).as("p"))
      .select(col("p.*"))
    pairs.groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"), sum(col("a")).as("sa"),
        sum(col("b")).as("sb"),
        sum(col("a").cast("decimal(38,0)") * col("b")).as("sab"))
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        round((col("sab").cast("double") / col("n") -
          (col("sa").cast("double") / col("n")) *
            (col("sb").cast("double") / col("n"))) / lit(1e12), 9).as("cov"))
  }

  /** Per-label mean of L2-NORMALIZED embeddings — the class-prototype
    * build (normalize first so every document votes equally regardless
    * of magnitude; the un-normalized mean is what [[labelCentroids]]
    * computes). Higher-order functions only — `transform` for the
    * scale, `aggregate` for the norm — one narrow pass then one
    * groupBy(label) whose partial aggregation reduces each partition
    * to |labels| rows before the shuffle. Output explodes to
    * (label, pos, v) so the oracle compares scalars. Quantized on the
    * 1e-6 grid per the round-before-surface rule.
    */
  def normalizedPrototypes(s: SparkSession, dir: String): DataFrame = {
    val x = col("embedding").cast("array<double>")
    val norm = sqrt(aggregate(x, lit(0.0), (acc, v) => acc + v * v))
    Tables.embeddings(s, dir)
      // each normalized component is quantized to the 1e-9 integer grid
      // BEFORE the sum: the per-label accumulation is then an exact
      // long sum (order-insensitive across partitions/engines); only
      // the final mean is double arithmetic over identical exact inputs
      .select(col("label"), transform(x,
        v => floor(v / norm * lit(1e9) + lit(0.5)).cast("long")).as("u"))
      .select(col("label"), posexplode(col("u")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .select(col("label"), col("pos"),
        (floor(col("sv").cast("double") / col("n") / lit(1e9) * lit(1e6)
          + lit(0.5)) / lit(1e6)).as("proto"))
  }

  /** Embedding drift: per label, the cosine between the class
    * prototype computed from each HALF of the corpus (deterministic
    * hash split) — "has the embedding space moved between cohorts",
    * the monitoring check run when a new encoder version or data
    * slice lands (cos ≈ 1 = stable; falling cosines localize the
    * drift to labels). Everything before the final cosine is EXACT:
    * components quantize to the 1e-9 integer grid, per-(label, half,
    * dim) sums are longs, and the mean's 1/n scale factors cancel
    * inside the cosine — so cos = Σ s_a·s_b / (√Σ s_a²·√Σ s_b²) over
    * exact decimal dot products, bit-identical on any engine or
    * partitioning.
    */
  def embeddingDrift(s: SparkSession, dir: String): DataFrame = {
    val x = col("embedding").cast("array<double>")
    val norm = sqrt(aggregate(x, lit(0.0), (acc, v) => acc + v * v))
    val comps = Tables.embeddings(s, dir)
      .select(col("label"),
        when(Curation.pctHash(col("vec_id")) < 50, "a").otherwise("b")
          .as("half"),
        transform(x, v => floor(v / norm * lit(1e9) + lit(0.5))
          .cast("long")).as("u"))
      .select(col("label"), col("half"),
        posexplode(col("u")).as(Seq("pos", "v")))
      .groupBy("label", "half", "pos")
      .agg(sum("v").as("sv"))
    val a = comps.filter(col("half") === "a")
      .select(col("label"), col("pos"), col("sv").as("sa"))
    val b = comps.filter(col("half") === "b")
      .select(col("label"), col("pos"), col("sv").as("sb"))
    a.join(b, Seq("label", "pos"))
      .groupBy("label")
      .agg(
        sum(col("sa").cast("decimal(38,0)") * col("sb")).as("num"),
        sum(col("sa").cast("decimal(38,0)") * col("sa")).as("na"),
        sum(col("sb").cast("decimal(38,0)") * col("sb")).as("nb"))
      .select(col("label"),
        (floor(col("num").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")))
          * lit(1e6) + lit(0.5)) / lit(1e6)).as("proto_cosine"))
      .orderBy("label")
  }

  /** Hard-negative mining: for each query vector, the single MOST
    * similar vector with a DIFFERENT label — the contrastive-training
    * pair a retrieval model learns most from (easy negatives are
    * uninformative; the near-miss is the signal). Same broadcast
    * query-side shape as [[bruteForceTopK]] with the label inequality
    * folded into the scan; at 100 TB the candidate side comes from
    * the IVF/LSH bucket machinery and this exact check scores only
    * bucket-mates. Ties break to the lower vec id on the 6-dp
    * rounded similarity.
    */
  def hardNegatives(s: SparkSession, dir: String,
                    numQueries: Int = 50): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select("vec_id", "embedding", "label")
    val q = emb.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("qlab"))
    val w = Window.partitionBy("query_id")
      .orderBy(round(col("sim"), 6).desc, col("vec_id"))
    emb.crossJoin(broadcast(q))
      .filter(col("label") =!= col("qlab"))
      .select(col("query_id"), col("vec_id"), col("label"),
        cosine(col("embedding"), col("qv")).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("vec_id").as("negative_id"),
        col("label").as("neg_label"), round(col("sim"), 6).as("sim"))
  }

  /** Int8-quantization recall audit (W237): top-`k` retrieval recall
    * when the CORPUS side is affine-int8 quantized ([[quantizeInt8]]'s
    * exact scheme, reconstructed values) and queries stay full
    * precision — the asymmetric setup a quantized vector store runs.
    * Completes the approximate-index gate pair: `ann_recall` prices the
    * IVF routing loss, this prices the representation loss; together
    * they justify (or kill) the memory savings. Reconstruction is the
    * same floor(+0.5) grid arithmetic both engines replay bit-exactly,
    * so the rankings — and the recall ratio — match the oracle
    * bitwise. Plan shape is the brute-force kernel's: queries
    * broadcast, one scan of the (reconstructed) corpus, per-query
    * top-k windows.
    */
  def int8Recall(s: SparkSession, dir: String, numQueries: Int = 10,
                 k: Int = 5): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    def scale: Column =
      when(col("hi") > col("lo"), (col("hi") - col("lo")) / lit(255.0))
        .otherwise(lit(1.0))
    val rec = emb
      .select(col("vec_id"), col("v"),
        array_min(col("v")).as("lo"), array_max(col("v")).as("hi"))
      .select(col("vec_id"),
        transform(col("v"), x =>
          col("lo") +
            floor((x - col("lo")) / scale + lit(0.5)) * scale).as("rv"))
    val exact = bruteForceTopK(s, dir, numQueries, k)
      .select(col("query_id"), col("vec_id"))
    val q = emb.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val approx = topK(rec.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("rv"), col("qv")).as("sim")), k)
      .select(col("query_id"), col("vec_id"), lit(1L).as("hit"))
    exact.join(approx, Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .select(col("query_id"), col("hits"),
        Events.q(col("hits").cast("double") / k, 6).as("recall"))
      .orderBy("query_id")
  }

  /** IVF inverted-list balance audit (W233): vectors per centroid for
    * the exact assignment `ivfTopK` searches, including EMPTY lists —
    * the index-health table read next to `annRecall` before an
    * approximate index ships (a load factor ≫ 1 on one list means
    * probe cost concentrates there and recall collapses elsewhere;
    * empty lists mean wasted probes). `load_factor` is the occupancy
    * relative to perfect balance (n·C/total, 1.0 = uniform). Same
    * [[invertedLists]] as the index build, but only ids reach its
    * exchange (the embedding is pruned before it); the rollup shuffles
    * C rows.
    */
  def ivfBalance(s: SparkSession, dir: String,
                 numCentroids: Int = 16): DataFrame = {
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val cent = centroids(emb, numCentroids)
    val counts = invertedLists(emb, cent)
      .groupBy("centroid_id").agg(count(lit(1)).as("nv"))
    cent.select("centroid_id")
      .join(counts, Seq("centroid_id"), "left")
      .na.fill(0L, Seq("nv"))
      .crossJoin(broadcast(emb.agg(count(lit(1)).as("_tot"))))
      .select(col("centroid_id"), col("nv").as("n_vectors"),
        Events.q(col("nv").cast("double") / col("_tot"), 6).as("share"),
        Events.q(col("nv").cast("double") * numCentroids / col("_tot"), 6)
          .as("load_factor"))
      .orderBy("centroid_id")
  }

  /** Simplified silhouette of the LABEL clustering (distance to own
    * centroid vs nearest other centroid, cosine distance): the
    * class-separability score that says whether labels form real
    * clusters in embedding space — the scalar companion to
    * [[centroidDistances]]' pairwise matrix and the geometric
    * counterpart of `knn_label_consistency`. Per vector only
    * |labels| centroid comparisons (a broadcast of labels·dim
    * doubles), never a vector-vector pair — the O(n·k) "simplified
    * silhouette", which is the only formulation that scales.
    * Per-vector scores floor-quantize to the 1e-9 grid before the
    * per-label mean (exact LONG sum); centroids round at 6 dp before
    * the fold exactly as [[centroidDistances]] does. Also surfaces
    * the share of vectors closer to a FOREIGN centroid (s < 0) — the
    * misfit rate.
    */
  def silhouetteLabels(s: SparkSession, dir: String): DataFrame = {
    val cents = embeddingCentroids(s, dir).groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"), col("centroid"))))
        .as("pv"))
      .select(col("label").as("clabel"),
        transform(col("pv"), p => p("centroid")).as("cv"))
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0),
        (acc, e) => acc + e)
    val v = Tables.embeddings(s, dir).select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("x"))
    val d = v.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("clabel"),
        (lit(1.0) - dot(col("x"), col("cv")) /
          (sqrt(dot(col("x"), col("x"))) *
            sqrt(dot(col("cv"), col("cv"))))).as("dist"))
    val own = d.filter(col("label") === col("clabel"))
      .select(col("vec_id"), col("label"), col("dist").as("a"))
    val other = d.filter(col("label") =!= col("clabel"))
      .groupBy("vec_id").agg(min("dist").as("b"))
    val sil = own.join(other, "vec_id")
      .select(col("label"),
        floor(when(greatest(col("a"), col("b")) > 0,
            (col("b") - col("a")) / greatest(col("a"), col("b")))
          .otherwise(lit(0.0)) * lit(1e9) + lit(0.5))
          .cast("long").as("s9"))
    sil.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), sum("s9").as("ss"),
        sum(when(col("s9") < 0, 1L).otherwise(0L)).as("nneg"))
      .select(col("label").cast("long").as("label"), col("n_vecs"),
        Events.q(col("ss").cast("double") / col("n_vecs") / lit(1e9), 6)
          .as("silhouette"),
        Events.q(col("nneg").cast("double") / col("n_vecs"), 6)
          .as("misfit_share"))
      .orderBy("label")
  }

  /** kNN label-consistency audit — the label-noise detector: for every
    * vector, the share of its k nearest neighbors (by cosine) carrying
    * the SAME label; per label we surface the mean consistency and the
    * share of vectors whose neighborhood majority DISAGREES with their
    * label (the mislabeling suspects a data-quality pass reviews).
    * Neighbors come from the IVF probe lists, not an all-pairs scan —
    * the same candidate generation as [[ivfTopK]], so the audit costs
    * n·nprobe·(n/C) pairs (sub-quadratic with C ∝ √n) and is the shape
    * you'd actually run at 100 TB; the probes table is n-proportional,
    * so it joins by shuffle-hash on the centroid key, never broadcast.
    * Downstream of the top-k cut everything is exact-integer counts.
    */
  def knnLabelConsistency(s: SparkSession, dir: String, k: Int = 5,
                          numCentroids: Int = 16,
                          nprobe: Int = 4): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select("vec_id", "embedding", "label")
    val cent = centroids(emb, numCentroids)
    val probes = nearestCentroids(emb.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"), col("label").as("qlabel")),
      "query_id", "qv", cent, nprobe)
    val perQuery = topK(
      candidates(invertedLists(emb, cent), probes.hint("shuffle_hash"))
        .select(col("query_id"), col("qlabel"), col("vec_id"), col("label"),
          cosine(col("embedding"), col("qv")).as("sim")), k)
      .groupBy("query_id", "qlabel")
      .agg(count(lit(1)).as("kn"),
        sum(when(col("label") === col("qlabel"), 1L).otherwise(0L))
          .as("ag"))
    perQuery.groupBy(col("qlabel"))
      .agg(count(lit(1)).as("n_vecs"),
        sum("ag").as("sag"), sum("kn").as("skn"),
        sum(when(col("ag") * 2 < col("kn"), 1L).otherwise(0L)).as("nsus"))
      .select(col("qlabel").cast("long").as("label"), col("n_vecs"),
        Events.q(col("sag").cast("double") / col("skn"), 6)
          .as("consistency"),
        Events.q(col("nsus").cast("double") / col("n_vecs"), 6)
          .as("suspect_share"))
      .orderBy("label")
  }

  /** Top principal component of the leading `d` embedding dimensions by
    * power iteration — the dimensionality-reduction fit that
    * [[covarianceMatrix]] is the input to. The distributed stage is the
    * d²-accumulator covariance scan (one shuffle of d² groups at ANY
    * corpus size); the iteration itself is d×d arithmetic, so it runs
    * on the driver like the `markov_attribution` value loop — a 100 TB
    * corpus changes the scan, never the loop. Determinism: covariance
    * lands on a 1e-9 LONG grid, the iterate on a 1e-6 LONG grid (max-
    * norm renormalization keeps every mat-vec product an EXACT integer
    * sum — order-free across engines); the Rayleigh numerator v'Cv uses
    * BigInt (HUGEINT in the oracle), and only the final loading/share
    * divisions are double ops over exact integers. The unrolled-SQL
    * oracle replays all `iters` rounds term for term.
    */
  def pcaPower(s: SparkSession, dir: String, d: Int = 8,
               iters: Int = 10): DataFrame = {
    val xi = Tables.embeddings(s, dir)
      .select(transform(
        slice(col("embedding").cast("array<double>"), 1, d),
        x => round(x * lit(1e6), 0).cast("long")).as("xi"))
    val pairs = xi.select(explode(flatten(
      transform(sequence(lit(0), lit(d - 1)), i =>
        transform(sequence(lit(0), lit(d - 1)), j =>
          struct(i.as("i"), j.as("j"),
            element_at(col("xi"), i + 1).as("a"),
            element_at(col("xi"), j + 1).as("b")))))).as("p"))
      .select(col("p.*"))
    val covRows = pairs.groupBy("i", "j")
      .agg(count(lit(1)).as("n"), sum(col("a")).as("sa"),
        sum(col("b")).as("sb"),
        sum(col("a").cast("decimal(38,0)") * col("b")).as("sab"))
      .select(col("i"), col("j"),
        floor((col("sab").cast("double") / col("n") -
          (col("sa").cast("double") / col("n")) *
            (col("sb").cast("double") / col("n"))) / lit(1e12) * lit(1e9)
          + lit(0.5)).cast("long").as("cq"))
      .collect()
    val cov = Array.ofDim[Long](d, d)
    covRows.foreach(r => cov(r.getInt(0))(r.getInt(1)) = r.getLong(2))
    def matvec(v: Array[Long]): Array[Long] =
      Array.tabulate(d)(i => (0 until d).map(j => cov(i)(j) * v(j)).sum)
    var v = Array.fill(d)(math.floor(1.0 / math.sqrt(d) * 1e6 + 0.5).toLong)
    for (_ <- 1 to iters) {
      val t = matvec(v)
      val ma = t.map(math.abs).max
      v = t.map(x => if (ma > 0)
        math.floor(x.toDouble / ma.toDouble * 1e6 + 0.5).toLong else 0L)
    }
    val t = matvec(v)
    val svv = v.map(x => x * x).sum
    val num = (0 until d).map(i => BigInt(v(i)) * t(i)).sum
    val tr = (0 until d).map(i => cov(i)(i)).sum
    val share =
      if (svv > 0 && tr != 0)
        math.floor(num.toDouble / (svv.toDouble * tr.toDouble) * 1e6
          + 0.5) / 1e6
      else 0.0
    val nrm = math.sqrt(svv.toDouble)
    import s.implicits._
    (0 until d).map(i => (i.toLong,
      math.floor(v(i).toDouble / nrm * 1e6 + 0.5) / 1e6, share))
      .toDF("pos", "loading", "ev_share")
      .orderBy("pos")
  }

  /** Diagonal-Mahalanobis embedding outliers, per label: standardized
    * squared distance Σ_d (v_d − μ_d)²/σ²_d against the vector's OWN
    * label population, top-k by score — the distribution-aware outlier
    * screen (a vector can be near the global centroid yet far from its
    * label's, which plain centroid cosine misses). Full-covariance
    * Mahalanobis needs a d×d inverse; the diagonal form is the O(n·d)
    * one-pass variant that scales, and the standard first screen.
    *
    * Numerics: components land on the 1e-9 LONG grid; per-(label, dim)
    * moments are exact DECIMAL(38) sums, so μ and σ² are identical
    * doubles on both engines; each per-dim term is floor-quantized to
    * the 1e-9 grid BEFORE the per-vector sum, which then rides LONGs
    * order-free. Cost: two n·d-row partial-agg shuffles (moments, then
    * term sums) plus a broadcast of the labels×dims stats table; top-k
    * is TakeOrdered on the 6-dp rounded score with vec-id tiebreak.
    */
  def mahalanobisOutliers(s: SparkSession, dir: String,
                          k: Int = 20): DataFrame = {
    val dec = "decimal(38,0)"
    val x = col("embedding").cast("array<double>")
    val base = CacheScope.track(Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        posexplode(transform(x, v =>
          floor(v * lit(1e9) + lit(0.5)).cast("long"))).as(Seq("pos", "vi")))
      .persist()) // read twice: moments, then the term pass
    val stats = base.groupBy("label", "pos")
      .agg(count(lit(1)).as("n"),
        sum(col("vi").cast(dec)).as("sv"),
        sum((col("vi").cast(dec) * col("vi")).cast(dec)).as("sv2"))
      .select(col("label"), col("pos"),
        (col("sv").cast("double") / col("n").cast("double") / lit(1e9))
          .as("mu"),
        when(col("n") > 1,
          (col("n").cast(dec) * col("sv2") - col("sv") * col("sv"))
            .cast("double") /
            (col("n") * (col("n") - 1)).cast("double") / lit(1e18))
          .otherwise(lit(0.0)).as("varr"))
    val dv = col("vi").cast("double") / lit(1e9) - col("mu")
    val dist = base.join(broadcast(stats), Seq("label", "pos"))
      .select(col("vec_id"), col("label"),
        when(col("varr") > 0,
          floor(dv * dv / col("varr") * lit(1e9) + lit(0.5)).cast("long"))
          .otherwise(lit(0L)).as("ti"))
      .groupBy("vec_id", "label").agg(sum("ti").as("sd"))
      .select(col("vec_id"), col("label"),
        graft.operators.Events.q(col("sd").cast("double") / lit(1e9), 6)
          .as("mahal"))
    dist.orderBy(col("mahal").desc, col("vec_id")).limit(k)
  }

  /** Embedding isotropy / norm-health audit — the three numbers a team
    * checks before trusting cosine geometry at all: the norm profile
    * (mean ± CV: collapsed or exploding norms break dot-product
    * ranking), and the ISOTROPY proxy ‖mean(v/‖v‖)‖ — the length of
    * the mean direction of the normalized cloud (0 = perfectly
    * isotropic; → 1 = everything shares one "common direction", the
    * classic anisotropy failure of contextual embeddings, Ethayarajh
    * 2019). Per label plus an `_all` row.
    *
    * Exactness: norms quantize to the 1e-9 grid per vector; normalized
    * components quantize to 1e-9 BEFORE the per-dim sums (order-free
    * LONGs); the final norms-of-sums ride doubles derived from exact
    * integers. Cost: one n·d posexplode partial-agg pass + one n-row
    * norm agg — same class as `embedding_drift`.
    */
  def isotropyAudit(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val x = col("embedding").cast("array<double>")
    val norm = sqrt(aggregate(x, lit(0.0), (acc, v) => acc + v * v))
    val base = CacheScope.track(Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").cast("string").as("label"),
        floor(norm * lit(1e9) + lit(0.5)).cast("long").as("n9"),
        transform(x, v => floor(v / norm * lit(1e9) + lit(0.5))
          .cast("long")).as("u"))
      .persist()) // norm stats + the component pass
    def audit(grouped: org.apache.spark.sql.RelationalGroupedDataset,
              comps: DataFrame): DataFrame = {
      val stats = grouped
        .agg(count(lit(1)).as("n"),
          sum(col("n9").cast(dec)).as("sn"),
          sum((col("n9").cast(dec) * col("n9")).cast(dec)).as("sn2"))
      val compSums = comps
        .groupBy("label", "pos").agg(sum("u").as("su"))
        .groupBy("label")
        .agg(sum(col("su").cast(dec) * col("su")).as("ss2"))
      val meanN = col("sn").cast("double") / col("n").cast("double")
      val varN = (col("n").cast(dec) * col("sn2") - col("sn") * col("sn"))
        .cast("double") / (col("n") * (col("n") - 1)).cast("double")
      stats.join(compSums, "label")
        .select(col("label"), col("n"),
          graft.operators.Events.q(meanN / lit(1e9), 6).as("mean_norm"),
          graft.operators.Events.q(sqrt(varN) / meanN, 6).as("norm_cv"),
          graft.operators.Events.q(
            sqrt(col("ss2").cast("double")) /
              col("n").cast("double") / lit(1e9), 6).as("isotropy"))
    }
    val perLabel = audit(base.groupBy("label"),
      base.select(col("label"), posexplode(col("u")).as(Seq("pos", "u"))))
    val overall = audit(
      base.withColumn("label", lit("_all")).groupBy("label"),
      base.select(lit("_all").as("label"),
        posexplode(col("u")).as(Seq("pos", "u"))))
    overall.unionAll(perLabel).orderBy("label")
  }

  /** Maximal-marginal-relevance diverse selection (Carbonell &
    * Goldstein 1998): pick `k` vectors greedily maximizing
    * relevance − λ·redundancy, with relevance the cosine to the corpus
    * prototype (the per-dim exact-integer sum — direction-identical to
    * the mean) and redundancy the max cosine to anything already
    * selected. The eval-set/few-shot-pool builder: top-k-by-relevance
    * returns near-duplicates; MMR buys coverage of the corpus's
    * directions instead.
    *
    * λ is pinned at 1/2 so the greedy objective is the EXACT LONG
    * `2·rel9 − maxsim9` on the 1e-9 cosine grid — every argmax is an
    * integer comparison with vec-id tiebreak, and the DuckDB oracle
    * unrolls the identical k rounds. Per round: one broadcast
    * crossJoin of candidates × the ≤k selected rows, one max-agg, one
    * distributed TakeOrdered(1); the selected set itself is k scalars
    * on the driver (the `markov_attribution` escape — bounded by k,
    * never the corpus).
    */
  def mmrSelect(s: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val x = col("embedding").cast("array<double>")
    val emb = CacheScope.track(Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), x.as("v")).persist())
    // corpus prototype: exact per-dim 1e-9-grid sums, surfaced as
    // doubles (cosine is scale-invariant, so the sum IS the mean)
    val proto = emb
      .select(posexplode(transform(col("v"), c =>
        floor(c * lit(1e9) + lit(0.5)).cast("long"))).as(Seq("pos", "vi")))
      .groupBy("pos").agg(sum("vi").as("sv"))
      .orderBy("pos").collect().map(_.getLong(1).toDouble)
    val protoCol = array(proto.map(lit): _*)
    // OPTIMIZATION r11 (guide §1.2 "don't compute things you throw
    // away"): the greedy redundancy term max_{s∈selected} cos(c, s)
    // changes per round by exactly ONE new member, so carry it as an
    // incremental `ms9` column — max(ms9_prev, sim9(c, s_new)) — in a
    // per-round checkpointed state frame instead of re-scoring every
    // candidate against the WHOLE selected set each round (k²/2 → k
    // cosine passes; per-pair quantization means the incremental max
    // is bit-identical to the recomputed one). The per-round plan is
    // literal-free (the new member rides a broadcast 1-row frame, the
    // repo's PPR convention), so whole-stage codegen compiles once for
    // all k rounds instead of once per round.
    var state = emb
      .select(col("vec_id"), col("label"), col("v"),
        floor(cosine(col("v"), protoCol) * lit(1e9) + lit(0.5))
          .cast("long").as("rel9"),
        lit(Long.MinValue).as("ms9"))
      .localCheckpoint()
    var selected = Vector.empty[(Long, Int, Long)] // (vec_id, label, score2)
    for (i <- 1 to k) {
      val best =
        if (i == 1) state.select(col("vec_id"), col("label"),
          (col("rel9") * 2).as("score2"))
        else state.select(col("vec_id"), col("label"),
          (col("rel9") * 2 - col("ms9")).as("score2"))
      val row = best.orderBy(col("score2").desc, col("vec_id"))
        .limit(1).head()
      selected :+= ((row.getLong(0), row.getInt(1), row.getLong(2)))
      if (i < k) {
        val sel = state.filter(col("vec_id") === lit(row.getLong(0)))
          .select(col("v").as("sv"), col("vec_id").as("sid"))
        state = state.crossJoin(broadcast(sel))
          .filter(col("vec_id") =!= col("sid"))
          .select(col("vec_id"), col("label"), col("v"), col("rel9"),
            greatest(col("ms9"),
              floor(cosine(col("v"), col("sv")) * lit(1e9) + lit(0.5))
                .cast("long")).as("ms9"))
          .localCheckpoint()
      }
    }
    import s.implicits._
    selected.zipWithIndex
      .map { case ((id, lb, sc), i) =>
        (i + 1, id, lb,
          math.floor(sc.toDouble / 2e9 * 1e6 + 0.5) / 1e6)
      }.toDF("rank", "vec_id", "label", "mmr_score")
  }

  /** Mutual nearest-neighbor pairs over IVF candidate lists — the
    * HIGH-PRECISION dedup/alignment candidate generator: a pair
    * survives only if each vector is the other's top-1 neighbor among
    * its probe-list candidates. Mutuality filters the asymmetric
    * "hub attracts everything" false positives that plain top-1 lists
    * are full of (the classic trick from bitext mining and
    * deduplication alike). Same sub-quadratic probe-list shape as
    * [[knnLabelConsistency]]; the mutuality check is one self-join of
    * the n-row top-1 table on the reversed key. Top-1 selection cuts
    * on the 1e-9 grid distance with id tiebreak, so both engines pick
    * identical champions; surfaced similarity is the 6-dp rounded
    * cosine.
    */
  def mutualNnPairs(s: SparkSession, dir: String,
                    numCentroids: Int = 16, nprobe: Int = 4): DataFrame = {
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val cent = centroids(emb, numCentroids)
    val probes = nearestCentroids(emb.select(col("vec_id").as("query_id"),
      col("embedding").as("qv")), "query_id", "qv", cent, nprobe)
    val di = floor((lit(1.0) - cosine(col("embedding"), col("qv"))) *
      lit(1e9) + lit(0.5)).cast("long")
    val wTop = Window.partitionBy("query_id")
      .orderBy(col("di"), col("vec_id"))
    val top1 = candidates(invertedLists(emb, cent),
      probes.hint("shuffle_hash"))
      .select(col("query_id"), col("vec_id"), di.as("di"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("vec_id"), col("di"))
      .localCheckpoint() // self-joined on the reversed key
    top1.as("f")
      .join(top1.as("r"),
        col("f.query_id") === col("r.vec_id") &&
          col("f.vec_id") === col("r.query_id"))
      .filter(col("f.query_id") < col("f.vec_id"))
      .select(col("f.query_id").as("vec_a"), col("f.vec_id").as("vec_b"),
        graft.operators.Events.q(
          lit(1.0) - col("f.di").cast("double") / lit(1e9), 6).as("sim"))
      .orderBy("vec_a")
  }

  /** Local Outlier Factor (Breunig et al. 2000) over IVF candidate
    * lists — the DENSITY-aware outlier screen that catches what a
    * global screen like [[mahalanobisOutliers]] can't: a point that is
    * merely in a sparse region scores ~1, a point whose local density
    * is far below its neighbors' scores ≫ 1. Every vector is a query;
    * neighbors come from the same probe-list machinery as
    * [[knnLabelConsistency]] (n·nprobe·(n/C) candidate pairs, never
    * all-pairs — the only LOF shape that survives 100 TB).
    *
    * Numerics: cosine distances land on the 1e-9 LONG grid BEFORE any
    * arithmetic; k-distance and reachability are max/greatest of those
    * integers; each neighbor's lrd ratio is floor-quantized to a 1e12
    * grid before the order-free LONG sum, so both engines make every
    * selection and every sum identically. A +1 grid-unit smoothing on
    * Σreach keeps coincident-vector stacks finite (documented; the
    * classic formulation leaves lrd undefined there). Top-`topn` cut
    * on the 6-dp rounded score, vec-id tiebreak.
    */
  def lofAudit(s: SparkSession, dir: String, k: Int = 5,
               numCentroids: Int = 16, nprobe: Int = 4,
               topn: Int = 20): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select("vec_id", "embedding", "label")
    val cent = centroids(emb, numCentroids)
    val probes = nearestCentroids(emb.select(col("vec_id").as("query_id"),
      col("embedding").as("qv")), "query_id", "qv", cent, nprobe)
    // candidate distances on the 1e-9 grid; k nearest by (grid, id)
    val di = floor((lit(1.0) - cosine(col("embedding"), col("qv"))) *
      lit(1e9) + lit(0.5)).cast("long")
    val wTop = Window.partitionBy("query_id")
      .orderBy(col("di"), col("vec_id"))
    val topk = CacheScope.track(candidates(invertedLists(emb, cent),
      probes.hint("shuffle_hash"))
      .select(col("query_id"), col("vec_id"), di.as("di"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= k)
      .select("query_id", "vec_id", "di")
      .persist()) // read for k-dist, Σreach, and the LOF join
    val kd = topk.groupBy("query_id").agg(max("di").as("kd"))
    val sr = topk
      .join(kd.select(col("query_id").as("vec_id"), col("kd")), "vec_id")
      .groupBy("query_id")
      .agg(count(lit(1)).as("kn"),
        (sum(greatest(col("di"), col("kd"))) + lit(1L)).as("sreach"))
    val lrdg = CacheScope.track(sr.select(col("query_id"), col("kn"),
      col("sreach"),
      floor(col("kn").cast("double") / col("sreach") * lit(1e12) +
        lit(0.5)).cast("long").as("lrdg"))
      .persist()) // joined as both the neighbor and the query side
    val lof = topk
      .join(lrdg.select(col("query_id").as("vec_id"), col("lrdg")),
        "vec_id")
      .groupBy("query_id")
      .agg(count(lit(1)).as("kn2"), sum(col("lrdg")).as("slrd"))
    lof
      .join(lrdg.select(col("query_id"), col("sreach")), "query_id")
      .join(emb.select(col("vec_id"), col("label")),
        col("query_id") === col("vec_id"))
      .select(col("vec_id"), col("label"),
        graft.operators.Events.q(
          col("slrd").cast("double") * col("sreach") /
            (col("kn2") * col("kn2")) / lit(1e12), 6).as("lof"))
      .orderBy(col("lof").desc, col("vec_id"))
      .limit(topn)
  }

  /** Product-quantization codebook build + audit (W316) — the other
    * half of the ANN index family: [[ivfTopK]] partitions the space,
    * PQ compresses the residual bytes. Split each embedding into `m`
    * subvectors, fit a k-codeword codebook per subspace (first-k
    * init, one Lloyd round — the [[kmeans]] conventions), and surface
    * the per-(subspace, code) population and reconstruction MSE — the
    * table that says how many bits the corpus needs (dominant codes ⇒
    * skew ⇒ add codewords) and what accuracy a PQ index would pay.
    * Numerics make even the MSE bit-exact across engines: components
    * land on the 1e-6 LONG grid at the scan, so every distance fold
    * is arithmetic on integer-valued doubles (exact well below 2^53),
    * Lloyd means round back ONTO the grid (floor(Σ/n + 0.5) of exact
    * sums), and per-row squared errors are exact integers summed
    * order-free. Codebook state is m·k·(dim/m) numbers driver-side —
    * the canonical centroid-state shape; the corpus is scanned, never
    * reshuffled.
    */
  def pqCodebook(s: SparkSession, dir: String,
                 m: Int = 2, k: Int = 4): DataFrame =
    pqAssign(s, dir, m, k)
      .groupBy("subspace", "code")
      .agg(count(lit(1)).as("n_vectors"),
        graft.operators.Events.q(sum(col("d2")).cast("double") /
          count(lit(1)) / lit(1e12), 6).as("recon_mse"))
      .orderBy("subspace", "code")

  /** Shared PQ construction: first-k init + one Lloyd round per
    * subspace, returning one (subspace, code, d2) row per (vector,
    * subspace) final assignment — [[pqCodebook]] aggregates it per
    * code, [[pqMSweep]] per m. */
  private def pqAssign(s: SparkSession, dir: String,
                       m: Int, k: Int): DataFrame = {
    val vecs = CacheScope.track(Tables.embeddings(s, dir)
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          x => floor(x * lit(1e6) + lit(0.5)).cast("double")).as("v"))
      .persist()) // init pull + two assignment passes
    val dim = 64
    val sw = dim / m
    // first-k init, whole-vector rows sliced per subspace
    val initRows = vecs.orderBy("vec_id").limit(k).collect()
      .map(_.getSeq[Double](1))
    def assignCol(cb: Seq[(Int, Seq[Double])], sub: Int) = {
      val cLit = array(cb.map { case (cid, c) =>
        struct(lit(cid).as("cid"), array(c.map(lit): _*).as("c"))
      }: _*)
      val wv = slice(col("v"), sub * sw + 1, sw)
      array_min(transform(cLit, ct =>
        struct(aggregate(zip_with(wv, ct("c"),
          (x, y) => (x - y) * (x - y)), lit(0.0), _ + _).as("dist"),
          ct("cid").as("cid"))))
    }
    val out = (0 until m).map { sub =>
      var cb: Seq[(Int, Seq[Double])] = initRows.zipWithIndex
        .map { case (r, i) => (i, r.slice(sub * sw, sub * sw + sw)) }
        .toSeq
      // one Lloyd round: assign, re-estimate ON the grid (exact sums)
      cb = vecs.select(assignCol(cb, sub)("cid").as("code"),
          posexplode(slice(col("v"), sub * sw + 1, sw))
            .as(Seq("pos", "x")))
        .groupBy("code", "pos")
        .agg(floor(sum(col("x")) / count(lit(1)) + lit(0.5))
          .cast("double").as("mq"))
        .groupBy("code")
        .agg(array_sort(collect_list(struct(col("pos"), col("mq"))))
          .as("ms"))
        .collect()
        .map(r => (r.getInt(0),
          r.getSeq[org.apache.spark.sql.Row](1).map(_.getDouble(1))))
        .sortBy(_._1).toSeq
      val asg = assignCol(cb, sub)
      vecs.select(lit(sub.toLong).as("subspace"),
          asg("cid").cast("long").as("code"),
          asg("dist").cast("long").as("d2"))
    }.reduce(_ unionAll _)
    out
  }

  /** PQ codebook-count sweep (W509): full-vector reconstruction MSE
    * and bits/vector at m = 2 and m = 4 subspaces over the SAME
    * one-Lloyd-round construction as [[pqCodebook]] — the
    * memory↔distortion tuning table (each doubling of m doubles the
    * code bits and must buy distortion, or the smaller code wins).
    * Per-m distortion is the exact LONG sum of final-assignment d2
    * across ALL subspaces divided once by the vector count — the
    * concatenated-vector error, not a per-code average, so the m
    * rows compare directly.
    */
  def pqMSweep(s: SparkSession, dir: String, ms: Seq[Int] = Seq(2, 4),
               k: Int = 4): DataFrame = {
    require((k & (k - 1)) == 0, "k must be a power of two for code_bits")
    val log2k = (31 - Integer.numberOfLeadingZeros(k)).toLong
    ms.map { m =>
      pqAssign(s, dir, m, k)
        .agg(count(lit(1)).as("n_rows"), sum(col("d2")).as("sd2"))
        .select(lit(m.toLong).as("m"),
          lit(m * log2k).as("code_bits"),
          expr(s"n_rows div $m").as("n_vectors"),
          graft.operators.Events.q(col("sd2").cast("double") /
            expr(s"n_rows div $m").cast("double") / lit(1e12), 6)
            .as("mean_mse"))
    }.reduce(_ unionAll _).orderBy("m")
  }

  /** Gaussian naive Bayes over the embedding table (W356): per-(label,
    * dim) mean/variance fit plus diagonal-covariance log-likelihood
    * scoring, surfaced as the resubstitution confusion matrix — the
    * generative counterpart to [[knnLabelConsistency]]'s instance-based
    * check of how separable the embedding space's labels are (NB fits
    * 2·L·D numbers; if THIS can classify the space, the labels are
    * linearly-ish separable per dim). Coordinates land on a 1e-9 LONG
    * grid so the (label, dim) moment sums are exact DECIMAL; each
    * per-dim log-density term −(x−μ)²/(2σ²) − ln(2πσ²)/2 quantizes to
    * a 1e-9 LONG before the per-vector sum (dim arrival order must not
    * wiggle bits); zero-variance dims contribute nothing (flagged by
    * the guard, not an ε-fudge); argmax breaks ties toward the
    * smallest label via one rank window. Scale: the L·D stats table is
    * a broadcast dimension; scoring is one pass over exploded
    * vector-dims × L — linear in corpus size, no self-join anywhere.
    */
  def gaussianNb(s: SparkSession, dir: String): DataFrame = {
    val xd = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("label"), col("dim"),
        floor(col("x").cast("double") * lit(1e9) + lit(0.5)).cast("long")
          .as("x9"))
    val stats = xd.groupBy(col("label").as("cls"), col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("x9").cast("decimal(38,0)")).as("sv"),
        sum((col("x9") * col("x9")).cast("decimal(38,0)")).as("sv2"))
    val priors = Tables.embeddings(s, dir).groupBy(col("label").as("cls"))
      .agg(count(lit(1)).as("nl"))
      .crossJoin(broadcast(
        Tables.embeddings(s, dir).agg(count(lit(1)).as("nv"))))
      .select(col("cls"),
        floor(log(col("nl").cast("double") / col("nv")) * lit(1e9) +
          lit(0.5)).cast("long").as("prior9"))
    val mu = col("sv").cast("double") / col("n")
    val v18 = (col("sv2").cast("double") -
      col("sv").cast("double") * col("sv").cast("double") / col("n")) /
      col("n")
    val term = -(col("x9") - mu) * (col("x9") - mu) / (lit(2.0) * v18) -
      log(lit(2.0 * math.Pi) * v18 / lit(1e18)) / 2
    val ll = xd.join(broadcast(stats), "dim")
      .select(col("vec_id"), col("label"), col("cls"),
        when(v18 > 0, floor(term * lit(1e9) + lit(0.5)).cast("long"))
          .otherwise(0L).as("t9"))
      .groupBy("vec_id", "label", "cls")
      .agg(sum(col("t9")).as("s9"))
      .join(broadcast(priors), "cls")
      .select(col("vec_id"), col("label"), col("cls"),
        (col("s9") + col("prior9")).as("ll9"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("ll9").desc, col("cls"))
    ll.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("label"), col("cls").as("predicted"))
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy("label", "predicted")
  }

  /** Polynomial-kernel MMD² two-sample test (W367) between the two
    * hash-halves of the embedding table — the kernel two-sample
    * distance (Gretton et al.) behind principled "did my embedding
    * distribution drift?" monitoring, where [[embeddingDrift]] only
    * compares centroids. The 100 TB trick: for the quadratic kernel
    * k(x,y) = (⟨x,y⟩ + 1)², the biased MMD² COLLAPSES to moment
    * matrices — MMD² = ‖M_A − M_B‖²_F + 2‖μ_A − μ_B‖² with
    * M = E[xxᵀ], μ = E[x] — so the whole pairwise-kernel computation
    * is two linear passes (one per moment) and a D²-sized broadcast
    * difference, never an n² kernel join. Coordinates ride the 1e-9
    * LONG grid so every moment sum is exact DECIMAL; each of the
    * D² + D difference terms lands on a 1e-15 LONG grid before the
    * final sums. Scale: corpus×D² partial-agg'd scan (same
    * accumulator class as [[covarianceMatrix]]), then broadcast-size
    * arithmetic.
    */
  def mmdPoly(s: SparkSession, dir: String): DataFrame = {
    val halves = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        when(pmod(pmod(col("vec_id"), lit(2147483648L)) * lit(8388593L),
          lit(100L)) < 50, lit("a")).otherwise(lit("b")).as("half"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("half"), col("dim"),
        floor(col("x").cast("double") * lit(1e9) + lit(0.5)).cast("long")
          .as("x9"))
      .persist()
    CacheScope.register(halves) // eager: first + second moments read it
    val nv = halves.filter(col("dim") === 0)
      .groupBy("half").agg(count(lit(1)).as("n"))
    val mu = halves.groupBy("half", "dim")
      .agg(sum(col("x9").cast("decimal(38,0)")).as("s"))
      .join(broadcast(nv), "half")
      .select(col("half"), col("dim"),
        (col("s").cast("double") / col("n") / lit(1e9)).as("m"))
    val xx = halves.select(col("vec_id"), col("half"),
        col("dim").as("i"), col("x9").as("xi"))
      .join(halves.select(col("vec_id"), col("dim").as("j"),
        col("x9").as("xj")), "vec_id")
      .groupBy("half", "i", "j")
      .agg(sum((col("xi") * col("xj")).cast("decimal(38,0)")).as("s2"))
      .join(broadcast(nv), "half")
      .select(col("half"), col("i"), col("j"),
        (col("s2").cast("double") / col("n") / lit(1e18)).as("mm"))
    def diffSum(df: DataFrame, keys: Seq[String], v: String) = {
      val a = df.filter(col("half") === "a")
        .select(keys.map(col) :+ col(v).as("va"): _*)
      val b = df.filter(col("half") === "b")
        .select(keys.map(col) :+ col(v).as("vb"): _*)
      a.join(b, keys)
        .select(floor((col("va") - col("vb")) * (col("va") - col("vb"))
          * lit(1e15) + lit(0.5)).cast("long").as("t15"))
        .agg(sum(col("t15")).as("s15"))
    }
    val fro = diffSum(xx, Seq("i", "j"), "mm")
      .select(col("s15").as("fro15"))
    val muD = diffSum(mu, Seq("dim"), "m")
      .select(col("s15").as("mu15"))
    val mmd2 = (col("fro15").cast("double") +
      lit(2.0) * col("mu15").cast("double")) / lit(1e15)
    nv.groupBy().pivot("half", Seq("a", "b")).agg(first(col("n")))
      .crossJoin(broadcast(fro)).crossJoin(broadcast(muD))
      .select(col("a").as("n_a"), col("b").as("n_b"),
        Events.q(col("fro15").cast("double") / lit(1e15), 9)
          .as("moment_gap"),
        Events.q(lit(2.0) * col("mu15").cast("double") / lit(1e15), 9)
          .as("mean_gap"),
        Events.q(mmd2, 9).as("mmd2"))
  }

  /** Johnson–Lindenstrauss random-projection distortion audit (W371):
    * how much does a ±1 sign projection to `k` dimensions distort
    * pairwise distances? The measured go/no-go for replacing full
    * embeddings with a cheap sketch in the dedup/ANN tier ([[knnIvf]],
    * [[dedupEmbeddingLsh]]) — JL promises ‖Sx/√k‖² ≈ ‖x‖², this op
    * measures the actual ratio distribution on real vectors. The sign
    * matrix is the md5 coin (`s(pos,j)` from the hash's last hex
    * digit — the [[Relational.amsF2]] lesson: the repo's poly-hashes
    * correlate with the fixture generator). Coordinates land on the
    * 1e-6 integer grid FIRST, so every projected coordinate is an
    * exact LONG dot product, both squared distances are exact LONGs,
    * and per-pair ratios r = k_inv·dproj²/dorig² quantize to 1e-6
    * before the exact-integer mean. Pairs are consecutive vec_ids —
    * n pairs from one shifted self-join, never O(n²). Scale: n·d
    * posexplode → (vec, j) partial agg (n·k rows out), one keyed
    * pair join.
    */
  def jlDistortion(s: SparkSession, dir: String, k: Int = 16)
  : DataFrame = {
    val e6 = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("pos"),
        floor(col("x").cast("double") * lit(1e6) + lit(0.5))
          .cast("long").as("e6"))
      .persist()
    CacheScope.register(e6) // eager: projection + original-dist reads
    val js = s.range(0, k).select(col("id").cast("int").as("j"))
    val d = substring(md5(concat(col("pos").cast("string"), lit("-"),
      col("j").cast("string"))), 32, 1)
    val sgn = when(d.isin("1", "3", "5", "7", "9", "b", "d", "f"),
      lit(-1L)).otherwise(lit(1L))
    val proj = e6.crossJoin(broadcast(js))
      .select(col("vec_id"), col("j"), (sgn * col("e6")).as("sx"))
      .groupBy("vec_id", "j").agg(sum(col("sx")).as("p"))
    def shifted(df: DataFrame, keys: Seq[String], v: String) =
      df.select((col("vec_id") + 1).as("vec_id") +:
        keys.map(col) :+ col(v).as(v + "b"): _*)
    val dProj = proj
      .join(shifted(proj, Seq("j"), "p"), Seq("vec_id", "j"))
      .groupBy("vec_id")
      .agg(sum((col("p") - col("pb")) * (col("p") - col("pb")))
        .as("dp2"))
    val dOrig = e6
      .join(shifted(e6, Seq("pos"), "e6"), Seq("vec_id", "pos"))
      .groupBy("vec_id")
      .agg(sum((col("e6") - col("e6b")) * (col("e6") - col("e6b")))
        .as("do2"))
    val r = dProj.join(dOrig, "vec_id")
      .filter(col("do2") > 0)
      .select(floor(col("dp2").cast("double") / lit(k.toDouble) /
        col("do2").cast("double") * lit(1e6) + lit(0.5)).cast("long")
        .as("r6"))
    r.agg(count(lit(1)).as("n_pairs"), sum(col("r6")).as("sr6"),
        min(col("r6")).as("mn6"), max(col("r6")).as("mx6"),
        sum(when(col("r6") < 500000L || col("r6") > 2000000L, 1L)
          .otherwise(0L)).as("n_bad"))
      .select(col("n_pairs"),
        Events.q(col("sr6").cast("double") / col("n_pairs") / lit(1e6),
          6).as("mean_ratio"),
        Events.q(col("mn6").cast("double") / lit(1e6), 6)
          .as("min_ratio"),
        Events.q(col("mx6").cast("double") / lit(1e6), 6)
          .as("max_ratio"),
        Events.q(col("n_bad").cast("double") / col("n_pairs"), 6)
          .as("bad_share"))
  }

  /** Greedy facility-location data selection (W440): pick `k`
    * exemplar vectors from a candidate pool maximizing corpus
    * coverage Σ_d max_{s∈S} sim(d, s) — the submodular "choose the
    * training subset that best represents everything" primitive
    * (1−1/e-optimal greedily, the data-selection workhorse next to
    * [[Dedup]]'s remove-redundancy view). Similarities land on the
    * 1e-6 LONG grid (negative cosines clamp to 0: an exemplar can't
    * anti-cover), so per-round marginal gains are exact integer sums
    * and the argmax tie-breaks on the smaller candidate id; each
    * round surfaces the chosen exemplar and the cumulative mean
    * coverage. The candidate pool is the first `pool` vectors — the
    * repo's deterministic k-means-seed stand-in — which is what
    * bounds the work: rounds × one (corpus × pool) broadcast join,
    * never corpus². Coverage state is one narrow (vec, cur) column,
    * checkpointed per round.
    */
  def facilityLocationSelect(s: SparkSession, dir: String, k: Int = 5,
                             pool: Int = 32): DataFrame = {
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val cand = emb.filter(col("vec_id") < pool)
      .select(col("vec_id").as("c"), col("embedding").as("cv"))
    val sims = CacheScope.track(emb.crossJoin(broadcast(cand))
      .select(col("vec_id").as("d"), col("c"),
        greatest(lit(0L),
          floor(cosine(col("embedding"), col("cv")) * lit(1e6) +
            lit(0.5)).cast("long")).as("s9"))
      .persist())
    val n = emb.count()
    var cur = emb.select(col("vec_id").as("d"), lit(0L).as("cur"))
    var chosen = List.empty[Long]
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Double)]
    import s.implicits._
    // OPTIMIZATION r11 (guide §4): chosen-set exclusion and the
    // selected exemplar ride broadcast local relations instead of
    // per-round literals (isInCollection / === sel), so every round
    // reuses the first round's generated code instead of re-compiling
    // the whole plan's codegen with new literal values. Same rows.
    for (r <- 1 to k) {
      val chosenDf = broadcast(chosen.toDF("cid"))
      val gains = sims
        .join(chosenDf, col("c") === col("cid"), "left_anti")
        .join(cur, "d")
        .groupBy("c").agg(sum(greatest(col("cur"), col("s9")))
          .as("gain"))
        .orderBy(col("gain").desc, col("c")).limit(1)
        .head()
      val sel = gains.getLong(0)
      val gain = gains.getLong(1)
      chosen = sel :: chosen
      val selDf = broadcast(Seq(sel).toDF("selc"))
      cur = cur.join(sims.join(selDf, col("c") === col("selc"))
          .select(col("d"), col("s9")), "d")
        .select(col("d"), greatest(col("cur"), col("s9")).as("cur"))
        .localCheckpoint()
      out += ((r, sel,
        math.floor(gain.toDouble / n / 1e6 * 1e6 + 0.5) / 1e6))
    }
    out.toSeq.toDF("round", "selected_vec", "mean_coverage")
  }

  /** TwoNN intrinsic-dimension estimate (W463, Facco et al.): from
    * each vector's two nearest cosine distances, μ = r₂/r₁, and the
    * MLE d̂ = n/Σ ln μ — "how many dimensions does the data ACTUALLY
    * occupy?", the number that says whether 128-d embeddings live on
    * a 10-d manifold (LSH/IVF will work brilliantly) or genuinely
    * fill the space. Distances land on the 1e-9 grid before the
    * ratio (exact-duplicate neighbors, r₁ = 0 on the grid, are
    * excluded and COUNTED — they'd send μ to ∞), each ln lands once
    * on the 1e-9 grid, and d̂ is one division. Neighbor candidates come
    * from the SAME IVF probe lists as [[knnLabelConsistency]] /
    * [[lofAudit]] (assign to nearest of `numCentroids`, probe the
    * `nprobe` nearest lists): n·nprobe·(n/C) candidate pairs, never an
    * all-pairs corpus broadcast (the r5 crossJoin(broadcast(emb)) was
    * O(n²) compute AND an unbounded broadcast — VERDICT r5 #2).
    * Queries whose probed lists hold <2 other vectors are counted out
    * of `n_valid` like the duplicate-r₁ ones.
    */
  def intrinsicDimension(s: SparkSession, dir: String,
                         numCentroids: Int = 16,
                         nprobe: Int = 4): DataFrame = {
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val cent = centroids(emb, numCentroids)
    val probes = nearestCentroids(emb.select(col("vec_id").as("query_id"),
      col("embedding").as("qv")), "query_id", "qv", cent, nprobe)
    val top2 = topK(
      candidates(invertedLists(emb, cent), probes.hint("shuffle_hash"))
        .select(col("query_id"), col("vec_id"),
          cosine(col("embedding"), col("qv")).as("sim")), 2)
      .select(col("query_id"), col("rank"),
        floor((lit(1.0) - col("sim")) * lit(1e9) + lit(0.5))
          .cast("long").as("d9"))
    val mu = top2.groupBy("query_id")
      .agg(min(when(col("rank") === 1, col("d9"))).as("d1"),
        min(when(col("rank") === 2, col("d9"))).as("d2"))
    val valid = mu.filter(col("d1") > 0 && col("d2").isNotNull)
      .select(floor(log(col("d2").cast("double") /
        col("d1").cast("double")) * lit(1e9) + lit(0.5)).cast("long")
        .as("l9"))
    val g = mu.agg(count(lit(1)).as("n_all"),
      sum((col("d1") === 0).cast("long")).as("n_dup"))
    val f = valid.agg(count(lit(1)).as("n_valid"),
      sum(col("l9")).as("sl9"))
    val sl9S = when(col("sl9") <= 0, lit(1L)).otherwise(col("sl9"))
    f.crossJoin(broadcast(g))
      .select(col("n_all").as("n_vecs"), col("n_dup").as("n_zero_r1"),
        col("n_valid"),
        when(col("sl9") > 0, Events.q(col("n_valid").cast("double") *
          lit(1e9) / sl9S.cast("double"), 4)).otherwise(lit(0.0))
          .as("id_hat"))
  }

  /** Wang–Isola alignment/uniformity (W469) on cosine distance
    * (for unit-norm vectors ‖x−y‖² = 2(1−cos), so the cosine form is
    * the embedding-native restatement): ALIGNMENT = mean (1−cos)
    * over SAME-label pairs (good representations pull positives
    * together → small), UNIFORMITY = ln E[e^{−4(1−cos)}] over ALL
    * pairs (good representations spread mass over the sphere → very
    * negative). The contrastive-quality pair that predicts
    * downstream linear-probe accuracy. Every pairwise term lands
    * once on the 1e-9 grid so both means are exact integer sums with
    * one division (+ one ln for uniformity). Exact all-pairs at or
    * below `exactCutoff` vectors (the fixture/oracle path); above it,
    * the DETERMINISTIC hash pair subsample (VERDICT r5 #3): each
    * vector lands in one of n/128 buckets by the same multiplicative
    * hash as [[Curation.pctHash]], and pairs form only inside a
    * bucket — an equality self-join on the bucket key (shuffle, no
    * corpus broadcast), ~64·n pairs total. The estimator is a plain
    * mean over pairs, so the hash sample plugs in unchanged.
    */
  def embeddingAlignment(s: SparkSession, dir: String,
                         exactCutoff: Long = 1024L): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select("vec_id", "embedding", "label")
    val n = emb.count()
    val aSide =
      if (n <= exactCutoff)
        emb.join(broadcast(emb.select(col("vec_id").as("vb"),
          col("embedding").as("eb"), col("label").as("lb"))),
          col("vec_id") < col("vb"))
      else {
        // deterministic ~128-vector buckets: bucket-keyed equality
        // self-join, ≈64·n pairs, sub-quadratic and broadcast-free
        val b = math.max(n / 128L, 1L)
        def bk(c: Column) =
          pmod(pmod(c, lit(2147483648L)) * lit(8388593L), lit(b))
        val withB = emb.withColumn("bk", bk(col("vec_id")))
        withB.join(
          withB.select(col("vec_id").as("vb"), col("embedding").as("eb"),
            col("label").as("lb"), col("bk")).hint("shuffle_hash"),
          Seq("bk"))
          .filter(col("vec_id") < col("vb"))
      }
    val pairs = CacheScope.track(aSide
      .select((col("label") === col("lb")).cast("long").as("same"),
        floor((lit(1.0) - cosine(col("embedding"), col("eb"))) *
          lit(1e9) + lit(0.5)).cast("long").as("d9"))
      .persist())
    val g = pairs.agg(count(lit(1)).as("np"),
      sum(col("same")).as("npos"),
      sum(when(col("same") === 1, col("d9")).otherwise(lit(0L)))
        .as("spos"),
      sum(floor(exp(col("d9").cast("double") / lit(-250000000.0)) *
        lit(1e9) + lit(0.5)).cast("long")).as("su9"))
    val nposS = when(col("npos") === 0, lit(1L)).otherwise(col("npos"))
    g.select(col("np").as("n_pairs"), col("npos").as("n_pos_pairs"),
      when(col("npos") > 0, Events.q(col("spos").cast("double") /
        (nposS.cast("double") * lit(1e9)), 6)).otherwise(lit(0.0))
        .as("alignment"),
      Events.q(log(col("su9").cast("double") /
        (col("np").cast("double") * lit(1e9))), 6).as("uniformity"))
  }
}
