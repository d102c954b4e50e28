package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{CacheScope, Tables}
import graft.functions.TextFns._

/** Dataset-curation tier — the split/sample/pack/decontaminate steps a
  * large-scale training-data pipeline runs between raw corpus and
  * training shards. Everything is deterministic (hash-derived, never
  * `rand()`), so runs are reproducible and the DuckDB oracle can
  * restate each operator exactly.
  *
  * Scale posture: sampling and splitting are stateless single-scan
  * filters (they pushdown-compose with any upstream operator); packing
  * shuffles once on the bucket key and folds each bucket in a single
  * streaming pass (secondary sort, no in-memory group collection);
  * decontamination broadcasts the (small) eval-set fingerprints to the
  * (huge) training side, the join direction that needs no corpus
  * shuffle at all.
  */
object Curation {

  /** The engine's deterministic percentage hash (same multiplicative
    * scheme as `Relational.sampleHash`, mod 2^31·8388593 — overflow-free
    * in BIGINT SQL, so the oracle replays it verbatim): maps any id to
    * a stable pseudo-uniform value in [0, 100).
    */
  def pctHash(id: Column): Column =
    pmod(pmod(id, lit(2147483648L)) * lit(8388593L), lit(100))

  /** Stratified sampling: per-stratum keep-percentages (e.g. downsample
    * the dominant language) applied via the deterministic hash — the
    * rebalancing step before training-mix assembly. A document's fate
    * depends only on its id, never on partitioning or row order.
    */
  def stratifiedSample(s: SparkSession, dir: String,
                       rates: Map[String, Int] = Map("en" -> 10),
                       defaultRate: Int = 40): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (els, (lang, r)) =>
      when(col("lang") === lang, lit(r)).otherwise(els)
    }
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"))
      .filter(pctHash(col("doc_id")) < rate)
  }

  /** Deterministic train/valid/test split (80/10/10 by default) with
    * per-(split, stratum) counts — the audit table a pipeline checks
    * before shipping shards. Split membership is a pure function of
    * doc_id, so re-runs and incremental appends never migrate a
    * document across splits.
    */
  def trainTestSplit(s: SparkSession, dir: String,
                     trainPct: Int = 80, validPct: Int = 10): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), pctHash(col("doc_id")).as("h"))
      .select(col("lang"),
        when(col("h") < trainPct, "train")
          .when(col("h") < trainPct + validPct, "valid")
          .otherwise("test").as("split"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"))

  /** Greedy sequence packing: bin documents into fixed-capacity context
    * windows (the pre-tokenization shard layout for LLM training).
    * Documents are bucketed by `doc_id % buckets`; within a bucket, in
    * doc_id order, each document joins the current bin unless it would
    * overflow `capacity` tokens, which opens a new bin (an oversized
    * document gets a bin of its own). Returns one row per document:
    * (doc_id, bucket, bin, fill) where fill = bin occupancy after
    * placement.
    *
    * The fold is order-dependent within a bucket, so it runs as the
    * secondary-sort pattern: one shuffle on the bucket key,
    * `sortWithinPartitions(bucket, doc_id)`, then a single streaming
    * pass per partition (bucket changes reset the state — several
    * buckets sharing a partition is fine, a bucket never spans two).
    * At 100 TB, `buckets` scales with the cluster (each bucket is one
    * task's streaming pass, state = two longs); the per-bucket greedy
    * answer is independent of bucket count.
    */
  def packSequences(s: SparkSession, dir: String,
                    buckets: Int = 8, capacity: Int = 256): DataFrame =
    packDocs(
      Tables.documents(s, dir)
        .select(col("doc_id"), tokenize(col("text")).as("ts"))
        .select(col("doc_id"), size(col("ts")).cast("long").as("n_tokens")),
      buckets, capacity)

  /** The packing core over any `(doc_id, n_tokens)` frame. */
  def packDocs(counts: DataFrame, buckets: Int, capacity: Int): DataFrame = {
    val s = counts.sparkSession
    import s.implicits._
    counts
      .select(col("doc_id"),
        pmod(col("doc_id"), lit(buckets.toLong)).as("bucket"),
        col("n_tokens").cast("long").as("n_tokens"))
      .repartition(col("bucket"))
      .sortWithinPartitions("bucket", "doc_id")
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        var curBucket = -1L
        var bin = 0L
        var fill = 0L
        it.map { case (id, b, n) =>
          if (b != curBucket) { curBucket = b; bin = 0L; fill = n }
          else if (fill + n > capacity) { bin += 1; fill = n }
          else fill += n
          (id, b, bin, fill)
        }
      }
      .toDF("doc_id", "bucket", "bin", "fill")
  }

  /** Eval-set decontamination: flag training documents sharing at least
    * one word `n`-gram with any held-out eval document (the overlap
    * check run before every benchmark claim). The eval set here is the
    * deterministic `doc_id % evalMod == 0` slice; returns
    * (doc_id, n_shared) = per-training-doc count of distinct shared
    * n-grams, for thresholding downstream.
    *
    * Scale shape: the eval side is tiny by construction, so its
    * distinct shingle set is collected once (the dimension broadcast)
    * and the corpus side is a single scan computing
    * `array_intersect` per document — no shuffle, no cache, no
    * explode of the 100 TB side. (The first cut materialized an
    * exploded (doc_id, shingle) table and broadcast-joined it: 3× the
    * wall time just writing shingle strings through the cache, for
    * the same answer.)
    */
  def contamination(s: SparkSession, dir: String,
                    n: Int = 4, evalMod: Long = 50,
                    driverCutoff: Int = 2000000): DataFrame = {
    import s.implicits._
    // eval slice: ~1/evalMod of the corpus. Raw load, not
    // Tables.documents: the spread-repartition there shuffles every
    // document's full text before the eval filter can drop 98% of them
    // (measured 3.3s of a 5s query at sf0.1).
    val evalSh = Tables.load(s, dir, "documents")
      .filter(pmod(col("doc_id"), lit(evalMod)) === 0)
      .select(col("doc_id"), tokenize(col("text")).as("ts"))
      .select(explode(
        array_distinct(Dedup.shingles(col("ts"), n))).as("sh"))
      .distinct()
    val corpus = Tables.documents(s, dir)
      .filter(pmod(col("doc_id"), lit(evalMod)) =!= 0)
      .select(col("doc_id"), tokenize(col("text")).as("ts"))
      .select(col("doc_id"),
        array_distinct(Dedup.shingles(col("ts"), n)).as("shs"))
    // the probe travels as xxhash64 LONGs, not shingle strings: 8
    // bytes/entry in one primitive array on the driver (~6-10× less
    // memory than the r5 string probe — VERDICT r5 #4) and the same
    // bytes broadcast to executors. `limit(cutoff+1).collect` answers
    // "does the eval set fit in the driver?" and fetches it in the
    // same action: < cutoff+1 rows back means we hold the COMPLETE
    // distinct set (the limit never bit).
    val evalH = evalSh.select(xxhash64(col("sh")).as("h")).distinct()
    val probe = evalH.limit(driverCutoff + 1).as[Long].collect()
    if (probe.length <= driverCutoff) {
      // per-doc shingles hash-probe the eval set in one codegen'd pass
      // via HashedSetProbeCount (sorted long[] shared once per
      // executor — see its scaladoc). Barrier keeps the n_shared
      // filter from being pushed below the projection with the whole
      // probe re-inlined.
      corpus
        .select(col("doc_id"),
          graft.expressions.HashExpressions.hashedSetProbeCount(
            col("shs"), probe).as("n_shared"))
        .filter(graft.expressions.OptimizerBarrier.noPushdown(
          col("n_shared") > 0))
    } else {
      // eval set too big for one executor's memory: distributed
      // fallback — explode the corpus shingle hashes and semi-count
      // against the eval hash table with an ordinary shuffle hash join
      // on the 8-byte key. countDistinct on the hash, not count of
      // joined rows: the probe path counts DISTINCT matched hashes, so
      // two distinct shingles in one doc colliding to the same
      // xxhash64 value must contribute 1 here too — both paths count
      // the same quantity. One extra shuffle — the price of not
      // holding the eval set anywhere whole.
      corpus
        .select(col("doc_id"),
          explode(col("shs")).as("sh"))
        .select(col("doc_id"), xxhash64(col("sh")).as("h"))
        .join(evalH, "h")
        .groupBy("doc_id")
        .agg(countDistinct(col("h")).cast("int").as("n_shared"))
    }
  }

  /** Per-source document quota: keep at most `cap` documents per source,
    * chosen by the deterministic hash order (hash, doc_id) — the
    * per-domain cap a web-corpus pipeline applies so no single site
    * dominates the training mix. A document's survival depends only on
    * its id and its source's other ids, never on row order. The rank
    * filter plans as WindowGroupLimit: each map task keeps its local
    * top-`cap` per source before the per-source shuffle, so the full
    * table never moves.
    */
  def sourceQuota(s: SparkSession, dir: String, cap: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(col("h"), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), pctHash(col("doc_id")).as("h"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= cap)
      .select("source", "doc_id")
  }

  /** Context-window chunk plan (W223): the overlapping-window layout a
    * pretraining (or RAG-indexing) pipeline cuts each document into —
    * windows of `maxTokens` advancing by `maxTokens - overlap`, last
    * window short, empty docs dropped. Pure integer arithmetic over
    * ONE tokenize pass (no content moves: the plan is (doc, chunk,
    * start, len) — the chunk TEXT is sliced later, at shard-write
    * time, exactly like `Multimodal.shardPlan` separates planning from
    * bytes). Chunk count is the exact integer
    * ceil((n - overlap) / stride), so both engines agree without a
    * float anywhere; per-doc fan-out is explode over a
    * sequence — codegen, no shuffle at all until a downstream
    * aggregation.
    */
  def chunkPlan(s: SparkSession, dir: String, maxTokens: Int = 128,
                overlap: Int = 32): DataFrame = {
    require(overlap >= 0 && overlap < maxTokens,
      "overlap must be in [0, maxTokens)")
    val stride = maxTokens - overlap
    Tables.documents(s, dir)
      .select(col("doc_id"), size(tokenize(col("text"))).cast("long").as("n"))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("n"),
        when(col("n") <= maxTokens, 1L)
          .otherwise(expr(s"CAST((n - $overlap + ${stride - 1}) div $stride AS BIGINT)"))
          .as("nc"))
      .select(col("doc_id"), col("n"),
        explode(sequence(lit(0L), col("nc") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * stride).as("start_tok"),
        least(lit(maxTokens.toLong), col("n") - col("chunk_id") * stride)
          .as("chunk_tokens"))
  }

  /** Token-budget mixing: admit documents per source in deterministic
    * hash order until the source's cumulative token count reaches
    * `budget` (the doc that crosses the line is the last one in). This
    * is the budgeted variant of `sourceQuota` — mixture weights in
    * tokens, the unit training runs actually meter. One shuffle on
    * source; the running sum is a single window pass.
    */
  def tokenBudget(s: SparkSession, dir: String,
                  budget: Long = 600): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), pctHash(col("doc_id")).as("h"),
        size(tokenize(col("text"))).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") - col("n_tokens") < budget)
      .select("source", "doc_id", "n_tokens", "cum_tokens")
  }

  /** Leakage-free feature standardization: per-dimension mean/stddev
    * fitted on the TRAIN slice only (the deterministic hash split, so
    * the fit is reproducible and appends never migrate rows across
    * the boundary), then applied to every row — the scaler pattern
    * where fitting on the full table would leak eval statistics into
    * training features. Stats are dim-sized (one partial-agg shuffle)
    * and broadcast back onto a single corpus scan. The moments are
    * fitted on EXACT order-insensitive sums — each value is quantized
    * to a 1e-6 grid (integer) and the first/second moments accumulate
    * as integer/decimal sums, so mu and sigma are bit-identical no
    * matter how partitions merge; the only doubles appear in the final
    * mu/sigma/z arithmetic, which both engines evaluate over identical
    * exact inputs. Output: (vec_id, pos, z).
    */
  def standardize(s: SparkSession, dir: String,
                  trainPct: Int = 80): DataFrame = {
    val ex = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("pos", "x")))
      .persist()
    CacheScope.register(ex) // eager: the fit and the transform both read it
    // quantized value: round-half-up to the 1e-6 grid, exact from there on
    val xi = round(col("x") * lit(1e6), 0).cast("long")
    val xiDec = xi.cast("decimal(19,0)")
    val stats = ex.filter(pctHash(col("vec_id")) < trainPct)
      .groupBy("pos")
      .agg(count(lit(1)).as("n"),
        sum(xi).as("sx"),                      // exact: fits long at any SF here
        sum(xiDec * xiDec).as("sxx"))          // exact: decimal, overflow-proof
    val mu = (col("sx").cast("double") / col("n")) / lit(1e6)
    val sigma = sqrt((col("sxx").cast("double") / col("n")) / lit(1e12)
      - mu * mu)
    // quantize z with floor(z·1e4 + 0.5)/1e4 rather than round(z, 4):
    // multiply/add/floor/divide are all IEEE-exact-rounded and therefore
    // bit-identical across engines, whereas double round() semantics are
    // implementation-defined on half-way reprs (and can emit -0.0, which
    // compares equal but hashes differently). floor() can never yield
    // a negative zero, so the surfaced doubles are canonical.
    val z = (col("x") - mu) / sigma
    val out = ex.join(broadcast(stats), "pos")
      .select(col("vec_id"), col("pos"),
        (floor(z * lit(1e4) + lit(0.5)) / lit(1e4)).as("z"))
    out
  }

  /** Leakage-safe train/test split: split membership is decided by the
    * DUP-CLUSTER's canonical id, not the document's own, so near-
    * duplicate documents can never straddle the train/eval boundary —
    * the contamination mode plain per-doc splits are blind to. Returns
    * per-(split, stratum) counts like `trainTestSplit`; the cluster
    * assignment reuses the near-dup machinery (pairs → components).
    */
  def leakageSafeSplit(s: SparkSession, dir: String,
                       trainPct: Int = 80, validPct: Int = 10): DataFrame = {
    val assigned = Dedup.assignCanonical(s, dir,
      Dedup.minhashPairs(s, dir, 0.8))
    Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      .join(assigned, "doc_id")
      .select(col("lang"), pctHash(col("canonical_id")).as("h"))
      .select(col("lang"),
        when(col("h") < trainPct, "train")
          .when(col("h") < trainPct + validPct, "valid")
          .otherwise("test").as("split"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Gini coefficient of token mass across documents — how unequally
    * the corpus' tokens concentrate in few documents (0 = perfectly
    * even, →1 = a handful of giants dominate), the balance metric a
    * mix owner checks before sharding. Standard rank formula
    * G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over ascending (n_tokens, doc_id),
    * restated per VALUE GROUP (the W482 `gini_mean_difference` identity,
    * round-8 plan hardening): a tie block of ct docs of length v after
    * cb shorter docs occupies ranks cb+1..cb+ct regardless of doc_id
    * order, so Σ i·xᵢ = Σᵥ v·(ct·cb + ct(ct+1)/2) — one exact LONG per
    * distinct length (ct(ct+1) is even; shiftright halves it exactly).
    * No per-document rank window survives: the one remaining global
    * window cumulates over DISTINCT document lengths — a value grid
    * bounded by max doc length, never corpus-proportional.
    */
  def tokenGini(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(s, dir)
      .select(size(tokenize(col("text"))).cast("long").as("n_tokens"))
    val byV = counts.groupBy("n_tokens").agg(count(lit(1)).as("ct"))
    val cb = coalesce(sum(col("ct")).over(Window.orderBy("n_tokens")
      .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    byV.select(col("n_tokens"), col("ct"), cb.as("cb"))
      .agg(sum(col("ct")).as("n_docs"),
        sum(col("n_tokens") * col("ct")).as("total_tokens"),
        sum(col("n_tokens") * (col("ct") * col("cb") +
          shiftright(col("ct") * (col("ct") + 1), 1))).as("six"))
      .select(col("n_docs"), col("total_tokens"),
        round(lit(2.0) * col("six") /
          (col("n_docs") * col("total_tokens")) -
          (col("n_docs") + lit(1.0)) / col("n_docs"), 6).as("gini"))
  }

  /** LM-score tiering: the corpus bucketed into deciles of unigram
    * log-probability, with per-tier document counts, mean score and
    * token mass — the table a curation run reads to pick its "drop
    * the bottom-k tiers" threshold (the cheap stand-in for
    * perplexity-bucket filtering). Boundaries via one exact-percentile
    * aggregate broadcast back (equi-depth two-pass shape; swap to
    * approx_percentile at 100 TB).
    */
  def lmScoreTiers(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val scores = TextStats.unigramLogProb(s, dir)
      .select(col("doc_id"), col("avg_logprob"), col("n_tokens"))
      .persist()
    CacheScope.register(scores) // eager: boundaries + assignment both read it
    val probs = array((1 until k).map(i => lit(i.toDouble / k)): _*)
    val bounds = scores.agg(transform(
      percentile(col("avg_logprob"), probs), b => round(b, 6)).as("bs"))
    scores.crossJoin(broadcast(bounds))
      .select(col("avg_logprob"), col("n_tokens"),
        (aggregate(col("bs"), lit(0),
          (acc, b) => acc + when(col("avg_logprob") > b, 1).otherwise(0)) + 1)
          .cast("long").as("tier"))
      .groupBy("tier")
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("avg_logprob")), 6).as("mean_logprob"),
        sum(col("n_tokens")).as("n_tokens"))
  }

  /** Robust per-dimension scaling of the embedding matrix:
    * z = (x − median) / MAD — the outlier-insensitive sibling of
    * [[standardize]] (a single corrupted vector shifts a mean/stddev fit
    * but not a median/MAD one). Two exact-percentile passes over the
    * exploded (pos, x) table: medians, then median absolute deviation
    * around them; both broadcast back (64 rows). Both statistics are
    * rounded to the 1e-9 grid BEFORE the z division so every engine
    * divides identical doubles (oracle-parity rule). At 100 TB swap the
    * exact `percentile` for `approx_percentile` — same two-pass shape,
    * mergeable sketches instead of per-group sorts.
    */
  def robustScale(s: SparkSession, dir: String): DataFrame = {
    val ex = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("pos", "x")))
      .persist()
    CacheScope.register(ex) // eager: median fit, MAD fit and transform read it
    val med = ex.groupBy("pos")
      .agg(round(percentile(col("x"), lit(0.5)), 9).as("med"))
    val mad = ex.join(broadcast(med), "pos")
      .groupBy(col("pos"), col("med"))
      .agg(round(percentile(abs(col("x") - col("med")), lit(0.5)), 9)
        .as("mad"))
    ex.join(broadcast(mad), "pos")
      .select(col("vec_id"), col("pos"),
        when(col("mad") =!= 0.0,
          round((col("x") - col("med")) / col("mad"), 4)).as("z"))
  }

  /** Per-source rank normalization of a quality signal: each
    * document's score becomes its percent-rank WITHIN its source —
    * the calibration step before mixing sources whose raw quality
    * scales differ (one crawler's 0.8 is another's 0.3; ranks
    * compare). One shuffle on source; character count stands in for
    * the quality score so the operator is self-contained.
    */
  def rankNormalize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("norm_score", round(percent_rank().over(w), 6))
  }

  /** Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    * each row draws a deterministic pseudo-uniform u from its key and
    * competes on priority key −ln(u)/w (w = o_totalprice); the k
    * smallest keys per group win. One window pass reproduces
    * probability-proportional-to-size sampling — no iterative draws, no
    * `rand()`, so re-runs and the oracle replay it exactly. The rank
    * filter plans as WindowGroupLimit, so each partition keeps only k
    * candidates before the group shuffle.
    */
  def weightedSample(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // u on a 2^20 grid, offset half a cell so ln(u) is finite
    val u = (pmod(pmod(col("o_orderkey"), lit(2147483648L)) * lit(8388593L),
      lit(1048576L)) + lit(0.5)) / lit(1048576.0)
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("es_key"), col("o_orderkey"))
    Tables.orders(s, dir)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        (-log(u) / col("o_totalprice")).as("es_key"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("o_orderpriority", "o_orderkey", "o_totalprice")
  }

  /** α-temperature source mixing weights (the multi-source sampling
    * table LLaMA/Pile-style pretraining mixes use): each source's
    * sampling weight ∝ (token count)^α, α<1 up-weighting small sources,
    * plus the implied per-source sampling factor (weight ÷ natural
    * share — >1 means up-sampled). One full-scan aggregate to per-source
    * token totals (whitespace-token `regexp_count`, the `token_counts`
    * definition), then arithmetic over the tiny per-source frame; the
    * corpus is read exactly once (`localCheckpoint` pins the per-source
    * rows before the normalizer aggregate re-reads them). The `pow` is
    * rounded to 6 dp BEFORE normalizing so both engines cut on the same
    * doubles.
    */
  def mixWeights(s: SparkSession, dir: String,
                 alpha: Double = 0.3): DataFrame = {
    val per = Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(regexp_count(col("text"), lit("\\S+")).cast("long"))
          .as("n_tokens"))
      .withColumn("wr",
        round(pow(col("n_tokens").cast("double"), lit(alpha)), 6))
      .localCheckpoint()
    per.crossJoin(broadcast(per.agg(sum(col("wr")).as("_tw"),
        sum(col("n_tokens")).as("_tn"))))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("wr") / col("_tw"), 6).as("weight"),
        round(col("wr") / col("_tw") * col("_tn") / col("n_tokens"), 6)
          .as("sample_factor"))
  }

  /** DSIR-style importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling"): score every document
    * by how much more likely its unigrams are under a TARGET
    * distribution (here: the `lang = 'en'` slice) than under the RAW
    * corpus distribution — log w(d) = Σ_w c_{d,w}·(ln p_tgt(w) −
    * ln p_raw(w)), add-one smoothing over the raw vocabulary — and
    * keep the top-`k` docs. DSIR proper hashes n-grams into buckets;
    * unigrams-as-features keeps the estimator exactly restatable in
    * SQL (no engine-specific hash) without changing the structure.
    *
    * One tokenize scan → (doc, word) counts; both language models are
    * tiny per-word aggregates of that frame; the per-word log-ratio
    * joins back on the word key (at 100 TB the LM table is ≤ vocab
    * rows — broadcastable). The log-ratio is rounded to 9 dp BEFORE
    * the per-doc sum (libm vs Math.log last-ulp), the doc score to
    * 6 dp before the top-k cut, so both engines rank identically.
    */
  def dsirWeights(s: SparkSession, dir: String, k: Int = 50): DataFrame = {
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), tokenize(col("text")).as("ts"))
      .select(col("doc_id"), col("lang"), explode(col("ts")).as("w"))
      .groupBy("doc_id", "lang", "w").agg(count(lit(1)).as("c"))
      .persist()
    CacheScope.register(tf) // eager: raw LM, target LM, and scoring scans
    val raw = tf.groupBy("w").agg(sum(col("c")).as("rc"))
    val tgt = tf.filter(col("lang") === "en")
      .groupBy("w").agg(sum(col("c")).as("tc"))
    val lm = raw.join(tgt, Seq("w"), "left")
      .na.fill(0L, Seq("tc"))
      .localCheckpoint() // totals below re-read it
    val lr = lm.crossJoin(broadcast(lm.agg(
        sum(col("rc")).as("_rtot"), sum(col("tc")).as("_ttot"),
        count(lit(1)).as("_v"))))
      .select(col("w"), round(
        log((col("tc") + 1).cast("double") / (col("_ttot") + col("_v"))) -
          log((col("rc") + 1).cast("double") / (col("_rtot") + col("_v"))),
        9).as("lr"))
    tf.join(lr, "w")
      .groupBy("doc_id")
      .agg(round(sum(col("c") * col("lr")), 6).as("log_weight"))
      .orderBy(col("log_weight").desc, col("doc_id"))
      .limit(k)
  }

  /** Deterministic negative sampling: for every vector, `k` negatives
    * drawn from OTHER labels in the global hash order — the
    * contrastive-pair assembly step of embedding training, made
    * reproducible (a vector's negatives depend only on ids, never on
    * partitioning). Scale shape: the global candidate pool collapses
    * to the top-`k` hash-ranked ids PER LABEL (labels × k rows — the
    * classic merge argument: the global top-k over "labels ≠ mine" is
    * contained in the union of each label's top-k), broadcast onto
    * one scan of the corpus; the full table never self-joins.
    */
  def negativeSamples(s: SparkSession, dir: String,
                      k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), pctHash(col("vec_id")).as("h"))
    val perLabel = Window.partitionBy("label")
      .orderBy(col("h"), col("vec_id"))
    val cands = emb
      .withColumn("rn", row_number().over(perLabel))
      .filter(col("rn") <= k)
      .select(col("label").as("neg_label"), col("vec_id").as("neg_id"),
        col("h").as("neg_h"))
    val perVec = Window.partitionBy("vec_id")
      .orderBy(col("neg_h"), col("neg_id"))
    emb.select(col("vec_id"), col("label"))
      .join(broadcast(cands), col("label") =!= col("neg_label"))
      .withColumn("rank", row_number().over(perVec))
      .filter(col("rank") <= k)
      .select(col("vec_id"), col("rank"), col("neg_id"), col("neg_label"))
  }

  /** Padding-waste curve (W225): for each candidate context length,
    * the token cost of the naive one-document-per-sequence layout —
    * sequences minted, padded token volume, waste, utilization. This
    * is the table that justifies (or kills) sequence packing ([[pack]])
    * and picks the context length: utilization falling off a cliff at
    * 1024 is the argument for packing short documents. Everything up
    * to the final utilization ratio is EXACT integer arithmetic
    * (ceil-div via `(n + L - 1) div L`); one tokenize scan fans out ×4
    * through a codegen'd explode, then a 4-group partial aggregate —
    * no per-doc state, scan-bound at any corpus size.
    */
  def paddingWaste(s: SparkSession, dir: String,
                   lengths: Seq[Int] = Seq(128, 256, 512, 1024)): DataFrame = {
    val lens = array(lengths.map(l => lit(l.toLong)): _*)
    Tables.documents(s, dir)
      .select(size(tokenize(col("text"))).cast("long").as("n"))
      .filter(col("n") > 0)
      .select(col("n"), explode(lens).as("context_len"))
      .groupBy("context_len")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("total_tokens"),
        sum(expr("(n + context_len - 1) div context_len")).as("n_seqs"))
      .select(col("context_len"), col("n_docs"), col("total_tokens"),
        col("n_seqs"),
        (col("n_seqs") * col("context_len")).as("padded_tokens"),
        (col("n_seqs") * col("context_len") - col("total_tokens"))
          .as("pad_waste"),
        Events.q(col("total_tokens").cast("double") /
          (col("n_seqs") * col("context_len")), 6).as("utilization"))
      .orderBy("context_len")
  }

  /** Data-constrained epoch plan (W226): the repetition table from
    * "Scaling Data-Constrained Language Models" (Muennighoff et al.,
    * NeurIPS 2023) — given a token budget of `budgetMult`× the corpus
    * and [[mixWeights]]' α-temperature shares, how many epochs each
    * source is replayed, with the replay capped at `maxEpochs` (beyond
    * ~4 epochs repeated data stops buying loss). Surfaces the clamp
    * and the budget the caps leave unfilled, which is exactly the
    * number a data-acquisition decision reads. Source cardinality is
    * tiny at any corpus scale, so after the one corpus scan for token
    * counts everything is a broadcast of a ≤`sources`-row table.
    */
  def epochPlan(s: SparkSession, dir: String, alpha: Double = 0.3,
                budgetMult: Int = 3, maxEpochs: Int = 4): DataFrame = {
    val per = Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(sum(regexp_count(col("text"), lit("\\S+")).cast("long"))
        .as("n_tokens"))
      .withColumn("wr",
        round(pow(col("n_tokens").cast("double"), lit(alpha)), 6))
      .localCheckpoint() // totals below re-read it
    val planned = per.crossJoin(broadcast(per.agg(
        sum(col("wr")).as("_tw"), sum(col("n_tokens")).as("_tn"))))
      .select(col("source"), col("n_tokens"),
        round(col("wr") / col("_tw"), 6).as("weight"),
        (col("_tn") * budgetMult).as("budget"))
      .select(col("source"), col("n_tokens"), col("weight"), col("budget"),
        floor(col("weight") * col("budget") + lit(0.5)).cast("long")
          .as("desired_tokens"))
      .select(col("source"), col("n_tokens"), col("weight"),
        col("desired_tokens"),
        least(col("desired_tokens"), col("n_tokens") * maxEpochs)
          .as("allocated_tokens"),
        (col("desired_tokens") > col("n_tokens") * maxEpochs).as("clamped"),
        col("budget"))
      .localCheckpoint() // the fill ratio below re-reads it
    planned.crossJoin(broadcast(
        planned.agg(sum(col("allocated_tokens")).as("_alloc"))))
      .select(col("source"), col("n_tokens"), col("weight"),
        col("desired_tokens"), col("allocated_tokens"), col("clamped"),
        Events.q(col("allocated_tokens").cast("double") / col("n_tokens"), 6)
          .as("epochs"),
        Events.q(col("_alloc").cast("double") / col("budget"), 6)
          .as("budget_fill"))
      .orderBy("source")
  }

  /** Neyman eval-set allocation (W232): distribute an evaluation
    * budget of `budget` documents across language strata proportionally
    * to N_h·σ_h (stratum size × within-stratum std of document length)
    * — the textbook minimum-variance stratified design, replacing the
    * proportional-only allocation a naive split uses (a high-variance
    * stratum needs more eval mass than its share of documents).
    * Determinism recipe: per-stratum moments are exact integer sums;
    * σ_h is one sqrt then a 1e-9 grid-quantize TO AN INTEGER, so the
    * cross-stratum normalizer Σ N_h·σ_h is an order-free LONG sum —
    * no float accumulation anywhere. One corpus scan, then arithmetic
    * over a ≤|langs|-row broadcast table.
    */
  def evalAlloc(s: SparkSession, dir: String, budget: Int = 100): DataFrame = {
    val per = Tables.documents(s, dir)
      .select(col("lang"), size(tokenize(col("text"))).cast("long").as("n"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("sn"),
        sum(col("n") * col("n")).as("s2"))
      .select(col("lang"), col("n_docs"), col("sn"),
        floor(sqrt(greatest(lit(0.0),
          (col("s2").cast("double") -
            col("sn").cast("double") * col("sn") / col("n_docs")) /
            col("n_docs"))) * lit(1e9) + lit(0.5)).cast("long")
          .as("std_i"))
      .localCheckpoint() // the normalizer below re-reads it
    per.crossJoin(broadcast(
        per.agg(sum(col("n_docs") * col("std_i")).as("_tot"))))
      .select(col("lang"), col("n_docs"),
        Events.q(col("sn").cast("double") / col("n_docs"), 6)
          .as("mean_len"),
        (col("std_i").cast("double") / lit(1e9)).as("std_len"),
        when(col("_tot") > 0,
          Events.q((col("n_docs") * col("std_i")).cast("double") /
            col("_tot"), 6)).otherwise(lit(0.0)).as("share"))
      .select(col("lang"), col("n_docs"), col("mean_len"), col("std_len"),
        col("share"),
        floor(col("share") * budget + lit(0.5)).cast("long").as("quota"))
      .orderBy("lang")
  }

  /** Curation filter funnel (W227): the Gopher-style attrition table —
    * documents surviving each successive quality rule (min/max length,
    * mean word length band, stopword presence, top-token repetition
    * cap), with per-stage drop counts. Pipelines read this before
    * shipping a filter config: a stage that drops 40% of a source is
    * either a bug or a finding. Every rule is evaluated as EXACT
    * integer arithmetic (mean-word-length and repetition bounds are
    * cross-multiplied, never divided), so both engines agree row-for-
    * row. One tokenize scan computes all five flags; the funnel is a
    * single conditional-aggregate pass — no joins, no re-scans.
    */
  def filterFunnel(s: SparkSession, dir: String): DataFrame = {
    val en = TextStats.Stopwords.head._2
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), tokenize(col("text")).as("ts"))
    // the repetition signal needs the max within-doc token frequency:
    // one (doc, token) count shuffle then a doc-keyed max — the
    // tokenEntropy shape, pre-aggregated map-side, vocab-bounded
    val maxf = toks
      .select(col("doc_id"), explode(col("ts")).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("maxf"))
    val flags = toks
      .select(col("doc_id"), size(col("ts")).cast("long").as("n"),
        aggregate(col("ts"), lit(0L), (acc, t) => acc + length(t))
          .as("sumlen"),
        size(filter(col("ts"), t => t.isin(en.map(lit): _*))).cast("long")
          .as("n_stop"))
      .join(maxf, Seq("doc_id"), "left")
      .select(col("n"), col("sumlen"), col("n_stop"),
        coalesce(col("maxf"), lit(0L)).as("maxf"))
      .select(
        (col("n") >= 10).as("f1"),
        (col("n") <= 5000).as("f2"),
        (col("sumlen") >= col("n") * 2 && col("sumlen") <= col("n") * 12)
          .as("f3"),
        (col("n_stop") > 0).as("f4"),
        (col("maxf") * 5 <= col("n")).as("f5"))
    val cum = flags.select(
      count(lit(1)).as("c0"),
      sum(when(col("f1"), 1L).otherwise(0L)).as("c1"),
      sum(when(col("f1") && col("f2"), 1L).otherwise(0L)).as("c2"),
      sum(when(col("f1") && col("f2") && col("f3"), 1L).otherwise(0L))
        .as("c3"),
      sum(when(col("f1") && col("f2") && col("f3") && col("f4"), 1L)
        .otherwise(0L)).as("c4"),
      sum(when(col("f1") && col("f2") && col("f3") && col("f4") &&
        col("f5"), 1L).otherwise(0L)).as("c5"))
    val stages = Seq(
      (0, "all_documents", "c0", "c0"),
      (1, "min_length_10", "c1", "c0"),
      (2, "max_length_5000", "c2", "c1"),
      (3, "mean_word_len_2_12", "c3", "c2"),
      (4, "has_stopword", "c4", "c3"),
      (5, "top_token_share_le_20pct", "c5", "c4"))
    cum.select(explode(array(stages.map { case (i, nm, cur, prev) =>
        struct(lit(i).as("stage"), lit(nm).as("rule"),
          col(cur).as("survivors"),
          (col(prev) - col(cur)).as("dropped_here"))
      }: _*)).as("s"))
      .select(col("s.stage").as("stage"), col("s.rule").as("rule"),
        col("s.survivors").as("survivors"),
        col("s.dropped_here").as("dropped_here"))
      .orderBy("stage")
  }

  /** Right-to-erasure cascade impact (W320): given a deterministic 5%
    * customer cohort (the hash-arm convention on c_custkey), count
    * everything a GDPR-style deletion would cascade through — orders,
    * lineitems, and the revenue share leaving the analytical tables.
    * The sizing audit run BEFORE building a deletion pipeline: it
    * prices the tombstone volume and says whether affected partitions
    * need rewrite or the cohort is spread thin (it always is — hash
    * cohorts hit every partition, which is exactly the point the
    * number makes). Two key joins down the FK chain, exact 1e6-grid
    * revenue sums, one row out.
    */
  def deletionImpact(s: SparkSession, dir: String,
                     pct: Int = 5): DataFrame = {
    val dec = "decimal(38,0)"
    val cohort = Tables.customer(s, dir)
      .filter(pmod(pmod(col("c_custkey"), lit(2147483648L)) *
        lit(8388593L), lit(100L)) < pct)
      .select(col("c_custkey"))
    val nCust = Tables.customer(s, dir).agg(count(lit(1)).as("n_cust"))
    val ords = Tables.orders(s, dir)
      .join(cohort, col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("o_orderkey"))
      .localCheckpoint() // counted + probed by the lineitem semi-join
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"),
        floor(col("l_extendedprice") * lit(1e6) + lit(0.5)).cast("long")
          .as("rev"))
    val affected = li
      .join(ords, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .agg(count(lit(1)).as("n_lineitems"),
        sum(col("rev").cast(dec)).as("rev_del"))
    val total = li.agg(count(lit(1)).as("n_li_total"),
      sum(col("rev").cast(dec)).as("rev_total"))
    cohort.agg(count(lit(1)).as("n_customers"))
      .crossJoin(broadcast(nCust))
      .crossJoin(broadcast(ords.agg(count(lit(1)).as("n_orders"))))
      .crossJoin(broadcast(affected))
      .crossJoin(broadcast(total))
      .select(col("n_customers"), col("n_cust").as("n_customers_total"),
        col("n_orders"), col("n_lineitems"),
        Events.q(col("rev_del").cast("double") /
          col("rev_total").cast("double"), 6).as("revenue_share"))
  }

  /** Randomized-response debiasing audit (W333) — Warner's 1965
    * mechanism, the collection-side privacy primitive under local
    * DP: each row's sensitive bit ("is this a purchase event") is
    * reported FLIPPED with probability p = 1/4, and the analyst
    * recovers the population rate via π̂ = (λ̂ − p)/(1 − 2p). Run
    * deterministically with the repo's hash-arm coin (flip ⟺
    * event-hash < 25/100), the audit surfaces the true rate, the
    * noised reported rate, the debiased estimate, its error, and the
    * mechanism's ε = ln((1−p)/p) — the end-to-end check that the
    * debias pipeline is wired right BEFORE real noise (where no
    * ground truth exists) flows through it. All exact integer counts;
    * three final divisions.
    */
  def randomizedResponse(s: SparkSession, dir: String,
                         flipPct: Int = 25): DataFrame = {
    val ev = Tables.events(s, dir).select(
      (col("event_type") === "purchase").cast("long").as("b"),
      (pmod(pmod(col("event_id"), lit(2147483648L)) * lit(8388593L),
        lit(100L)) < flipPct).cast("long").as("flip"))
    val p = flipPct / 100.0
    ev.select(col("b"),
        (col("b") + col("flip") - lit(2L) * col("b") * col("flip"))
          .as("rep")) // b XOR flip in arithmetic
      .agg(count(lit(1)).as("n"), sum(col("b")).as("nb"),
        sum(col("rep")).as("nr"))
      .select(col("n"),
        Events.q(col("nb").cast("double") / col("n"), 6)
          .as("true_rate"),
        Events.q(col("nr").cast("double") / col("n"), 6)
          .as("reported_rate"),
        Events.q((col("nr").cast("double") / col("n") - lit(p)) /
          lit(1.0 - 2 * p), 6).as("debiased_rate"),
        Events.q(abs((col("nr").cast("double") / col("n") - lit(p)) /
          lit(1.0 - 2 * p) -
          col("nb").cast("double") / col("n")), 6).as("abs_error"),
        Events.q(log(lit((1.0 - p) / p)), 6).as("epsilon"))
  }

  /** Iterative proportional fitting / raking (W361): reweight the
    * lang × source document grid so BOTH marginals become uniform —
    * the Deming–Stephan balancing step a curation pipeline runs when
    * the corpus must match target language AND source mixes at once
    * and per-axis quotas ([[sourceQuota]], [[mixWeights]]) fight each
    * other. Two full (row-scale, column-scale) rounds, unrolled; after
    * every scale the cell weights land back on a 1e-6 LONG grid, so
    * each round's marginal sums are EXACT integer sums (a float
    * weight-sum's merge order would otherwise leak into the next
    * round's factors — the same reason [[Events.pageHinkley]] grids
    * before its cumulative sum). Output: every present cell's raw
    * count and raked weight. Scale: the grid is (langs × sources)
    * rows — margin-cardinality, not corpus-bound, after one keyed
    * count; each step is one keyed sum + broadcast join.
    */
  def ipfRaking(s: SparkSession, dir: String, rounds: Int = 2): DataFrame = {
    val cells = Tables.documents(s, dir)
      .groupBy("lang", "source").agg(count(lit(1)).as("n"))
      .persist()
    CacheScope.register(cells) // eager: glob + 4 scale steps read it
    val glob = cells.agg(sum(col("n")).as("tt"),
      countDistinct(col("lang")).as("r"),
      countDistinct(col("source")).as("c"))
    var w = cells.crossJoin(broadcast(glob))
      .select(col("lang"), col("source"), col("n"),
        col("tt"), col("r"), col("c"), (col("n") * lit(1000000L)).as("w6"))
    for (_ <- 1 to rounds; axis <- Seq("lang", "source")) {
      val tgt = if (axis == "lang")
        col("tt").cast("double") * lit(1e6) / col("r")
      else col("tt").cast("double") * lit(1e6) / col("c")
      val sums = w.groupBy(col(axis).as("kx"))
        .agg(sum(col("w6")).as("s6"))
      w = w.join(broadcast(sums), w(axis) === col("kx"))
        .select(col("lang"), col("source"), col("n"), col("tt"),
          col("r"), col("c"),
          floor(col("w6").cast("double") * tgt / col("s6") + lit(0.5))
            .cast("long").as("w6"))
    }
    w.select(col("lang"), col("source"), col("n"),
        Events.q(col("w6").cast("double") / lit(1e6), 6).as("w_raked"))
      .orderBy("lang", "source")
  }

  /** ε-differential-privacy histogram utility audit (W445): before
    * releasing the per-day event-count histogram under Laplace noise
    * (scale b = Δ/ε, sensitivity Δ = 1 for a count histogram), report
    * what the noise would COST — expected total L1 error k·b (each
    * Laplace cell contributes E|Lap(b)| = b exactly), its share of
    * the true mass, and how many cells are NOISE-DOMINATED (true
    * count ≤ ⌈b⌉, where the released value is mostly noise) — the
    * deterministic go/no-go audit run before any DP release, next to
    * the k-anonymity/l-diversity/t-closeness tier. No RNG anywhere:
    * the audit uses closed-form noise moments against exact counts.
    * Scale: one day-keyed count agg.
    */
  def dpUtilityAudit(s: SparkSession, dir: String,
                     eps: Double = 1.0): DataFrame = {
    val b = 1.0 / eps
    val ceilB = math.ceil(b).toLong
    val daily = Tables.events(s, dir)
      .select(floor(unix_timestamp(col("ts")) / lit(86400L)).as("day"))
      .groupBy("day").agg(count(lit(1)).as("cnt"))
    daily.agg(count(lit(1)).as("k_cells"),
        sum(col("cnt")).as("n_total"),
        sum((col("cnt") <= ceilB).cast("long")).as("noise_dominated"))
      .select(col("k_cells"), col("n_total"),
        lit(eps).as("eps"),
        Events.q(col("k_cells").cast("double") * lit(b), 4)
          .as("exp_l1_error"),
        Events.q(col("k_cells").cast("double") * lit(b) /
          col("n_total").cast("double"), 6).as("rel_error"),
        col("noise_dominated"))
  }

  /** Near-dup × quality contingency (W496): are near-duplicate
    * documents LOWER quality than the rest of the corpus? The 2×2 of
    * (has-a-near-dup, quality-above-median) with its odds ratio — the
    * audit that tells a pipeline whether dedup doubles as a quality
    * filter (boilerplate/SEO spam clusters heavily) or is orthogonal.
    * The median is the cross-multiplied cumulative rule on the
    * 1e-6 quality grid (exact integer, no interpolation); all four
    * cells are exact counts; the odds ratio and the two dup-rates are
    * pinned double chains over those LONGs. One pair-set pass + one
    * quality scan.
    */
  def dupQualityMatrix(s: SparkSession, dir: String,
                       threshold: Double = 0.8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qual = graft.operators.TextStats.quality(s, dir)
      .select(col("doc_id"),
        floor(col("quality") * lit(1e6) + lit(0.5)).cast("long")
          .as("q6"))
      .persist()
    CacheScope.register(qual)
    val pairs = graft.operators.Dedup.jaccardPairs(s, dir, threshold)
    val dups = pairs.select(col("doc_a").as("doc_id"))
      .unionAll(pairs.select(col("doc_b").as("doc_id")))
      .distinct()
    val byQ = qual.groupBy("q6").agg(count(lit(1)).as("ct"))
    val tot = byQ.agg(sum(col("ct")).as("nn"))
    val med = byQ
      .select(col("q6"), sum(col("ct")).over(Window.orderBy("q6")
        .rowsBetween(Window.unboundedPreceding, 0)).as("cum"))
      .crossJoin(broadcast(tot))
      .filter(col("cum") * 2 >= col("nn"))
      .agg(min(col("q6")).as("medq"))
    val fl = qual
      .join(dups.withColumn("isdup", lit(1L)), Seq("doc_id"), "left")
      .crossJoin(broadcast(med))
      .select(coalesce(col("isdup"), lit(0L)).as("dup"),
        (col("q6") > col("medq")).cast("long").as("above"))
    val g = fl.agg(count(lit(1)).as("n_docs"),
      sum(when(col("dup") === 1 && col("above") === 1, 1L)
        .otherwise(0L)).as("dup_above"),
      sum(when(col("dup") === 1 && col("above") === 0, 1L)
        .otherwise(0L)).as("dup_below"),
      sum(when(col("dup") === 0 && col("above") === 1, 1L)
        .otherwise(0L)).as("clean_above"),
      sum(when(col("dup") === 0 && col("above") === 0, 1L)
        .otherwise(0L)).as("clean_below"))
    val or = (col("dup_above").cast("double") *
      col("clean_below").cast("double")) /
      (col("dup_below").cast("double") * col("clean_above").cast("double"))
    g.select(col("n_docs"), col("dup_above"), col("dup_below"),
      col("clean_above"), col("clean_below"),
      when(col("dup_below") > 0 && col("clean_above") > 0,
        Events.q(or, 6)).otherwise(lit(0.0)).as("odds_ratio"),
      when(col("dup_above") + col("clean_above") > 0,
        Events.q(col("dup_above").cast("double") /
          (col("dup_above") + col("clean_above")).cast("double"), 6))
        .otherwise(lit(0.0)).as("dup_rate_above"),
      when(col("dup_below") + col("clean_below") > 0,
        Events.q(col("dup_below").cast("double") /
          (col("dup_below") + col("clean_below")).cast("double"), 6))
        .otherwise(lit(0.0)).as("dup_rate_below"))
  }

  /** Pareto front of documents on (length, lexical richness) (W491):
    * the docs no other doc dominates on BOTH token count and distinct
    * token count — the skyline a curation pipeline samples from when
    * it wants "long AND rich" exemplars without committing to a
    * weighting. The classic O(n²) dominance test collapses to two
    * exact integer windows: a doc is on the front iff its distinct
    * count equals its length-group max AND strictly exceeds the
    * running max over all LONGER length groups (the standard
    * sort-and-cummax skyline; ties on both axes are mutually
    * non-dominating and all surface). Integer-only decisions; output
    * is the front ordered by length desc, capped at `k` rows.
    */
  def paretoFront(s: SparkSession, dir: String, k: Int = 50): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), tokenize(col("text")).as("ts"))
      .select(col("doc_id"), size(col("ts")).cast("long").as("len"),
        size(array_distinct(col("ts"))).cast("long").as("dist"))
      .filter(col("len") > 0)
    val byLen = docs.groupBy("len")
      .agg(max(col("dist")).as("maxd"))
    val wLonger = org.apache.spark.sql.expressions.Window
      .orderBy(col("len").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    val frontLens = byLen
      .withColumn("m1", max(col("maxd")).over(wLonger))
      .filter(col("m1").isNull || col("maxd") > col("m1"))
      .select(col("len"), col("maxd"))
    docs.join(broadcast(frontLens), Seq("len"))
      .filter(col("dist") === col("maxd"))
      .select(col("doc_id"), col("len").as("n_tokens"),
        col("dist").as("n_distinct"))
      .orderBy(col("n_tokens").desc, col("doc_id"))
      .limit(k)
  }

  /** Cross-source quantile normalization (W545) — the calibration
    * step that makes per-source score thresholds comparable: each
    * document's length score is replaced by the POOLED distribution's
    * order statistic at the same relative rank (midpoint convention:
    * pooled index ⌈(2r−1)·N / (2n_g)⌉ for within-source rank r of
    * n_g), so "top 10% of source A" and "top 10% of source B" mean
    * the same pooled value — the fix for mixing corpora whose quality
    * scores live on different scales. EXACT throughout: within-source
    * ranks come from a fine-keyed (source, value) window plus the
    * cumulative-count identity over the per-source DISTINCT-value
    * grid (never a corpus-wide or per-source row sort); the index
    * product rides DECIMAL(38) (2rN overflows LONG past ~2³¹ rows);
    * the pooled lookup is a broadcast interval join against the
    * ≤ |distinct values| pooled grid. The one unpartitioned window
    * runs over that bounded pooled grid (audited in the window
    * baseline). Surfaced per source: census of the normalized values.
    */
  def quantileNormalize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // persisted (round-10 review finding): five plan branches read
    // this frame (ranked, the cell grid, per-source counts, the pooled
    // grid, the corpus count) — unpinned, each was its own full
    // documents scan
    val docs = graft.CacheScope.track(Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        col("n_chars").cast("long").as("v"))
      .persist())
    val wCell = Window.partitionBy("source", "v").orderBy("doc_id")
    val ranked = docs
      .withColumn("tie", row_number().over(wCell).cast("long"))
    val cell = docs.groupBy("source", "v").agg(count(lit(1)).as("c"))
    val wg = Window.partitionBy("source").orderBy("v")
    val grid = cell
      .withColumn("base", sum(col("c")).over(wg) - col("c"))
      .select(col("source"), col("v"), col("base"))
    val ng = docs.groupBy("source").agg(count(lit(1)).as("n_g"))
    val wp = Window.orderBy("v") // pooled DISTINCT grid — bounded
    val pooled = docs.groupBy("v").agg(count(lit(1)).as("pc"))
      .withColumn("hi", sum(col("pc")).over(wp))
      .select(col("v").as("pv"), (col("hi") - col("pc") + 1).as("lo"),
        col("hi"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val idx = call_function("div",
      dec(col("r") * 2 - 1) * dec(col("nn")) +
        dec(col("n_g") * 2 - 1),
      dec(col("n_g") * 2))
    ranked
      .join(grid, Seq("source", "v")) // co-partitioned with wCell
      .join(broadcast(ng), "source")
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("nn"))))
      .withColumn("r", col("base") + col("tie"))
      .withColumn("idx", idx)
      .join(broadcast(pooled),
        col("idx") >= col("lo") && col("idx") <= col("hi"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("pv")).as("norm_sum"),
        min(col("pv")).as("norm_min"), max(col("pv")).as("norm_max"),
        countDistinct(col("pv")).as("n_norm_values"))
      .orderBy("source")
  }
}
