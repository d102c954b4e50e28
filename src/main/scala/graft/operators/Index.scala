package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{CacheScope, Tables}
import graft.functions.TextFns._

/** Information-retrieval tier: inverted index build + boolean retrieval
  * (references: `BuildInvertedIndexCompressed.java`,
  * `BuildInvertedIndexHBase.java`, `BooleanRetrievalCompressed.java`).
  *
  * The reference hand-rolled gap+VInt compression into a sorted MapFile
  * and a (term,-1) secondary-sort sentinel for document frequency; here
  * the index is a parquet-friendly DataFrame whose encodings (dictionary,
  * RLE, delta) replace the manual compression, and df is just another
  * aggregate. Point lookups at scale ride parquet min/max + dictionary
  * pruning on the `term` column.
  */
object Index {

  /** Flat postings: one row per (term, doc_id) with term frequency
    * (reference per-doc histogram, `BuildInvertedIndexCompressed.java:80-92`).
    */
  def postings(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokenize(col("text"))).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"))

  /** Document frequency per term (reference's (term,-1) sentinel stream,
    * `BuildInvertedIndexCompressed.java:87-92,146-151` — here a plain agg).
    */
  def termDf(s: SparkSession, dir: String): DataFrame =
    postings(s, dir)
      .groupBy("term")
      .agg(count(lit(1)).as("df"))

  /** Assembled per-term posting lists, doc-id-sorted, with df — the
    * reference's reducer-side assembly (`BuildInvertedIndexCompressed
    * .java:132-174`) as one aggregate; `sort_array` replaces the
    * secondary sort, parquet encodings replace gap/VInt.
    */
  def postingsLists(s: SparkSession, dir: String): DataFrame =
    postings(s, dir)
      .groupBy("term")
      .agg(
        count(lit(1)).as("df"),
        sort_array(collect_list(struct(col("doc_id"), col("tf"))))
          .as("postings"))

  /** `postingsLists` with the postings array serialized to a compact
    * `docid:tf,docid:tf,...` string — the queries-surface projection
    * (flat columns hash-compare cleanly against a DuckDB `string_agg`
    * oracle; the nested array form above is the library API).
    */
  def postingsListsSerialized(s: SparkSession, dir: String): DataFrame =
    postingsLists(s, dir).select(
      col("term"), col("df"),
      concat_ws(",",
        transform(col("postings"),
          p => concat_ws(":", p("doc_id"), p("tf")))).as("postings"))

  /** TF-IDF ranked retrieval: weight = tf · ln(N/df), top-k docs per
    * term (rank window over the postings — the scoring layer the
    * reference's boolean retrieval lacked). The doc count and df join
    * back in-plan (broadcast 1-row / by-term), so nothing is collected.
    */
  def tfidfTopk(s: SparkSession, dir: String, k: Int): DataFrame = {
    val p = postings(s, dir).persist()
    CacheScope.register(p) // eager: df + the weight join both read it
    tfidfTopkFrom(s, dir, p, k)
  }

  /** [[tfidfTopk]] over a prebuilt (cached) postings frame — so fusion
    * consumers (rrfFusion, rankAgreement) can share ONE tokenize +
    * postings build across both rankers (OPTIMIZATION r11, guide §1.2).
    */
  private def tfidfTopkFrom(s: SparkSession, dir: String, p: DataFrame,
                            k: Int): DataFrame = {
    val nDocs = Tables.documents(s, dir)
      .agg(count(lit(1)).as("n_docs"))
    val df = p.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("term")
      .orderBy(col("tfidf").desc, col("doc_id"))
    p.join(df, "term")
      .crossJoin(broadcast(nDocs))
      .select(col("term"), col("doc_id"),
        round(col("tf") * log(col("n_docs") / col("df")), 6).as("tfidf"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("term", "doc_id", "tfidf")
  }

  /** BM25 ranked retrieval (Okapi, k1 = 1.2, b = 0.75): the standard
    * probabilistic upgrade of [[tfidfTopk]] — scores saturate in tf and
    * normalize by document length. Everything joins in-plan: per-doc
    * lengths ride the postings build, df is an aggregate, and the two
    * corpus scalars (N, avgdl) broadcast as a 1-row cross join, so the
    * plan is scan → agg → two keyed joins → rank window
    * (`WindowGroupLimit` keeps each map task's local top-k before the
    * per-term shuffle). Constants are written as plain literals (2.2,
    * 0.25) on BOTH engines so no constant-fold tie-rounding can differ.
    */
  def bm25Topk(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val p = postings(s, dir).persist()
    CacheScope.register(p) // eager: lens, df and the scoring join read it
    bm25TopkFrom(s, dir, p, k)
  }

  /** [[bm25Topk]] over a prebuilt (cached) postings frame
    * (OPTIMIZATION r11, guide §1.2): doc lengths derive from the
    * postings (dl = Σ tf per doc ≡ size(tokenize(text)) — no second
    * corpus tokenize), n_docs counts ALL documents (a zero-token doc
    * has no postings row but still counts toward N and avgdl's
    * denominator), and avgdl = Σdl / n_docs — token totals are
    * integers < 2^53 so the double equals avg(dl) exactly (the same
    * equivalence prfExpansion rides, oracle-verified at both SFs).
    * Shared by the fusion consumers so rrfFusion / rankAgreement pay
    * ONE tokenize + postings build for both rankers.
    */
  private def bm25TopkFrom(s: SparkSession, dir: String, p: DataFrame,
                           k: Int): DataFrame = {
    val lens = p.groupBy("doc_id").agg(sum("tf").as("dl"))
    val df = p.groupBy("term").agg(count(lit(1)).as("df"))
    val corpus = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
      .crossJoin(lens.agg(sum("dl").as("toktot")))
      .select(col("n_docs"),
        (col("toktot").cast("double") / col("n_docs")).as("avgdl"))
    val score = log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
      col("tf") * lit(2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    val w = Window.partitionBy("term")
      .orderBy(col("score").desc, col("doc_id"))
    p.join(df, "term")
      .join(lens, "doc_id")
      .crossJoin(broadcast(corpus))
      .select(col("term"), col("doc_id"), round(score, 6).as("score"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("term", "doc_id", "score")
  }

  /** Ranking-quality eval of the BM25 ranker (W220): nDCG@`k` and the
    * reciprocal rank of the first maximally-graded document, per
    * high-df probe term — the measurements a retrieval stack reports
    * next to the classifier tier's AUC/PRF. Relevance grades are
    * capped term frequencies (rel = min(tf, 4)): graded,
    * deterministic, and not what BM25 optimizes (it length-normalizes
    * and saturates tf), so nDCG < 1 is a real measurement, not an
    * identity. Discounted gains quantize to the 1e-9 integer grid
    * BEFORE the per-term sums (float sum order inside a group is
    * engine-private; integer sums are not); the nDCG ratio divides
    * exact longs once at the end. Probe terms = top `nTerms` by df
    * (term tiebreak); the term list and corpus scalars broadcast, so
    * the plan is scan → postings agg → keyed joins → two rank windows
    * → per-term agg, nothing driver-side.
    */
  def rankingMetrics(s: SparkSession, dir: String, k: Int = 10,
                     nTerms: Int = 10): DataFrame = {
    val p = postings(s, dir).persist()
    CacheScope.register(p) // eager: lens, df agg + the scoring join
    // r11: doc lengths derive from the postings (dl = Σ tf ≡
    // size(tokenize(text)) — drops a second corpus tokenize); n_docs /
    // avgdl per the bm25TopkFrom equivalence note
    val lens = p.groupBy("doc_id").agg(sum("tf").as("dl"))
    val dft = p.groupBy("term").agg(count(lit(1)).as("df"))
    val top = dft.orderBy(col("df").desc, col("term")).limit(nTerms)
    val corpus = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
      .crossJoin(lens.agg(sum("dl").as("toktot")))
      .select(col("n_docs"),
        (col("toktot").cast("double") / col("n_docs")).as("avgdl"))
    val rawScore = log((col("n_docs") - col("df") + lit(0.5)) /
        (col("df") + lit(0.5))) * col("tf") * lit(2.2) /
      (col("tf") + lit(1.2) *
        (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    val graded = p.join(broadcast(top), "term")
      .join(lens, "doc_id")
      .crossJoin(broadcast(corpus))
      .select(col("term"), col("df"), col("doc_id"),
        (floor(rawScore * lit(1e6) + lit(0.5)) / lit(1e6)).as("score"),
        least(col("tf"), lit(4L)).cast("double").as("rel"))
    val wR = Window.partitionBy("term")
      .orderBy(col("score").desc, col("doc_id"))
    val wI = Window.partitionBy("term")
      .orderBy(col("rel").desc, col("doc_id"))
    val wT = Window.partitionBy("term")
    def gain(rel: Column, rank: Column): Column =
      floor(rel / (log(rank.cast("double") + lit(1.0)) / log(lit(2.0)))
        * lit(1e9) + lit(0.5)).cast("long")
    graded
      .withColumn("rnk", row_number().over(wR))
      .withColumn("irnk", row_number().over(wI))
      .withColumn("mrel", max(col("rel")).over(wT))
      .groupBy(col("term"), col("df"))
      .agg(
        sum(when(col("rnk") <= k, gain(col("rel"), col("rnk")))
          .otherwise(0L)).as("dcg"),
        sum(when(col("irnk") <= k, gain(col("rel"), col("irnk")))
          .otherwise(0L)).as("idcg"),
        min(when(col("rel") === col("mrel"), col("rnk"))).as("best_rank"))
      .select(col("term"), col("df"),
        (floor(col("dcg").cast("double") / col("idcg") * lit(1e6)
          + lit(0.5)) / lit(1e6)).as("ndcg"),
        col("best_rank"),
        (floor(lit(1.0) / col("best_rank") * lit(1e6) + lit(0.5))
          / lit(1e6)).as("rr"))
      .orderBy("term")
  }

  /** Point lookup of one term's postings (the reference's MapFile /
    * HBase `Get` path, `BooleanRetrievalCompressed.java:135-145`). On a
    * sorted/partitioned postings table the term predicate prunes to a
    * handful of row groups via parquet min/max + dictionary filters.
    */
  def termLookup(s: SparkSession, dir: String, term: String): DataFrame =
    postings(s, dir).filter(col("term") === term)

  /** S7 queries-surface gate: build the pluggable [[graft.sources.
    * TermStore]] (parquet backend) from this corpus' postings lists,
    * then answer point lookups for `terms` through the store's `Get`
    * path — the reference's build-index-then-interactively-retrieve
    * flow (`BuildInvertedIndexHBase` → `BooleanRetrievalHBase`) end to
    * end. Output (term, doc_id, tf) rows, driver-assembled from the
    * fetched postings exactly like the reference's query client. Each
    * term present in the corpus costs one single-task job reading the
    * one store file whose footer range holds it; an absent term that
    * falls outside every file's range costs none (see
    * [[graft.sources.TermStore.parquetBacked]]).
    */
  def termStoreLookup(s: SparkSession, dir: String,
                      terms: Seq[String] = Seq("spark", "data")): DataFrame = {
    import s.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft-termstore").toString
    graft.sources.TermStore.write(postingsLists(s, dir), path)
    val store = graft.sources.TermStore.parquetBacked(s, path)
    try {
      terms.flatMap(t => store.fetchPostings(t).map {
        case (d, tf) => (t, d, tf)
      }).toDF("term", "doc_id", "tf")
    } finally store.close()
  }

  /** Postfix boolean query evaluator (reference `BooleanRetrievalCompressed
    * .java:58-113`): whitespace query where a term pushes its doc-id set
    * and AND/OR pop two and push intersection/union. The stack holds
    * *DataFrames*, so evaluation is fully distributed — intersection is a
    * semi join, union is UNION DISTINCT; nothing is collected.
    */
  def booleanQuery(s: SparkSession, dir: String, query: String): DataFrame = {
    val tokens = query.trim.split("\\s+")
    val terms = tokens.filterNot(t => t == "AND" || t == "OR").distinct.toSeq
    // One scan+tokenize for ALL query terms (boolean retrieval needs doc
    // sets, not tf, so array_distinct replaces the groupBy); persisted so
    // every operand of the postfix fold reuses it instead of re-scanning.
    val docTerms = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(array_distinct(tokenize(col("text")))).as("term"))
      .filter(col("term").isin(terms: _*))
      .persist()
    CacheScope.register(docTerms) // eager, or every operand subtree recomputes the scan
    var stack = List.empty[DataFrame]
    tokens.foreach {
      case "AND" =>
        val b :: a :: rest = stack: @unchecked
        stack = a.join(b, Seq("doc_id"), "left_semi") :: rest
      case "OR" =>
        val b :: a :: rest = stack: @unchecked
        stack = a.union(b).distinct() :: rest
      case term =>
        stack = docTerms.filter(col("term") === term).select("doc_id") :: stack
    }
    require(stack.lengthCompare(1) == 0,
      s"malformed postfix query '$query': ${stack.length} operands left")
    stack.head
  }

  /** Retrieval with document fetch (reference seeks the collection file by
    * byte offset, `BooleanRetrievalCompressed.java:147-152`; here a join
    * against the documents table).
    */
  def booleanQueryFetch(s: SparkSession, dir: String, query: String): DataFrame =
    booleanQuery(s, dir, query)
      .join(Tables.documents(s, dir), "doc_id")
      .select("doc_id", "text")

  /** Phrase retrieval over a POSITIONAL index: docs containing the
    * two-word phrase `w1 w2` as adjacent tokens, with the occurrence
    * count. The positional postings are (term, doc_id, position) rows —
    * the standard next-word index — and a phrase match is an equality
    * join `pos₂ = pos₁ + 1` within the doc. The corpus is tokenized
    * ONCE and restricted to the two query terms immediately after the
    * generator (on a STORED positional index this restriction is the
    * parquet dictionary/min-max prune `termLookup` rides); the tiny
    * two-term slice is cached and joined with itself, so the join is
    * tiny-vs-tiny regardless of corpus size — never a
    * positions×positions blowup.
    */
  def phraseQuery(s: SparkSession, dir: String,
                  w1: String = "order", w2: String = "fast"): DataFrame = {
    val pos = Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(tokenize(col("text"))))
      .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("term"))
      .filter(col("term").isin(w1, w2))
      .persist()
    CacheScope.register(pos) // eager: both phrase sides read it
    val a = pos.filter(col("term") === w1)
      .select(col("doc_id"), col("p"))
    val b = pos.filter(col("term") === w2)
      .select(col("doc_id").as("doc_id_b"), col("p").as("p_b"))
    a.join(b, col("doc_id") === col("doc_id_b") &&
        col("p_b") === col("p") + 1)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_occur"))
  }

  /** Ranker rank-agreement audit (W235): per term, how differently the
    * BM25 and tf-idf rankers order the SAME corpus — top-`k` set
    * overlap plus a normalized Spearman footrule (Σ|rank_a − rank_b|
    * over the common documents, scaled by its n_common·(k−1) bound).
    * This is the table a retrieval stack reads before swapping its
    * scorer: low overlap on high-df terms is exactly where BM25's
    * length normalization and tf saturation change outcomes. Ranks are
    * the engines' own surfaced (quantized) orderings with doc_id
    * tiebreaks, so both engines re-derive them identically; the
    * footrule is an exact integer sum. Both rankers' plans are the
    * shipped operators — the audit adds one equality join on
    * (term, doc) and a per-term rollup.
    */
  def rankAgreement(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val wa = Window.partitionBy("term")
      .orderBy(col("score").desc, col("doc_id"))
    val wb = Window.partitionBy("term")
      .orderBy(col("tfidf").desc, col("doc_id"))
    // ONE tokenize + postings build shared by both rankers (r11 —
    // each ranker previously built and cached its own identical copy)
    val p = postings(s, dir).persist()
    CacheScope.register(p)
    val ra = bm25TopkFrom(s, dir, p, k)
      .withColumn("ra", row_number().over(wa))
      .select(col("term"), col("doc_id"), col("ra"))
    val rb = tfidfTopkFrom(s, dir, p, k)
      .withColumn("rb", row_number().over(wb))
      .select(col("term"), col("doc_id"), col("rb"))
    val common = ra.join(rb, Seq("term", "doc_id"))
      .groupBy("term")
      .agg(count(lit(1)).as("nc"),
        sum(abs(col("ra") - col("rb")).cast("long")).as("fr"))
    // keep terms whose top-k sets are DISJOINT (overlap 0 is the
    // finding, not a row to drop); divergence is undefined there
    ra.select("term").distinct()
      .join(common, Seq("term"), "left")
      .select(col("term"),
        coalesce(col("nc"), lit(0L)).as("n_common"),
        Events.q(coalesce(col("nc"), lit(0L)).cast("double") / k, 6)
          .as("overlap"),
        coalesce(col("fr"), lit(0L)).as("footrule"),
        when(col("nc") > 0,
          Events.q(col("fr").cast("double") / (col("nc") * (k - 1)), 6))
          .as("divergence"))
      .orderBy("term")
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of the BM25 and
    * tf-idf rankers: rrf(d) = Σ_r 1/(K + rank_r(d)) over the rankers
    * that surface the doc in their top-k, K = 60 — the standard hybrid
    * merge for lexical+semantic retrieval, score-scale-free by
    * construction. Both input lists are top-k-bounded per term, so the
    * full outer join and the re-rank window touch ≤ 2k rows per term
    * at ANY corpus size; the corpus-bound work is the two rankers'
    * shared postings build. The fused score is a two-term sum written
    * in fixed expression order (no aggregate), quantized at 9 dp
    * before the cut — fully engine-deterministic.
    */
  def rrfFusion(s: SparkSession, dir: String, k: Int = 10,
                kc: Int = 60): DataFrame = {
    val wa = Window.partitionBy("term")
      .orderBy(col("score").desc, col("doc_id"))
    val wb = Window.partitionBy("term")
      .orderBy(col("tfidf").desc, col("doc_id"))
    // ONE tokenize + postings build shared by both rankers (r11 —
    // each ranker previously built and cached its own identical copy)
    val p = postings(s, dir).persist()
    CacheScope.register(p)
    val ra = bm25TopkFrom(s, dir, p, k)
      .withColumn("ra", row_number().over(wa))
      .select(col("term"), col("doc_id"), col("ra"))
    val rb = tfidfTopkFrom(s, dir, p, k)
      .withColumn("rb", row_number().over(wb))
      .select(col("term"), col("doc_id"), col("rb"))
    val fused = ra.join(rb, Seq("term", "doc_id"), "full")
      .select(col("term"), col("doc_id"),
        Events.q(coalesce(lit(1.0) / (lit(kc) + col("ra")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kc) + col("rb")), lit(0.0)), 9)
          .as("rrf"))
    val wr = Window.partitionBy("term")
      .orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rrf_rank", row_number().over(wr).cast("long"))
      .filter(col("rrf_rank") <= k)
      .select("term", "doc_id", "rrf_rank", "rrf")
      .orderBy("term", "rrf_rank")
  }

  /** RM3-lite pseudo-relevance-feedback query expansion: per probe
    * term (top-`nProbes` by df), take the probe's BM25 top-`topDocs`
    * feedback docs, weight each by the reciprocal-rank constant
    * 1/(60 + rank) — RRF's positive, scale-free weight; raw
    * score-weighted RM3 flips sign on saturated-df fixtures where the
    * BM25 idf goes negative — and score expansion candidates by
    * Σ_docs tf·w, probe excluded. The query-expansion stage a
    * retrieval stack bolts on top of [[bm25Topk]].
    *
    * Determinism: feedback ranks come from the 6-dp BM25 score with
    * doc-id tiebreak; each doc's contribution floor-quantizes
    * tf·1e9/(60+rank) to a LONG before the order-free sum; the final
    * cut ranks (weight, term). Cost: the postings shuffle dominates;
    * feedback docs are nProbes·topDocs rows, candidates
    * vocabulary-bounded.
    */
  def prfExpansion(s: SparkSession, dir: String, nProbes: Int = 3,
                   topDocs: Int = 10, k: Int = 5): DataFrame = {
    val postings = CacheScope.track(Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokenize(col("text"))).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      .persist()) // df probe pick + probe scoring + the candidate join
    // OPTIMIZATION r11 (guide §2.3/§2.4): score BM25 for the PROBE
    // TERMS' postings only, instead of calling bm25Topk over the whole
    // vocabulary and keeping 3 terms of it. The window partitions by
    // term, so dropping the other terms' rows before the scoring join
    // and rank window changes nothing the probes see — same rounded
    // scores, same (score DESC, doc_id) ranks. This removes a second
    // corpus tokenize (bm25Topk re-tokenized internally), the
    // full-vocabulary scoring join, and the full-vocabulary rank
    // window from the plan.
    //  - doc length dl = Σ tf over the doc's postings — exactly
    //    size(tokenize(text)) without the second tokenize pass;
    //  - n_docs counts ALL documents (a zero-token doc has no postings
    //    row but still counts toward N and avgdl's denominator);
    //  - avgdl = (Σ dl) / n_docs — token totals are integers < 2^53,
    //    so this double equals avg(dl) over per-doc lengths exactly.
    val lens = postings.groupBy("doc_id").agg(sum("tf").as("dl"))
    val dft = postings.groupBy("term").agg(count(lit(1)).as("df"))
    val probes = dft.orderBy(col("df").desc, col("term")).limit(nProbes)
      .select(col("term").as("probe"), col("df"))
    val corpus = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
      .crossJoin(lens.agg(sum("dl").as("toktot")))
      .select(col("n_docs"),
        (col("toktot").cast("double") / col("n_docs")).as("avgdl"))
    // the bm25Topk score expression verbatim (same tree, same rounding)
    val score = log((col("n_docs") - col("df") + lit(0.5)) /
        (col("df") + lit(0.5))) * col("tf") * lit(2.2) /
      (col("tf") + lit(1.2) *
        (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    val wD = Window.partitionBy("probe")
      .orderBy(col("score").desc, col("doc_id"))
    val pdocs = postings
      .join(broadcast(probes), col("term") === col("probe"))
      .join(lens, "doc_id")
      .crossJoin(broadcast(corpus))
      .select(col("probe"), col("doc_id"), round(score, 6).as("score"))
      .withColumn("rnk", row_number().over(wD))
      .filter(col("rnk") <= topDocs)
    val contrib = floor(col("tf").cast("double") * lit(1e9) /
      (lit(60) + col("rnk"))).cast("long")
    val cand = pdocs
      .join(postings.withColumnRenamed("term", "cand"), "doc_id")
      .filter(col("cand") =!= col("probe"))
      .groupBy("probe", "cand").agg(sum(contrib).as("w9"))
    val wT = Window.partitionBy("probe")
      .orderBy(col("w9").desc, col("cand"))
    cand.withColumn("rnk", row_number().over(wT))
      .filter(col("rnk") <= k)
      .select(col("probe"), col("rnk"), col("cand").as("term"),
        graft.operators.Events.q(col("w9").cast("double") / lit(1e9), 6)
          .as("rm3_weight"))
      .orderBy("probe", "rnk")
  }

  /** Class-based TF-IDF keywords per SOURCE (Grootendorst's c-TF-IDF,
    * the BERTopic labeler): score(t, s) = (c_ts / n_s) ·
    * ln(1 + A / f_t) with c_ts the term's count inside the source,
    * n_s the source's token total, f_t the corpus-wide count and A the
    * mean tokens per source — the "what is this slice about" labels a
    * corpus browser puts next to every source/cluster.
    *
    * Determinism: the ln factor is floor-quantized to the 1e-9 grid,
    * so per-term scores rank by the exact LONG product c_ts·L9 (n_s is
    * constant within a source — cross-multiplication for free); ties
    * break on the term string. One token-count shuffle is the only
    * corpus-bound stage; the rank window runs per source over
    * vocabulary-bounded rows.
    */
  def ctfidfTerms(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val cts = CacheScope.track(Tables.documents(s, dir)
      .select(col("source"), explode(tokenize(col("text"))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("c"))
      .persist()) // source totals, corpus df and the score join
    val ns = cts.groupBy("source").agg(sum("c").as("n_s"))
    val ft = cts.groupBy("term").agg(sum("c").as("f"))
    val tot = ns.agg(sum(col("n_s")).as("total"),
      count(lit(1)).as("n_src"))
    val l9 = floor(log(lit(1.0) +
      col("total").cast("double") / col("n_src") / col("f")) *
      lit(1e9) + lit(0.5)).cast("long")
    val w = Window.partitionBy("source")
      .orderBy(col("s9").desc, col("term"))
    cts.join(ft, "term").crossJoin(broadcast(tot))
      .select(col("source"), col("term"), col("c"),
        (col("c") * l9).as("s9"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .join(ns, "source")
      .select(col("source"), col("rnk"), col("term"), col("c"),
        graft.operators.Events.q(col("s9").cast("double") / col("n_s") /
          lit(1e9), 6).as("ctfidf"))
      .orderBy("source", "rnk")
  }

  /** Dirichlet-smoothed query-likelihood retrieval (W330) — the
    * language-modeling ranking family next to [[bm25Topk]]'s
    * probabilistic-relevance one (Zhai & Lafferty 2004): score(t,d)
    * = ln((tf + μ·p(t|C)) / (|d| + μ)), p(t|C) the collection
    * unigram model, μ = 2000. The two families disagree exactly on
    * long documents (QL's additive smoothing vs BM25's saturation),
    * which is why engines ship both. Candidates come from the
    * postings (index-driven top-k; a tf=0 document can in principle
    * outscore a long tf=1 one, but not inside a candidate set all
    * containing t — documented cut). Determinism: scores quantize to
    * the 1e-9 LONG grid straight off the ln, and the rank window
    * orders by (quantized score DESC, doc_id) so the cut is decided
    * on identical integers — one postings shuffle, one rank window.
    */
  def lmDirichletTopk(s: SparkSession, dir: String, k: Int = 10,
                      mu: Double = 2000.0): DataFrame = {
    val p = postings(s, dir).persist()
    CacheScope.register(p) // collection stats + scoring join read it
    // r11: doc lengths + collection length derive from the postings
    // (dl = Σ tf ≡ size(tokenize(text)); clen = Σ dl — zero-token docs
    // contribute 0 either way) — drops a second corpus tokenize
    val lens = p.groupBy("doc_id").agg(sum("tf").as("dl"))
    val ctf = p.groupBy("term").agg(sum(col("tf")).as("ctf"))
    val coll = p.agg(sum(col("tf")).as("clen"))
    val s9 = floor(log(
      (col("tf").cast("double") +
        lit(mu) * (col("ctf").cast("double") / col("clen"))) /
        (col("dl").cast("double") + lit(mu))) * lit(1e9) + lit(0.5))
      .cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("term").orderBy(col("s9").desc, col("doc_id"))
    p.join(ctf, "term")
      .join(lens, "doc_id")
      .crossJoin(broadcast(coll))
      .select(col("term"), col("doc_id"), s9.as("s9"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("term"), col("doc_id"),
        graft.operators.Events.q(col("s9").cast("double") / lit(1e9), 6)
          .as("score"))
  }

  /** Mean-average-precision@`k` (W369) of the BM25 ranker per probe
    * term — the binary-relevance companion to [[rankingMetrics]]'s
    * graded nDCG: AP rewards putting ALL the relevant documents early,
    * not just the top-graded one, so a ranker can hold nDCG while AP
    * exposes relevant docs parked at rank 9–10. Relevance is binary
    * rel = (tf ≥ 4) — deterministic, and set at the bar where BM25's
    * tf saturation + length normalization actually misrank (measured:
    * tf ≥ 2 is so easy every AP is 1.0; at tf ≥ 4 the APs spread
    * 0.46–0.88 because a short tf=3 doc outscores a long tf=5 one).
    * AP@k = Σ_{i≤k, rel_i} P@i / min(R, k): each precision P@i =
    * relcnt_i / i is a bounded rational quantized to the 1e-9 LONG
    * grid BEFORE the per-term sum (in-group float sum order is
    * engine-private; integer sums are not); the final AP divides the
    * exact long once. The idf here is the Lucene-style non-negative
    * variant ln(1 + (N−df+0.5)/(df+0.5)) — the fixture's probe terms
    * all have df > N/2, where the classic Robertson idf goes NEGATIVE
    * and inverts the ranking (every AP collapses to 0, measured);
    * Lucene adopted this floor for exactly that regime. Probe
    * selection, tiebreaks, and shape otherwise mirror
    * [[rankingMetrics]] — scan → postings agg → broadcast probe join
    * → one rank window → per-term agg.
    */
  def mapAtK(s: SparkSession, dir: String, k: Int = 10,
             nTerms: Int = 10): DataFrame = {
    val p = postings(s, dir).persist()
    CacheScope.register(p) // eager: lens, df agg + the scoring join
    // r11: doc lengths derive from the postings (see bm25TopkFrom) —
    // drops a second corpus tokenize
    val lens = p.groupBy("doc_id").agg(sum("tf").as("dl"))
    val dft = p.groupBy("term").agg(count(lit(1)).as("df"))
    val top = dft.orderBy(col("df").desc, col("term")).limit(nTerms)
    val corpus = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
      .crossJoin(lens.agg(sum("dl").as("toktot")))
      .select(col("n_docs"),
        (col("toktot").cast("double") / col("n_docs")).as("avgdl"))
    val rawScore = log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
        (col("df") + lit(0.5))) * col("tf") * lit(2.2) /
      (col("tf") + lit(1.2) *
        (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    val graded = p.join(broadcast(top), "term")
      .join(lens, "doc_id")
      .crossJoin(broadcast(corpus))
      .select(col("term"), col("df"), col("doc_id"),
        (floor(rawScore * lit(1e6) + lit(0.5)) / lit(1e6)).as("score"),
        (col("tf") >= 4).cast("long").as("rel"))
    val wR = Window.partitionBy("term")
      .orderBy(col("score").desc, col("doc_id"))
    val ranked = graded
      .withColumn("rnk", row_number().over(wR))
      .withColumn("relcnt", sum(col("rel")).over(
        Window.partitionBy("term").orderBy(col("score").desc,
          col("doc_id")).rowsBetween(Window.unboundedPreceding, 0)))
    ranked.groupBy(col("term"), col("df"))
      .agg(sum(col("rel")).as("n_rel"),
        sum(when(col("rnk") <= k && col("rel") === 1,
          floor(col("relcnt").cast("double") / col("rnk") * lit(1e9)
            + lit(0.5)).cast("long")).otherwise(0L)).as("ap9"))
      .select(col("term"), col("df"), col("n_rel"),
        when(col("n_rel") > 0,
          graft.operators.Events.q(col("ap9").cast("double") / lit(1e9) /
            least(col("n_rel"), lit(k.toLong)).cast("double"), 6))
          .otherwise(lit(0.0)).as("ap"))
      .orderBy("term")
  }
}
