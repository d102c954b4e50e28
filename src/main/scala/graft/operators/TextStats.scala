package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{CacheScope, Tables}
import graft.expressions.OptimizerBarrier
import graft.expressions.HashExpressions.polyHashArray
import graft.functions.TextFns._

/** Text-analysis tier (north-star extras): language ID, quality scoring,
  * token counting, document fingerprinting — all single-scan projections
  * over `documents`, no shuffles except the final sink. Heuristics are
  * deliberately simple closed-form expressions so the DuckDB oracle can
  * restate them exactly.
  */
object TextStats {

  /** Default head-vocabulary size for [[tailTokenMass]]; the oracle SQL
    * interpolates THIS constant so op and gate can't drift (ADVICE r7). */
  val TailTopN = 1000

  /** Stopword lists per language; fixed priority order breaks ties. */
  val Stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "is", "in", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "los"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "les", "des", "et", "est"),
    "zh" -> Seq("de", "shi", "le", "zai", "he"))

  private def stopCount(ts: Column, words: Seq[String]): Column =
    size(filter(ts, t => t.isin(words.map(lit): _*)))

  /** The tokenized corpus — the shared intermediate every text-tier
    * operator projects from. Composed pipelines tokenize ONCE by
    * persisting this and passing it to the `*Tokens` variants below.
    */
  private[operators] def tokenized(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), tokenize(col("text")).as("ts"))

  /** n-gram/stopword-count language ID: count hits per language's
    * stopword list, argmax with first-listed language winning ties.
    */
  def langId(s: SparkSession, dir: String): DataFrame =
    langIdTokens(tokenized(s, dir))

  /** `langId` over a pre-tokenized `(doc_id, ts)` frame. */
  def langIdTokens(base: DataFrame): DataFrame = {
    val scored = Stopwords.foldLeft(base) { case (df, (lang, words)) =>
      df.withColumn(s"cnt_$lang", stopCount(col("ts"), words))
    }
    // first language whose count >= every other count wins (priority order)
    val pred = Stopwords.map(_._1).foldRight(lit("und")) { (lang, els) =>
      val c = col(s"cnt_$lang")
      val beatsAll = Stopwords.map(_._1).filter(_ != lang)
        .map(o => c >= col(s"cnt_$o")).reduce(_ && _)
      when(beatsAll && c > 0, lang).otherwise(els)
    }
    scored.withColumn("pred_lang", pred)
      .select(col("doc_id") +: Stopwords.map { case (l, _) => col(s"cnt_$l") }
        :+ col("pred_lang"): _*)
  }

  /** Quality features + a bounded score: token count, mean token length,
    * stopword ratio. The score formula is arbitrary but fixed:
    * min(1, n_tokens/100) * (0.3 + 0.7 * stopword_ratio).
    */
  def quality(s: SparkSession, dir: String): DataFrame =
    qualityTokens(tokenized(s, dir))

  /** `quality` over a pre-tokenized `(doc_id, ts)` frame. */
  def qualityTokens(base: DataFrame): DataFrame = {
    val en = Stopwords.head._2
    base
      .filter(OptimizerBarrier.noPushdown(size(col("ts")) > 0))
      .select(
        col("doc_id"),
        size(col("ts")).as("n_tokens"),
        round(aggregate(col("ts"), lit(0L), (acc, t) => acc + length(t))
          .cast("double") / size(col("ts")), 6).as("avg_token_len"),
        round(stopCount(col("ts"), en).cast("double") / size(col("ts")), 6)
          .as("stopword_ratio"),
        round(
          least(lit(1.0), size(col("ts")) / lit(100.0)) *
            (lit(0.3) + lit(0.7) * stopCount(col("ts"), en) / size(col("ts"))),
          6).as("quality"))
  }

  /** Whitespace token count + a BPE-ish regex token count
    * (letter runs | single digits | single punctuation marks).
    */
  def tokenCounts(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      size(expr("""regexp_extract_all(text, '\\S+', 0)""")).as("ws_tokens"),
      size(expr(
        """regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]', 0)"""))
        .as("bpe_tokens"))

  /** Winnowing document fingerprints: xxhash64 over word `n`-gram
    * shingles, minimum per sliding window of `w` hashes, de-duplicated —
    * the classic MOSS scheme. Shared substrings of length ≥ n+w-1 words
    * are guaranteed to share a fingerprint. Emitted exploded
    * (doc_id, fingerprint) for joinability.
    */
  def fingerprints(s: SparkSession, dir: String,
                   n: Int = 4, w: Int = 5): DataFrame = {
    // Materialize tokens, then the hash array, each in their own
    // projection: referencing prior steps as bound attributes keeps them
    // computed once per row — inlined, Catalyst would re-derive the
    // token array per shingle and the shingle+hash array per window
    // (O(len²) per document).
    val hashed = Tables.documents(s, dir)
      .select(col("doc_id"), tokenize(col("text")).as("ts"))
      .select(col("doc_id"),
        graft.expressions.HashExpressions.polyHashArray(
          Dedup.shingles(col("ts"), n)).as("hs"))
    val hs = col("hs")
    val mins = when(size(hs) >= w,
      transform(sequence(lit(0), size(hs) - w),
        i => array_min(slice(hs, i + lit(1), lit(w)))))
      .otherwise(array(array_min(hs)))
    hashed.select(col("doc_id"),
      explode(array_distinct(mins)).as("fingerprint"))
  }

  /** Leading-token profile: top-`k` tokens at each of the first `lead`
    * positions, via `posexplode` (position-aware flattening — the
    * LATERAL VIEW surface). One count shuffle + one per-position rank
    * window over `lead·|vocab|` rows, independent of corpus size.
    */
  def leadingTokens(s: SparkSession, dir: String,
                    lead: Int = 3, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(s, dir)
      .select(col("doc_id"), tokenize(col("text")).as("ts"))
      .select(posexplode(slice(col("ts"), 1, lead)).as(Seq("pos0", "token")))
      .groupBy((col("pos0") + 1).as("pos"), col("token"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("pos").orderBy(col("cnt").desc, col("token"))
    counts.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** Pattern scrubbing (the PII-redaction shape: emails/phones/ids in a
    * real corpus; a fixture-matching token class here): count matches
    * and measure the redacted text, single scan, codegen'd regex ops
    * (`regexp_count`/`regexp_replace`). The replacement text itself is
    * summarized as a length so the oracle compares scalars, not blobs.
    */
  def patternScrub(s: SparkSession, dir: String,
                   pattern: String = "\\b(customer|key|value)\\b",
                   replacement: String = "<X>"): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      regexp_count(col("text"), lit(pattern)).as("n_matches"),
      length(regexp_replace(col("text"), pattern, replacement))
        .as("scrubbed_len"))

  /** Within-document repetition (Gopher-style quality signal): the
    * fraction of word `n`-gram occurrences that are repeats of an
    * earlier n-gram in the same document. 0 = no repetition; →1 =
    * boilerplate. Pure per-row array math, no shuffle.
    */
  def repetitionFrac(s: SparkSession, dir: String, n: Int = 3): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), tokenize(col("text")).as("ts"))
      .filter(OptimizerBarrier.noPushdown(size(col("ts")) >= n))
      .select(col("doc_id"), Dedup.shingles(col("ts"), n).as("shs"))
      .select(col("doc_id"), size(col("shs")).as("total"),
        round(lit(1.0) -
          size(array_distinct(col("shs"))).cast("double") / size(col("shs")),
          6).as("rep_frac"))

  /** Token-distribution summary per document: Shannon entropy (nats)
    * of the within-doc token frequency distribution plus the type-token
    * ratio — the two classic lexical-diversity signals (low entropy =
    * boilerplate/repetition, used alongside `repetitionFrac`). Uses the
    * algebraic form H = ln(n) − Σc·ln(c)/n so one (doc, token) count
    * shuffle and one doc-keyed reduce produce it; both shuffles are
    * pre-aggregated map-side, so it scales with vocabulary, not corpus.
    */
  def tokenEntropy(s: SparkSession, dir: String): DataFrame =
    tokenized(s, dir)
      .select(col("doc_id"), explode(col("ts")).as("t"))
      .groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        round(log(sum(col("c"))) -
          sum(col("c") * log(col("c"))) / sum(col("c")), 6).as("entropy"),
        round(count(lit(1)).cast("double") / sum(col("c")), 6).as("ttr"))

  /** Character n-gram language profiles: the top-`k` most frequent
    * character `n`-grams per labeled language — the model table a
    * true n-gram language identifier scores against (the stopword
    * `langId` is the lookup-free variant). Lowercased text explodes by
    * position and each gram is one codegen'd substr over the pipelined
    * text attribute (O(len) per document, never materialized per
    * position), counted per (lang, gram), then cut to k by a windowed
    * rank with a gram tiebreak. Two shuffles: the count and the
    * per-lang rank.
    */
  def ngramProfile(s: SparkSession, dir: String,
                   n: Int = 3, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lowered = Tables.documents(s, dir)
      .select(col("lang"), lower(col("text")).as("lt"))
    // position-explode + substr keeps the per-gram path in whole-stage
    // codegen (transform's lambda evaluates interpreted); measured at
    // sf0.1, avg of 3 isolated runs: ~1.76s (HOF) vs ~1.56s (this)
    val counts = lowered
      .filter(length(col("lt")) >= n)
      .select(col("lang"), col("lt"),
        explode(sequence(lit(1), length(col("lt")) - (n - 1))).as("i"))
      .select(col("lang"), col("lt").substr(col("i"), lit(n)).as("gram"))
      .groupBy(col("lang"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("lang")
      .orderBy(col("cnt").desc, col("gram"))
    counts.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** Exact heavy hitters by sketch-then-verify: a Misra-Gries pass
    * (custom typed `Aggregator`, O(m) state per task) yields a candidate
    * set guaranteed to contain every token with frequency > N/m; a
    * second pass recounts the ≤ m candidates exactly and keeps those
    * strictly above N/m. The result therefore equals the plain
    * `GROUP BY ... HAVING cnt·m > N` answer while the first pass
    * shuffles O(m) rows instead of one row per distinct token — the
    * standard two-pass pattern when the token stream is 100 TB but the
    * answer is tiny. Driver exchanges only the candidate list (≤ m
    * strings) and the scalar N.
    */
  def heavyHitters(s: SparkSession, dir: String, m: Int = 30): DataFrame = {
    val toks = tokenized(s, dir).select(explode(col("ts")).as("tok"))
    val mg = udaf(new graft.functions.Aggregators.MisraGriesAgg(m),
      org.apache.spark.sql.Encoders.STRING)
    val head = toks.agg(mg(col("tok")).as("cands"),
      count(lit(1)).as("n")).head()
    val cands = head.getSeq[String](0)
    val total = head.getLong(1)
    toks.filter(col("tok").isin(cands: _*))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * m > total)
  }

  /** Cross-document boilerplate detection: sentences (period-split
    * segments here — the fixture text has no newlines) that recur in
    * more than `dfCut` documents are boilerplate (nav chrome, license
    * headers, cookie banners); each document reports its boilerplate
    * segment fraction for threshold-filtering downstream. Two passes
    * over the exploded segments — the df table is corpus-boilerplate-
    * sized and at 100 TB the segment key becomes xxhash64(segment)
    * so the shuffle carries 8-byte keys, not prose.
    */
  def boilerplate(s: SparkSession, dir: String, dfCut: Int = 3): DataFrame = {
    val segs = Tables.documents(s, dir)
      .select(col("doc_id"), explode(filter(
        transform(split(col("text"), "\\."), t => trim(t)),
        t => length(t) > 0)).as("seg"))
      .persist()
    CacheScope.register(segs) // eager: df build + the flag join both read it
    val hot = segs.select(col("doc_id"), col("seg")).distinct()
      .groupBy("seg").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCut)
      .select(col("seg"), lit(1).as("hot"))
    segs.join(hot, Seq("seg"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segs"),
        count(col("hot")).as("n_boiler"),
        round(count(col("hot")).cast("double") / count(lit(1)), 6)
          .as("boiler_frac"))
  }

  /** Language-ID confusion matrix: predicted language (the stopword
    * n-gram heuristic) against the labeled `lang` column — the
    * accuracy audit run before trusting the detector on unlabeled
    * data. One row per (labeled, predicted) pair; the scored frame
    * reduces to O(langs²) rows in one partial-agg shuffle.
    */
  def langConfusion(s: SparkSession, dir: String): DataFrame =
    langId(s, dir).select(col("doc_id"), col("pred_lang"))
      .join(Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        "doc_id")
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("cnt"))

  /** Hapax-legomena profile per source: vocabulary size, number of
    * terms occurring exactly once, and their ratio — the corpus-health
    * diagnostic (a high hapax share flags OCR noise / boilerplate IDs;
    * a collapsing one flags heavy duplication). One tokenize pass into
    * a (source, term) count, then a source-level rollup: both
    * aggregations partial-combine, and the second sees one row per
    * distinct term, so the full corpus never re-shuffles.
    */
  def hapaxProfile(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"), explode(tokenize(col("text"))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("cnt"))
      .groupBy("source")
      .agg(count(lit(1)).as("vocab"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("hapax"))
      .select(col("source"), col("vocab"), col("hapax"),
        round(col("hapax").cast("double") / col("vocab"), 6)
          .as("hapax_frac"))

  /** Character-class quality signals per source: mean digit, Punct
    * and uppercase fractions of raw text — the C4-style heuristics
    * (pages drowning in digits or symbols are rarely prose) summarized
    * at the source level for intake gating. Pure per-row projections
    * (regexp counts over the raw string, no tokenize) into one keyed
    * aggregate.
    */
  def charClassProfile(s: SparkSession, dir: String): DataFrame = {
    def frac(pattern: String) =
      (length(regexp_replace(col("text"), pattern, "")).cast("double") /
        greatest(length(col("text")), lit(1)))
    // regexp_replace REMOVES non-matching chars… invert: keep = strip
    // everything NOT in the class, so the remaining length IS the count
    Tables.documents(s, dir)
      .select(col("source"),
        frac("[^0-9]").as("digit_frac"),
        frac("[^\\p{Punct}]").as("punct_frac"),
        frac("[^A-Z]").as("upper_frac"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("digit_frac")), 6).as("digit_frac"),
        round(avg(col("punct_frac")), 6).as("punct_frac"),
        round(avg(col("upper_frac")), 6).as("upper_frac"))
  }

  /** Zipf's-law check: regression of log10(frequency) on log10(rank)
    * over the top `k` corpus terms — slope ≈ −1 on natural text, and
    * drift from that is a cheap synthetic-vs-natural signal for a
    * corpus intake gate. The rank table is k rows (top-k cut via
    * TakeOrderedAndProject, ties broken by term); the regression is
    * one aggregate over it. Output: one row (slope, r2, n_ranks).
    */
  def zipfFit(s: SparkSession, dir: String, k: Int = 100): DataFrame = {
    val tf = tokenized(s, dir)
      .select(explode(col("ts")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term"))
      .limit(k)
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("cnt").desc, col("term"))
    tf.withColumn("rnk", row_number().over(w))
      .select(log10(col("rnk")).as("x"), log10(col("cnt")).as("y"))
      .agg(round(regr_slope(col("y"), col("x")), 6).as("slope"),
        round(regr_r2(col("y"), col("x")), 6).as("r2"),
        count(lit(1)).as("n_ranks"))
  }

  /** Unigram language-model scoring: train the corpus unigram model
    * (term → count / total) in one aggregate, then score every document
    * by its mean token log-probability — the cheap LM-quality signal a
    * curation pipeline thresholds before paying for a real LM pass
    * (low avg_logprob ≈ unusual/garbled token mix). Two shuffles: the
    * model build (vocab-sized) and the per-doc mean; the token→model
    * join is vocab-sized on the build side, so at 100 TB it broadcasts
    * and the corpus side never moves. No OOV smoothing needed: the
    * model is trained on the corpus it scores.
    */
  def unigramLogProb(s: SparkSession, dir: String): DataFrame = {
    val tok = tokenized(s, dir)
      .select(col("doc_id"), explode(col("ts")).as("term"))
      .persist()
    CacheScope.register(tok) // eager: model + scoring side both read it
    val model = tok.groupBy("term").agg(count(lit(1)).as("cnt"))
    val total = model.agg(sum(col("cnt")).as("total"))
    tok.join(broadcast(model), "term")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(round(avg(log(col("cnt") / col("total"))), 6).as("avg_logprob"),
        count(lit(1)).as("n_tokens"))
  }

  /** Interpolated Kneser–Ney bigram log-probability per document — the
    * standard smoothed-LM quality score one tier above
    * [[unigramLogProb]] (absolute discount D=0.75, continuation-count
    * backoff):
    * P(w2|w1) = (max(c(w1,w2)−D, 0) + D·N₊(w1·)·N₊(·w2)/T) / c(w1·).
    *
    * Model tables all derive from ONE aggregate over the corpus bigram
    * stream (the (w1,w2) counts; follower/continuation counts and the
    * type total are re-aggregations of that small table), then join
    * back to the per-doc bigrams on the bigram key — model-side tables
    * are vocab-sized, so at 100 TB the scoring join shuffles on
    * (w1,w2) with the model co-partitioned from its own groupBy; no
    * broadcast of a corpus-sized table anywhere.
    */
  def knBigramLogProb(s: SparkSession, dir: String,
                      discount: Double = 0.75): DataFrame = {
    val bi = tokenized(s, dir)
      .select(col("doc_id"),
        explode(zip_with(
          slice(col("ts"), lit(1), size(col("ts")) - 1),
          slice(col("ts"), lit(2), size(col("ts")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1"), col("bg.w2"))
      .persist()
    CacheScope.register(bi) // eager: model + scoring side both read it
    val c12 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      .persist()
    CacheScope.register(c12) // eager: three model re-aggregations read it
    val c1 = c12.groupBy("w1")
      .agg(sum(col("c")).as("c1"), count(lit(1)).as("nfol"))
    val cont = c12.groupBy("w2").agg(count(lit(1)).as("ncont"))
    val types = c12.agg(count(lit(1)).cast("double").as("tt"))
    val d = lit(discount)
    bi.join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .join(cont, Seq("w2"))
      .crossJoin(broadcast(types))
      .groupBy("doc_id")
      .agg(round(avg(log(
        (greatest(col("c") - d, lit(0.0)) +
          d * col("nfol") * (col("ncont") / col("tt"))) / col("c1"))), 6)
        .as("kn_logprob"),
        count(lit(1)).as("n_bigrams"))
  }

  /** Vocabulary coverage curve: what fraction of all corpus token
    * occurrences the top-N most frequent types cover, at a few N
    * thresholds — the diagnostic behind vocab-size / tokenizer-budget
    * decisions. One shuffle to global type counts, then a DISTRIBUTED
    * top-(max N) (`orderBy.limit` = TakeOrdered, never a global
    * single-partition sort of the whole vocabulary); the tiny top slice
    * gets a row_number and a broadcast range-join against the threshold
    * list. Covered counts stay in exact long arithmetic; the only
    * double is the final ratio, so parity is bitwise.
    */
  def vocabCoverage(s: SparkSession, dir: String,
                    thresholds: Seq[Int] = Seq(10, 100, 1000)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = tokenized(s, dir)
      .select(explode(col("ts")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .persist()
    CacheScope.register(counts) // eager: totals + top slice both read it
    val totals = counts.agg(sum(col("c")).as("_total"),
      count(lit(1)).as("_vocab"))
    // tiny (≤ max threshold) slice: single-partition window is fine
    val ranked = counts.orderBy(col("c").desc, col("t"))
      .limit(thresholds.max)
      .withColumn("r", row_number().over(
        Window.orderBy(col("c").desc, col("t"))))
    val thDf = counts.sparkSession
      .createDataFrame(thresholds.map(Tuple1(_))).toDF("n_top")
    broadcast(thDf).join(ranked, col("r") <= col("n_top"))
      .groupBy("n_top").agg(sum(col("c")).as("covered"))
      .crossJoin(broadcast(totals))
      .select(col("n_top"), col("_vocab").as("vocab_size"), col("covered"),
        round(col("covered").cast("double") / col("_total"), 9)
          .as("coverage"))
  }

  /** Heaps'-law vocabulary growth: distinct-type count V(n) at 10
    * corpus prefixes (by doc id order) plus the log-log OLS fit
    * V ≈ K·n^β — the estimate of how fast a tokenizer's vocabulary
    * must grow with corpus size. The cumulative distinct at EVERY
    * checkpoint comes from ONE pass: each type keeps its FIRST
    * occurrence doc (min doc_id per token — a partial-agg'd groupBy),
    * then a 10-row cumulative histogram; no per-checkpoint rescans.
    * The fit runs on exact integer checkpoint pairs; ln() terms
    * quantize to the 1e-9 grid before the 10-term sums.
    */
  def heapsLaw(s: SparkSession, dir: String,
               checkpoints: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = tokenized(s, dir)
      .select(col("doc_id"), explode(col("ts")).as("t"))
      .persist()
    CacheScope.register(tok) // eager: bounds + first-occurrence scans
    val nDocs = tok.agg(countDistinct(col("doc_id"))).head().getLong(0)
    val per = math.max(1L, nDocs / checkpoints)
    def bucketOf(c: Column) = least(floor(c / lit(per)) + 1,
      lit(checkpoints.toLong)).cast("int")
    // tokens seen up to each checkpoint = types whose FIRST doc falls
    // in an earlier-or-equal bucket; tokens-scanned likewise cumulative
    val firstSeen = tok.groupBy("t").agg(min(col("doc_id")).as("d0"))
      .select(bucketOf(col("d0")).as("b"))
      .groupBy("b").agg(count(lit(1)).as("new_types"))
    val scanned = tok
      .select(bucketOf(col("doc_id")).as("b"))
      .groupBy("b").agg(count(lit(1)).as("toks"))
    val w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    val pts = scanned.join(firstSeen, Seq("b"), "left")
      .select(col("b"), col("toks"),
        coalesce(col("new_types"), lit(0L)).as("nt"))
      .withColumn("n_tokens", sum("toks").over(w))
      .withColumn("v_types", sum("nt").over(w))
      .select(col("b"), col("n_tokens"), col("v_types"),
        floor(log(col("n_tokens").cast("double")) * lit(1e9) + lit(0.5))
          .cast("long").as("lx"),
        floor(log(col("v_types").cast("double")) * lit(1e9) + lit(0.5))
          .cast("long").as("ly"))
      .persist()
    CacheScope.register(pts) // eager: fit agg + output read it
    val fit = pts.agg(count(lit(1)).cast("decimal(38,0)").as("m"),
      sum(col("lx").cast("decimal(38,0)")).as("sx"),
      sum(col("ly").cast("decimal(38,0)")).as("sy"),
      sum(col("lx").cast("decimal(38,0)") * col("ly")).as("sxy"),
      sum(col("lx").cast("decimal(38,0)") * col("lx")).as("sxx"))
    // The OLS slope combines exact-integer terms (decimal(38,0); the
    // grid-quantized ln values are ~1e10, so every product fits) and
    // divides ONCE at the end. On a constant-vocabulary corpus the
    // numerator cancels to EXACTLY zero here, where the former
    // double-space `m*sxy - sx*sy` rode a ~1e21-magnitude cancellation
    // that only coincidentally agreed with the oracle.
    val num = col("m") * col("sxy") - col("sx") * col("sy")
    val den = col("m") * col("sxx") - col("sx") * col("sx")
    val beta = when(den === lit(0), lit(0.0))
      .otherwise(floor(num.cast("double") / den.cast("double") * lit(1e6)
        + lit(0.5)) / lit(1e6))
    pts.crossJoin(broadcast(fit.select(beta.as("beta"))))
      .select(col("b"), col("n_tokens"), col("v_types"), col("beta"))
      .orderBy("b")
  }

  /** Second BPE iteration: apply iteration 0's WINNING merge (top
    * pair by count, ties to the lexicographically smaller pair) to
    * every token's symbol stream with the greedy left-to-right scan
    * real BPE trainers use, then count adjacent symbol pairs again —
    * the iteration-1 candidate table, proving the iterate step rather
    * than documenting it. The winner is a 2-value driver scalar
    * (argmax — the documented driver-cutoff pattern); the merge is a
    * per-token carry fold (state = emitted symbols + one carried
    * symbol; carry==x and next==y emit the merged xy, which can't
    * re-match as x, reproducing greedy semantics exactly), so the
    * only shuffle is the final pair-count aggregation. Further
    * iterations re-run this plan with the next winner. Pairs key as
    * `sym1+sym2` — at iteration >= 1 symbols are multi-char and plain
    * concat would conflate (xy,z) with (x,yz).
    */
  def bpeIter2Counts(s: SparkSession, dir: String, k: Int = 40): DataFrame = {
    val top = bpePairCounts(s, dir, 1).collect()(0).getString(0)
    val (x, y) = (top.substring(0, 1), top.substring(1))
    // OPTIMIZATION r11 (guide §4): the greedy carry-fold merge is now
    // the fused codegen expression BpeMergeOnce — the former
    // aggregate(split(tok, ""), struct-fold) built O(len²) intermediate
    // arrays per token through interpreted higher-order eval
    // (BpeMergeSpec pins symbol-for-symbol equality to that fold).
    val merged = tokenized(s, dir)
      .select(explode(col("ts")).as("tok"))
      .filter(length(col("tok")) >= 2)
      .select(graft.expressions.TextExpressions
        .bpeMergeOnce(col("tok"), x, y).as("ms"))
    merged.filter(size(col("ms")) >= 2)
      .select(col("ms"),
        explode(sequence(lit(1), size(col("ms")) - 1)).as("i"))
      .select(concat(element_at(col("ms"), col("i")), lit("+"),
        element_at(col("ms"), col("i") + 1)).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)
  }

  /** First BPE merge iteration: corpus-wide counts of adjacent
    * SYMBOL pairs within each token (symbols = characters at
    * iteration 0), top-`k` pairs — the candidate table a byte-pair-
    * encoding tokenizer trainer merges from. Each token explodes by
    * position and every pair is one codegen'd 2-char substr (no split
    * array, no join), so the only shuffle is the final pair-count
    * aggregation —
    * map-side partial combine does the heavy lifting exactly like
    * word_count. Subsequent BPE iterations would re-run this over the
    * merged symbol stream; the per-iteration plan is identical.
    */
  def bpePairCounts(s: SparkSession, dir: String, k: Int = 40): DataFrame = {
    val toks = tokenized(s, dir)
      .select(explode(col("ts")).as("tok"))
      .filter(length(col("tok")) >= 2)
    // Pair construction is position-explode + substr — every expression
    // on the per-character hot path stays inside whole-stage codegen
    // (the former split + transform + element_at chain evaluated the
    // pair lambda interpreted: HOFs don't codegen). Measured at sf0.1,
    // avg of 3 isolated runs: HOF chain ~1.79s vs this path ~1.42s;
    // the full-board r4 run charged the HOF form 17.5s under the
    // 253-query session's heap pressure, so most of that line item was
    // context, not the operator.
    toks
      .select(col("tok"),
        explode(sequence(lit(1), length(col("tok")) - 1)).as("i"))
      .select(col("tok").substr(col("i"), lit(2)).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)
  }

  /** Term burstiness (W230): the Fano factor (variance-to-mean ratio)
    * of each top-`k` term's per-document count distribution — Church &
    * Gale's classic content-vs-function-word separator (a term whose
    * occurrences clump into few documents scores ≫ 1; one spread
    * Poisson-thin scores ≈ 1). Sufficient statistics are EXACT integer
    * sums over one (doc, term) count shuffle (cf = Σc, df, Σc²); the
    * algebraic form F = Σc²/cf − cf/N is two exact-rounded divisions
    * and a subtraction, so both engines agree bitwise after the grid
    * quantize. N is the corpus document count (zeros contribute only
    * through it — no dense join needed).
    */
  def termBurstiness(s: SparkSession, dir: String, k: Int = 40): DataFrame = {
    val docs = Tables.documents(s, dir)
    val perDoc = tokenized(s, dir)
      .select(col("doc_id"), explode(col("ts")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
    perDoc.groupBy("t")
      .agg(sum(col("c")).as("cf"), count(lit(1)).as("df"),
        sum(col("c") * col("c")).as("s2"))
      .orderBy(col("cf").desc, col("t"))
      .limit(k)
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("_n"))))
      .select(col("t").as("term"), col("cf"), col("df"),
        Events.q(col("s2").cast("double") / col("cf") -
          col("cf").cast("double") / col("_n"), 6).as("burstiness"))
      .orderBy(col("cf").desc, col("term"))
  }

  /** Distinct-n-gram diversity per source (W231): unique-to-total
    * n-gram ratios for n = 1, 2, 3 — the standard distinct-n diversity
    * audit run on generated/synthetic corpora before they enter a
    * training mix (mode-collapsed sources score near 0 at n ≥ 2).
    * Documents shorter than n contribute NO n-grams (unlike the dedup
    * shingler, which pads — here padding would inflate diversity).
    * One tokenize scan fans out into the three gram levels through
    * codegen'd explodes; counting is one (source, n, gram) aggregate,
    * pre-aggregated map-side, vocabulary-bounded.
    */
  def ngramDiversity(s: SparkSession, dir: String): DataFrame = {
    def grams(n: Int): Column =
      if (n == 1) col("ts")
      else when(size(col("ts")) >= n,
        transform(
          slice(col("ts"), lit(1), greatest(size(col("ts")) - (n - 1),
            lit(0))),
          (_, i) => concat_ws(" ", slice(col("ts"), i + lit(1), lit(n)))))
        .otherwise(array().cast("array<string>"))
    val base = Tables.documents(s, dir)
      .select(col("source"), tokenize(col("text")).as("ts"))
    val exploded = (1 to 3).map { n =>
      base.select(col("source"), lit(n).as("n"),
        explode(grams(n)).as("gram"))
    }.reduce(_ unionAll _)
    exploded.groupBy("source", "n")
      .agg(count(lit(1)).as("total_grams"),
        count_distinct(col("gram")).as("distinct_grams"))
      .select(col("source"), col("n"), col("total_grams"),
        col("distinct_grams"),
        Events.q(col("distinct_grams").cast("double") / col("total_grams"),
          6).as("diversity"))
      .orderBy("source", "n")
  }

  /** Tokenizer fertility by language (W224): the per-language cost
    * table a pipeline checks before committing to a tokenizer — how
    * many subword ("BPE-ish" regex) tokens each whitespace word and
    * each character expands into. High-fertility languages burn context
    * window and training budget; this is the table that decision reads.
    * Sufficient statistics (doc/word/subword/char counts) are EXACT
    * integer sums; each surfaced ratio is one double division then the
    * grid quantize, so both engines agree bitwise. One scan, one
    * 5-group shuffle — nothing here grows with corpus size except the
    * scan itself.
    */
  def tokenizerFertility(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"),
        size(expr("""regexp_extract_all(text, '\\S+', 0)""")).cast("long")
          .as("ws"),
        size(expr(
          """regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]', 0)"""))
          .cast("long").as("bpe"),
        length(col("text")).cast("long").as("ch"))
      .filter(col("ws") > 0)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("bpe")).as("bpe_tokens"),
        sum(col("ch")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("ws_tokens"),
        col("bpe_tokens"), col("n_chars"),
        Events.q(col("bpe_tokens").cast("double") / col("ws_tokens"), 6)
          .as("fertility"),
        Events.q(col("n_chars").cast("double") / col("bpe_tokens"), 6)
          .as("chars_per_token"))
      .orderBy("lang")

  /** Count-Min sketch audit: build a (depth 3 × width `width`) CM
    * sketch of the term-frequency stream, then for the top-`topK`
    * exact terms surface estimate vs truth and the overestimate — the
    * sketch-error measurement run before trusting approximate counts
    * at scale (the CM guarantee is est ≥ exact with bounded excess;
    * the audit shows the ACTUAL excess on this corpus). The sketch
    * builds from the per-term exact counts (cell(i,c) = Σ counts with
    * h_i(t)=c — occurrence-equivalent but one shuffle of |vocab| not
    * |corpus| rows); cells are depth·width groups at any scale. Row
    * hashes are affine maps of the 20 low bits of the oracle-
    * replicable base-31 poly hash, every product LONG-safe by
    * construction.
    */
  def countMinAudit(s: SparkSession, dir: String, width: Int = 256,
                    topK: Int = 20): DataFrame = {
    val As = Seq(37L, 8191L, 524287L)
    val Bs = Seq(17L, 257L, 65537L)
    val P = 1048573L
    val exact = tokenized(s, dir).select(explode(col("ts")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("exact"))
      .select(col("t"), col("exact"),
        (element_at(polyHashArray(array(col("t"))), 1) % lit(1048576L))
          .as("hv"))
      .persist()
    CacheScope.register(exact) // eager: cell build + top-k probe scan
    def cellOf(i: Int) =
      pmod(pmod(col("hv") * lit(As(i)) + lit(Bs(i)), lit(P)),
        lit(width.toLong))
    val cells = exact.select(explode(array((0 until 3).map(i =>
        struct(lit(i).as("row"), cellOf(i).as("cell"),
          col("exact").as("c"))): _*)).as("e"))
      .select(col("e.*"))
      .groupBy("row", "cell").agg(sum("c").as("cellsum"))
    val top = exact.orderBy(col("exact").desc, col("t")).limit(topK)
      .select(col("t"), col("exact"),
        explode(array((0 until 3).map(i =>
          struct(lit(i).as("row"), cellOf(i).as("cell"))): _*)).as("h"))
      .select(col("t"), col("exact"), col("h.row"), col("h.cell"))
    top.join(broadcast(cells), Seq("row", "cell"))
      .groupBy("t", "exact").agg(min("cellsum").as("est"))
      .select(col("t").as("term"), col("exact"), col("est"),
        (col("est") - col("exact")).as("overestimate"))
      .orderBy(col("exact").desc, col("term"))
  }

  /** Bloom-filter false-positive-rate audit: insert the corpus vocab
    * into an m-bit / k=3-hash Bloom filter, probe with DETERMINISTIC
    * mutated tokens (two suffix variants per vocab word, anti-joined
    * against the vocab so every probe is truly absent), and surface
    * the measured FPR next to the textbook prediction
    * (1 − (1−1/m)^{kn})^k — the calibration check run before sizing
    * the production filter that `bloom_semi_join` models. The filter
    * IS a table of set bit positions (≤ m rows — broadcast-sized by
    * construction, exactly how a distributed Bloom build works); a
    * probe is a false positive iff all k of its bits join. Same
    * LONG-safe affine hash family as [[countMinAudit]]; measured
    * counts are exact integers, and only the two surfaced rates are
    * double expressions.
    */
  def bloomFprAudit(s: SparkSession, dir: String,
                    mBits: Int = 4096): DataFrame = {
    val As = Seq(37L, 8191L, 524287L)
    val Bs = Seq(17L, 257L, 65537L)
    val P = 1048573L
    val members = tokenized(s, dir).select(explode(col("ts")).as("t"))
      .distinct().persist()
    CacheScope.register(members) // eager: bits, probes, count scan it
    val probes = members.select(concat(col("t"), lit("zz")).as("t"))
      .unionAll(members.select(concat(col("t"), lit("qx")).as("t")))
      .distinct()
      .join(members, Seq("t"), "left_anti")
    def withBits(df: DataFrame): DataFrame = df
      .select(col("t"),
        (element_at(polyHashArray(array(col("t"))), 1) % lit(1048576L))
          .as("hv"))
      .select(col("t"), explode(array((0 until 3).map(i =>
        pmod(pmod(col("hv") * lit(As(i)) + lit(Bs(i)), lit(P)),
          lit(mBits.toLong))): _*)).as("bit"))
    val setBits = withBits(members).select("bit").distinct()
    val fp = withBits(probes)
      .join(broadcast(setBits), Seq("bit"))
      .groupBy("t").agg(count(lit(1)).as("hits"))
      .filter(col("hits") === 3)
      .agg(count(lit(1)).as("false_pos"))
    val nm = members.agg(count(lit(1)).as("n_members"))
    val np = probes.agg(count(lit(1)).as("n_probes"))
    val inner = lit(1.0) -
      exp(lit(3.0) * col("n_members") * log(lit(1.0 - 1.0 / mBits)))
    nm.crossJoin(broadcast(np)).crossJoin(broadcast(fp))
      .select(col("n_members"), col("n_probes"), col("false_pos"),
        when(col("n_probes") > 0, Events.q(
          col("false_pos").cast("double") / col("n_probes"), 6))
          .otherwise(lit(0.0)).as("fpr"),
        Events.q(inner * inner * inner, 6).as("fpr_theory"))
  }

  /** Spearman rank correlation between document length (tokens) and
    * the quality score — the monotone-association check behind every
    * "are we just selecting for long documents?" curation review
    * (Pearson `regression_agg` sees only linear association; length
    * effects are usually monotone-but-saturating, exactly Spearman's
    * case). Tie-corrected via AVERAGE ranks, computed without a global
    * per-row sort: ranks derive from the distinct-value count table
    * (one window over DISTINCT values, the [[Ml.auc]] trick), doubled
    * so they stay integers — every sufficient statistic is then an
    * exact LONG/DECIMAL sum and ρ is one double expression at the end.
    */
  def spearmanCorr(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = quality(s, dir).select(col("doc_id"),
      col("n_tokens").cast("long").as("x"), col("quality").as("y"))
      .persist()
    CacheScope.register(base) // eager: both rank builds scan it
    // 2×average-rank per distinct value: 2·prior + cnt + 1 (integer)
    def ranks2(c: String, out: String): DataFrame = {
      val w = Window.orderBy(c).rowsBetween(Window.unboundedPreceding, 0)
      base.groupBy(c).agg(count(lit(1)).as("cnt"))
        .withColumn("prior", sum("cnt").over(w) - col("cnt"))
        .select(col(c), (col("prior") * 2 + col("cnt") + 1).as(out))
    }
    val rx = ranks2("x", "rx")
    val ry = ranks2("y", "ry")
    val joined = base.join(rx, "x").join(ry, "y")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val stats = joined.agg(count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(dec(col("rx"))).as("sx"), sum(dec(col("ry"))).as("sy"),
      sum(dec(col("rx")) * col("ry")).as("sxy"),
      sum(dec(col("rx")) * col("rx")).as("sxx"),
      sum(dec(col("ry")) * col("ry")).as("syy"))
    stats.select(col("n").cast("long").as("n_docs"),
      Events.q((col("n") * col("sxy") - col("sx") * col("sy"))
        .cast("double") /
        (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
          .cast("double")) *
         sqrt((col("n") * col("syy") - col("sy") * col("sy"))
          .cast("double"))), 6).as("spearman"))
  }

  /** Per-source unigram KL divergence to the corpus distribution
    * (W269): KL(Pₛ‖Q) with add-one smoothing over the shared corpus
    * vocabulary — the data-mixing diagnostic that says WHICH source's
    * token distribution is off-corpus (the per-source counterpart of
    * `dsir_weights`' per-document importance and `psi_drift`'s
    * per-feature drift). Determinism recipe (the `hill_tail_index`
    * ln-grid): each term's ln((c_st+1)(n+V)/((c_t+1)(n_s+V))) is
    * floor-quantized to a 1e-9 LONG grid, weighted by the exact
    * integer (c_st+1), and summed order-free in LONGs; the two final
    * divisions are the only unquantized doubles. The absent-term mass
    * is NOT dropped: the grid is the dense sources×vocab spine
    * (smoothing gives every absent term p=1/(nₛ+V)), built by one
    * broadcastable sources×vocab cross join — vocabulary-bounded, so
    * at 100 TB the corpus-bound work is exactly two token-count
    * aggregations (both map-side partial-agg'd); everything after is
    * O(sources·V).
    */
  def sourceKlDivergence(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("source"), explode(tokenize(col("text"))).as("t"))
    val st = tok.groupBy("source", "t").agg(count(lit(1)).as("c_st"))
      .persist()
    CacheScope.register(st) // eager: corpus rollup + grid both read it
    val corpus = st.groupBy("t").agg(sum(col("c_st")).as("c_t"))
    val totals = corpus.agg(sum(col("c_t")).as("n"),
      count(lit(1)).as("v"))
    val perSource = st.groupBy("source").agg(sum(col("c_st")).as("n_s"),
      count(lit(1)).as("vocab_used"))
    val grid = perSource.select("source", "n_s")
      .crossJoin(broadcast(corpus.crossJoin(totals)))
      .join(st, Seq("source", "t"), "left")
      .na.fill(0L, Seq("c_st"))
    val lr = floor(
      log(((col("c_st") + lit(1)) * (col("n") + col("v"))).cast("double")
        / ((col("c_t") + lit(1)) * (col("n_s") + col("v")))
          .cast("double")) * lit(1e9) + lit(0.5)).cast("long")
    val kl = grid
      .select(col("source"), col("n_s"), col("v"),
        ((col("c_st") + lit(1)) * lr).as("term"))
      .groupBy("source")
      .agg(max(col("n_s")).as("n_tokens"), max(col("v")).as("v"),
        sum(col("term")).as("num"))
    kl.join(perSource.select("source", "vocab_used"), "source")
      .select(col("source"), col("n_tokens"), col("vocab_used"),
        Events.q(col("num").cast("double") / lit(1e9)
          / (col("n_tokens") + col("v")).cast("double"), 6)
          .as("kl_to_corpus"))
      .orderBy("source")
  }

  /** S-stemmer vocabulary-compression audit (Harman 1991's three-rule
    * stemmer — `ies`→`y` unless aies/eies, strip the `s` of `es`
    * unless aes/ees/oes, strip a final `s` unless us/ss): stems that
    * collapse ≥2 surface forms, with form count, token mass and the
    * sorted form list — the audit that says how much vocabulary a
    * stemming stage would merge (and shows exactly WHAT it merges, the
    * part people actually review). The full Porter cascade adds ~20
    * rules but no new plumbing; the S-stemmer is the published
    * baseline and exactly restatable in both engines.
    *
    * One token-count shuffle; stemming is three regexp branches inside
    * codegen on the vocabulary-sized distinct table. Cut: top-k by
    * (n_forms, token mass, stem) — all exact integers.
    */
  def stemCollisions(s: SparkSession, dir: String,
                     k: Int = 30): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(explode(tokenize(col("text"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    val t = col("t")
    val stem = when(t.rlike("ies$") && !t.rlike("(aies|eies)$"),
        regexp_replace(t, "ies$", "y"))
      .when(t.rlike("es$") && !t.rlike("(aes|ees|oes)$"),
        regexp_replace(t, "s$", ""))
      .when(t.rlike("s$") && !t.rlike("(us|ss)$"),
        regexp_replace(t, "s$", ""))
      .otherwise(t)
    val st = CacheScope.track(
      tok.select(stem.as("stem"), col("t"), col("c")).persist()
    ) // summary + detail both read the stemmed vocabulary
    val detail = st.groupBy("stem")
      .agg(countDistinct(col("t")).as("n_forms"),
        sum(col("c")).as("n_tokens"),
        concat_ws(",", sort_array(collect_set(col("t")))).as("forms"))
      .filter(col("n_forms") >= 2)
      .orderBy(col("n_forms").desc, col("n_tokens").desc, col("stem"))
      .limit(k)
    // headline row first: the summary keeps the result non-empty on
    // vocabularies with no plural pairs at all (the fixture's is one)
    val summary = st.agg(countDistinct(col("t")).as("nv"),
        countDistinct(col("stem")).as("ns"))
      .select(lit("_summary").as("stem"), (col("nv") - col("ns") )
          .as("n_forms"),
        col("nv").as("n_tokens"),
        concat_ws("->", col("nv").cast("string"),
          col("ns").cast("string")).as("forms"))
    summary.unionAll(detail)
  }

  /** Per-source readability profile — Flesch reading ease over the
    * shared reference tokenizer, with sentences as `[.!?]+` terminator
    * groups (floor 1 so fragments count as one sentence) and syllables
    * as `[aeiouy]+` vowel groups (the standard cheap proxy; no minimum
    * per word, documented simple variant). The curation signal that
    * separates prose from boilerplate/code by STRUCTURE where
    * `quality_score` uses character ratios.
    *
    * Numerics: counts are exact longs; each per-doc Flesch score is
    * floor-quantized to the 1e-4 grid BEFORE the per-source mean, so
    * the mean is a ratio of exact integers; words-per-sentence and
    * syllables-per-word are corpus-level ratios of exact sums. One
    * partial-agg shuffle over O(sources) keys; every regex runs inside
    * codegen on the scan.
    */
  def readability(s: SparkSession, dir: String): DataFrame = {
    val w = size(tokenize(col("text"))).cast("long")
    val sn = greatest(lit(1L),
      regexp_count(col("text"), lit("[.!?]+")).cast("long"))
    val y = regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("long")
    val flesch = lit(206.835) -
      lit(1.015) * (col("w").cast("double") / col("sn")) -
      lit(84.6) * (col("y").cast("double") / col("w"))
    Tables.documents(s, dir)
      .select(col("source"), w.as("w"), sn.as("sn"), y.as("y"))
      .filter(col("w") > 0)
      .withColumn("fi",
        floor(flesch * lit(1e4) + lit(0.5)).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("w").as("sw"),
        sum("sn").as("ssn"), sum("y").as("sy"), sum("fi").as("sfi"))
      .select(col("source"), col("n_docs"),
        Events.q(col("sw").cast("double") / col("ssn"), 6)
          .as("words_per_sent"),
        Events.q(col("sy").cast("double") / col("sw"), 6)
          .as("syll_per_word"),
        Events.q(col("sfi").cast("double") / col("n_docs") / lit(1e4), 6)
          .as("mean_flesch"))
      .orderBy("source")
  }

  /** Dunning log-likelihood (G²) keyness (W305) — the terms that
    * most distinguish one source's language from the rest of the
    * corpus, ranked by the 2×2 likelihood-ratio statistic
    * G² = 2·[a·ln(a/Eₐ) + b·ln(b/E_b)] (Dunning 1993). The per-TERM
    * significance screen that corpus-level [[sourceKlDivergence]]
    * can't give, and sturdier than [[ctfidf]]-style tf ratios on rare
    * terms. Zero cells ride the 0·ln0 = 0 convention (exact: the
    * weight is the exact integer count, so a zero count zeroes the
    * term). Determinism: each ln(count-ratio) is floor-quantized to
    * the 1e-9 LONG grid and weighted by its exact integer count
    * (the [[sourceKlDivergence]] recipe); ordering ties break on the
    * quantized LONG then the term string. Shape: one token-count
    * shuffle (map-side combined), vocabulary-sized everything after,
    * TakeOrdered cut — at 100 TB the corpus-bound work is exactly the
    * one aggregation.
    */
  def keynessG2(s: SparkSession, dir: String, focus: String = "src0",
                k: Int = 30): DataFrame = {
    val counts = Tables.documents(s, dir)
      .select((col("source") === focus).cast("long").as("inF"),
        explode(tokenize(col("text"))).as("term"))
      .groupBy("term")
      .agg(sum(col("inF")).as("a"),
        sum(lit(1L) - col("inF")).as("b"))
      .persist()
    CacheScope.register(counts) // totals + the scored pass read it
    val tot = counts.agg(sum(col("a")).as("na"), sum(col("b")).as("nb"))
    // lq(x) = floor(ln(x)·1e9 + 0.5); products ride doubles (exact
    // here, and the LONG a·N cross-product would overflow first at
    // corpus scale) — the oracle restates the same double products
    def lq(num: Column, den: Column) =
      floor(log(num / den) * lit(1e9) + lit(0.5)).cast("long")
    def dbl(c: Column) = c.cast("double")
    val n = dbl(col("na")) + dbl(col("nb"))
    val ab = dbl(col("a")) + dbl(col("b"))
    val termA = when(col("a") > 0,
      col("a") * lq(dbl(col("a")) * n, dbl(col("na")) * ab))
      .otherwise(lit(0L))
    val termB = when(col("b") > 0,
      col("b") * lq(dbl(col("b")) * n, dbl(col("nb")) * ab))
      .otherwise(lit(0L))
    counts.crossJoin(broadcast(tot))
      .select(col("term"), col("a").as("n_focus"), col("b").as("n_rest"),
        (termA + termB).as("g2i"),
        when(col("a") * col("nb") > col("b") * col("na"), focus)
          .otherwise("rest").as("leans"))
      .orderBy(col("g2i").desc, col("term"))
      .limit(k)
      .select(col("term"), col("n_focus"), col("n_rest"),
        Events.q(lit(2.0) * col("g2i").cast("double") / lit(1e9), 6)
          .as("g2"),
        col("leans"))
  }

  /** Burrows' Delta stylometric distance (W322) — the standard
    * authorship-attribution measure (Burrows 2002): z-score each of
    * the corpus's top-k most frequent terms' relative frequencies
    * across sources, then Δ(a,b) = mean |z_a − z_b| over those
    * marker terms. [[sourceKlDivergence]] says how far a source sits
    * from the corpus; Delta says which sources WRITE ALIKE — the
    * pairwise signal used for attribution, style drift, and spotting
    * machine-written subsets. Numerics: relative frequencies land on
    * a 1e-9 LONG grid (exact count ratios), per-term mean/variance
    * across the S sources come from exact integer sums of those
    * grid values, z's are fixed double chains, and each pair's
    * per-term |Δz| re-quantizes to 1e-9 before the k-term sum — every
    * reduction order-free. Zero-variance terms (identical usage
    * everywhere) carry no style signal and are excluded from the mean
    * (n_terms surfaces the effective count). One token-count shuffle;
    * everything after is (k·S)-sized.
    */
  def burrowsDelta(s: SparkSession, dir: String, k: Int = 30)
      : DataFrame = {
    val tok = CacheScope.track(Tables.documents(s, dir)
      .select(col("source"), explode(tokenize(col("text"))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("c"))
      .persist()) // top-k cut + per-source totals + the dense grid
    val topk = tok.groupBy("term").agg(sum(col("c")).as("ct"))
      .orderBy(col("ct").desc, col("term")).limit(k)
      .select(col("term"))
    val perSource = tok.groupBy("source").agg(sum(col("c")).as("ns"))
    val grid = perSource.crossJoin(broadcast(topk))
      .join(tok, Seq("source", "term"), "left")
      .na.fill(0L, Seq("c"))
      .select(col("source"), col("term"),
        floor(col("c").cast("double") / col("ns") * lit(1e9) + lit(0.5))
          .cast("long").as("f9"))
      .localCheckpoint() // moments + both z sides read it
    val nSources = perSource.count()
    val moments = grid.groupBy("term")
      .agg(sum(col("f9")).as("sf"),
        sum(col("f9").cast("decimal(38,0)") * col("f9")).as("sf2"))
    val mu = col("sf").cast("double") / lit(nSources.toDouble)
    val varc = (col("sf2").cast("double") -
      col("sf").cast("double") * col("sf").cast("double") /
        lit(nSources.toDouble)) / lit(nSources.toDouble)
    // zero-variance exclusion decided EXACTLY: S·Σf² > (Σf)² in
    // DECIMAL(38) (the double comparison would blur at the 1e19 scale)
    val z = grid.join(broadcast(moments), "term")
      .filter(col("sf2") * lit(nSources) >
        col("sf").cast("decimal(38,0)") * col("sf").cast("decimal(38,0)"))
      .select(col("source"), col("term"),
        ((col("f9") - mu) / sqrt(varc)).as("z"))
    val pairs = z.select(col("source").as("source_a"), col("term"),
        col("z").as("za"))
      .join(z.select(col("source").as("source_b"), col("term"),
        col("z").as("zb")), "term")
      .filter(col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        floor(abs(col("za") - col("zb")) * lit(1e9) + lit(0.5))
          .cast("long").as("dz9"))
    pairs.groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_terms"),
        Events.q(sum(col("dz9")).cast("double") / lit(1e9) /
          count(lit(1)), 6).as("delta"))
      .orderBy("source_a", "source_b")
  }

  /** Per-source Jensen–Shannon divergence to the corpus unigram
    * distribution (W336) — the SYMMETRIC, √-metrizable, ln2-bounded
    * companion to [[sourceKlDivergence]]: KL explodes when a source
    * merely lacks corpus-common tokens, JSD stays bounded and
    * comparable ACROSS sources, which is what a data-mixing dashboard
    * actually ranks on. Same add-one smoothing over the shared corpus
    * vocabulary; JSD = ½KL(P‖M) + ½KL(Q‖M), M = ½(P+Q).
    *
    * Determinism recipe: with p = a/A (a = c_st+1, A = n_s+V) and
    * q = b/B (b = c_t+1, B = n+V), the mixture ratios collapse to
    * EXACT integer ratios — p/m = 2aB/(aB+bA), q/m = 2bA/(aB+bA) —
    * so each ln lands on the 1e-9 LONG grid weighted by the exact
    * integer a (resp. b) and the sums are order-free LONG adds; the
    * only unquantized doubles are the two final divisions by A and B.
    * The grid is the same broadcastable sources×vocab spine as
    * `source_kl`: at 100 TB the corpus-bound work is the one
    * (source, token) count aggregation (map-side partial-agg'd);
    * everything downstream is O(sources·V).
    */
  def jensenShannon(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("source"), explode(tokenize(col("text"))).as("t"))
    val st = tok.groupBy("source", "t").agg(count(lit(1)).as("c_st"))
      .persist()
    CacheScope.register(st) // eager: corpus rollup + grid both read it
    val corpus = st.groupBy("t").agg(sum(col("c_st")).as("c_t"))
    val totals = corpus.agg(sum(col("c_t")).as("n"), count(lit(1)).as("v"))
    val perSource = st.groupBy("source").agg(sum(col("c_st")).as("n_s"))
    val grid = perSource
      .crossJoin(broadcast(corpus.crossJoin(totals)))
      .join(st, Seq("source", "t"), "left")
      .na.fill(0L, Seq("c_st"))
      // exact integers; products in double (IEEE-identical both engines)
      .select(col("source"), col("n_s"), col("v"), col("n"),
        (col("c_st") + lit(1)).as("a"), (col("c_t") + lit(1)).as("b"),
        (col("n_s") + col("v")).cast("double").as("ad"),
        (col("n") + col("v")).cast("double").as("bd"))
    val aB = col("a").cast("double") * col("bd")
    val bA = col("b").cast("double") * col("ad")
    val lnP = floor(log(lit(2.0) * aB / (aB + bA)) * lit(1e9) + lit(0.5))
      .cast("long")
    val lnQ = floor(log(lit(2.0) * bA / (aB + bA)) * lit(1e9) + lit(0.5))
      .cast("long")
    grid
      .select(col("source"), col("n_s"), col("v"), col("n"),
        (col("a") * lnP).as("tp"), (col("b") * lnQ).as("tq"))
      .groupBy("source")
      .agg(max(col("n_s")).as("n_tokens"),
        sum(col("tp")).as("np"), sum(col("tq")).as("nq"),
        max(col("n_s") + col("v")).as("aa"),
        max(col("n") + col("v")).as("bb"))
      .select(col("source"), col("n_tokens"),
        Events.q((col("np").cast("double") / col("aa") +
          col("nq").cast("double") / col("bb")) / lit(2e9), 6).as("jsd"))
      .orderBy("source")
  }

  /** Simple Good–Turing frequency re-estimation audit (W337): the
    * frequency-of-frequencies table N_r and the GT-adjusted count
    * r* = (r+1)·N_{r+1}/N_r for r = 1..5, plus the r = 0 row carrying
    * the Turing unseen-probability mass p₀ = N₁/N — the smoothing
    * view that [[TextStats]]' add-one operators approximate and the
    * canonical answer to "how much probability does this corpus owe
    * to tokens it has never seen?" (the held-out-novelty number an
    * LM-data curator reads before fixing a vocabulary).
    *
    * All N_r are exact integers from two keyed aggregations (token →
    * type counts → count-of-counts); the ≤6-row r-spine joins against
    * the count-of-counts table and the only doubles are the final
    * per-row rationals (r*, mass), floor-quantized at 1e-6. Corpus-
    * bound work = the token count agg — one shuffle, partial-agg'd.
    */
  def goodTuring(s: SparkSession, dir: String, rMax: Int = 5): DataFrame = {
    val counts = Tables.documents(s, dir)
      .select(explode(tokenize(col("text"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    val fof = counts.groupBy("c").agg(count(lit(1)).as("n_r"))
      .persist()
    CacheScope.register(fof) // eager: spine joins it twice + total reads it
    val nTot = counts.agg(sum(col("c")).as("n"))
    val spine = s.range(0, rMax + 1).select(col("id").as("r"))
    spine
      .join(broadcast(fof.select(col("c").as("r"), col("n_r"))), Seq("r"), "left")
      .join(broadcast(fof.select((col("c") - 1).as("r"),
        col("n_r").as("n_r1"))), Seq("r"), "left")
      .na.fill(0L, Seq("n_r", "n_r1"))
      .crossJoin(broadcast(nTot))
      .select(col("r"), col("n_r"), col("n_r1"),
        when(col("r") === 0, lit(0.0))
          .when(col("n_r") > 0, Events.q((col("r") + 1).cast("double") *
            col("n_r1") / col("n_r"), 6)).otherwise(lit(0.0)).as("r_star"),
        // r=0: Turing unseen mass N1/N; r>0: GT mass (r+1)·N_{r+1}/N
        Events.q((col("r") + 1).cast("double") * col("n_r1") / col("n"), 6)
          .as("gt_mass"))
      .orderBy("r")
  }

  /** Monroe–Colaresi–Quinn log-odds with an informative Dirichlet
    * prior (W352): which terms distinguish source `srcA`'s documents
    * from the rest of the corpus, shrunk toward the corpus-wide term
    * distribution so rare terms can't dominate on noise — the
    * fightin'-words statistic that fixed the known failure modes of
    * raw log-odds, PMI, and tf-idf for corpus comparison (Monroe et
    * al. 2008), and the sibling of [[keynessG2]]'s likelihood-ratio
    * view. Per-term counts y_a/y_b are exact integers from one
    * token-keyed aggregation; prior mass α_w = a0·f_w/N is a fixed
    * rational per term; δ_w and its variance 1/(y_a+α)+1/(y_b+α)
    * are single fixed expressions (two `ln` calls — the board's
    * standard libm-parity exposure, quantized at 1e-6). Top-`k` by
    * quantized z, term tiebreak. Scale: token-cardinality spine,
    * corpus scalars broadcast.
    */
  def logOddsTerms(s: SparkSession, dir: String, srcA: String = "src0",
                   a0: Double = 500.0, k: Int = 15): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("source"), explode(tokenize(col("text"))).as("t"))
    val counts = tok.groupBy("t").agg(
      sum((col("source") === srcA).cast("long")).as("ya"),
      sum((col("source") =!= srcA).cast("long")).as("yb"))
    val tots = counts.agg(sum(col("ya")).as("na"), sum(col("yb")).as("nb"))
    val nn = col("na") + col("nb")
    val aw = lit(a0) * (col("ya") + col("yb")) / nn
    val delta = log((col("ya") + aw) /
        (col("na") + lit(a0) - col("ya") - aw)) -
      log((col("yb") + aw) / (col("nb") + lit(a0) - col("yb") - aw))
    val sigma2 = lit(1.0) / (col("ya") + aw) + lit(1.0) / (col("yb") + aw)
    counts.crossJoin(broadcast(tots))
      .select(col("t").as("term"), col("ya"), col("yb"),
        Events.q(delta, 6).as("delta"),
        Events.q(delta / sqrt(sigma2), 6).as("z"))
      .orderBy(col("z").desc, col("term"))
      .limit(k)
  }

  /** Average precision / PR-AUC (W353) of the stopword-share English
    * scorer against the fixture's lang labels — the ranking-quality
    * readout that, unlike ROC-AUC (`sgd_auc`), doesn't reward a
    * classifier for its performance on the overwhelming negative mass:
    * AP = (1/P)·Σ_{positives k} tp_k/k over the score-ranked corpus.
    * The score is the exact integer pair (en-stopword hits, tokens)
    * quantized to a 1e-9 LONG share, the rank order is total
    * ((share, doc_id) desc/asc), tp_k is a window-cumulated integer,
    * and each precision term lands on a 1e-9 LONG grid before the one
    * cross-row sum. Scale: one per-doc map + one global rank window
    * (doc-cardinality — the sort-bound stage every ranking metric
    * shares, range-partitioned at cluster scale).
    */
  def prAuc(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val en = Stopwords.head._2
    val scored = tokenized(s, dir)
      .filter(size(col("ts")) > 0)
      .join(Tables.documents(s, dir).select("doc_id", "lang"), "doc_id")
      .select(col("doc_id"), (col("lang") === "en").cast("long").as("y"),
        floor(stopCount(col("ts"), en).cast("double") * lit(1e9) /
          size(col("ts"))).as("s9"))
    val w = Window.orderBy(col("s9").desc, col("doc_id"))
    val ranked = scored
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("tp", sum(col("y")).over(
        Window.orderBy(col("s9").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, 0)))
    ranked.agg(count(lit(1)).as("n_docs"), sum(col("y")).as("n_pos"),
        sum(when(col("y") === 1,
          floor(col("tp").cast("double") * lit(1e9) / col("k") + lit(0.5))
            .cast("long")).otherwise(0L)).as("ap9"),
        max(when(col("k") <= 10, col("tp"))).as("tp10"))
      .select(col("n_docs"), col("n_pos"),
        Events.q(col("ap9").cast("double") / col("n_pos") / lit(1e9), 6)
          .as("ap"),
        Events.q(col("tp10").cast("double") / 10, 6).as("p_at_10"))
  }

  /** Cramér's V (W347) for the lang × source contingency table — the
    * normalized strength companion to a raw χ² test: "are sources
    * language-skewed, and by how much on a 0..1 scale?" is the question
    * a curation pipeline asks before trusting per-source language
    * quotas. The full grid (including EMPTY cells, which still
    * contribute their expected mass to χ²) comes from a cross join of
    * the two margins — r·c rows, a broadcast-sized dimension product
    * regardless of corpus size. Each cell's (o−e)²/e term is floor-
    * quantized to a 1e-9 LONG before the cross-cell sum so cell arrival
    * order can't wiggle low bits; V = √(χ²/(N·(min(r,c)−1))).
    * Scale: one (lang, source)-keyed count; everything after is
    * margin-cardinality-bound.
    */
  def cramersV(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("lang", "source")
    val cells = docs.groupBy("lang", "source").agg(count(lit(1)).as("o"))
    val rowM = cells.groupBy("lang").agg(sum(col("o")).as("nl"))
    val colM = cells.groupBy("source").agg(sum(col("o")).as("nc"))
    val n = docs.agg(count(lit(1)).as("nn"),
      countDistinct(col("lang")).as("r_levels"),
      countDistinct(col("source")).as("c_levels"))
    val grid = rowM.crossJoin(colM)
      .join(cells, Seq("lang", "source"), "left")
      .na.fill(0L, Seq("o"))
      .crossJoin(broadcast(n))
    val e = col("nl").cast("double") * col("nc") / col("nn")
    val t9 = floor((col("o") - e) * (col("o") - e) / e * lit(1e9) +
      lit(0.5)).cast("long")
    val chi2 = col("chi9").cast("double") / lit(1e9)
    grid.groupBy("nn", "r_levels", "c_levels")
      .agg(sum(t9).as("chi9"))
      .select(col("nn").as("n_docs"), col("r_levels"), col("c_levels"),
        Events.q(chi2, 6).as("chi2"),
        Events.q(sqrt(chi2 / (col("nn") *
          (least(col("r_levels"), col("c_levels")) - 1))), 6).as("v"))
  }

  /** Cohen's kappa (W348) between two cheap document-quality raters —
    * a char-length gate and a whitespace-token gate — the chance-
    * corrected agreement score every labeling pipeline reports before
    * trusting a heuristic as a silver label (raw percent agreement
    * rewards voting with the majority class; kappa doesn't). All four
    * confusion cells are exact integers from one pass; p_o and p_e are
    * exact-integer ratios combined in a single fixed expression.
    * Scale: one full-scan aggregate, no shuffle beyond the 4-cell
    * partial-agg merge.
    */
  def cohensKappa(s: SparkSession, dir: String,
                  charsMin: Long = 300, toksMin: Long = 55): DataFrame = {
    val rated = Tables.documents(s, dir).select(
      (col("n_chars") >= charsMin).cast("long").as("ra"),
      (size(tokenize(col("text"))) >= toksMin).cast("long").as("rb"))
    val cellsAgg = rated.agg(count(lit(1)).as("n"),
      sum(col("ra") * col("rb")).as("n11"),
      sum(col("ra") * (lit(1L) - col("rb"))).as("n10"),
      sum((lit(1L) - col("ra")) * col("rb")).as("n01"),
      sum((lit(1L) - col("ra")) * (lit(1L) - col("rb"))).as("n00"))
    val nD = col("n").cast("double")
    val po = (col("n11") + col("n00")).cast("double") / nD
    val pe = ((col("n11") + col("n10")).cast("double") *
      (col("n11") + col("n01")) +
      (col("n01") + col("n00")).cast("double") *
        (col("n10") + col("n00"))) / (nD * nD)
    cellsAgg.select(col("n").as("n_docs"), col("n11"), col("n10"),
      col("n01"), col("n00"), Events.q(po, 6).as("p_observed"),
      Events.q(pe, 6).as("p_expected"),
      when(pe < 1.0, Events.q((po - pe) / (lit(1.0) - pe), 6))
        .otherwise(lit(0.0)).as("kappa"))
  }

  /** Yule's characteristic K (W368) per source — the classic lexical-
    * "repeat-rate" constant, K = 10⁴·(Σ_m m²·V_m − N)/N², where V_m is
    * the number of types occurring exactly m times and N the token
    * count. Unlike the type/token ratio (and unlike [[heapsLaw]]'s
    * growth exponent), K is asymptotically length-INVARIANT, so it
    * compares sources whose documents differ wildly in size — the
    * vocabulary-concentration fingerprint next to [[zipfFit]]'s slope.
    * Σ m²·V_m is exactly Σ_types m², so everything up to the final
    * division is exact integer arithmetic (DECIMAL-summed); one double
    * ratio lands on the 1e-6 grid. Scale: term-frequency agg, then a
    * count-of-counts agg — vocabulary-cardinality, the [[heapsLaw]]
    * shuffle class.
    */
  def yuleK(s: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(s, dir)
      .select(col("source"), explode(tokenize(col("text"))).as("t"))
      .groupBy("source", "t").agg(count(lit(1)).as("m"))
    val cc = tf.groupBy("source", "m").agg(count(lit(1)).as("vm"))
    val agg = cc.groupBy("source").agg(
      sum((col("m") * col("vm")).cast("decimal(38,0)")).as("n"),
      sum((col("m") * col("m") * col("vm")).cast("decimal(38,0)"))
        .as("s2"),
      sum(col("vm")).as("v"))
    val nD = col("n").cast("double")
    agg.select(col("source"), col("n").cast("long").as("n_tokens"),
        col("v").as("v_types"),
        Events.q(lit(1e4) * (col("s2") - col("n")).cast("double") /
          (nD * nD), 6).as("yule_k"))
      .orderBy("source")
  }

  /** Brown–Forsythe (median-Levene) test (W372): are document-length
    * VARIANCES homogeneous across sources? The spread-stability gate
    * that [[Events.anovaOneway]]'s mean comparison silently assumes —
    * and the robust variant (deviations from the MEDIAN, Brown &
    * Forsythe 1974) so the fixture's heavy-tailed length distribution
    * can't manufacture significance. Per-source medians are exact
    * integers picked by cross-multiplied cumulative threshold
    * (2·cum ≥ n, the [[Relational.weightedMedian]] rule); z = |len −
    * med| is an exact LONG; the one-way F over z re-uses the anova
    * recipe: per-group Σz/Σz² exact DECIMAL, the rational Σ S_g²/n_g
    * floor-collapsed per group before one exact cross-group sum.
    * Scale: a per-(source, len) histogram agg then source-cardinality
    * reductions — never a global sort.
    */
  def brownForsythe(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = Tables.documents(s, dir)
      .groupBy(col("source"), col("n_chars").as("len"))
      .agg(count(lit(1)).as("w"))
    val tot = hist.groupBy(col("source").as("src"))
      .agg(sum(col("w")).as("nt"))
    val med = hist
      .withColumn("cw", sum(col("w")).over(
        Window.partitionBy("source").orderBy("len")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .join(broadcast(tot), col("source") === col("src"))
      .groupBy("source")
      .agg(min(when(col("cw") * 2 >= col("nt"), col("len"))).as("med"))
    val z = Tables.documents(s, dir).select("source", "n_chars")
      .join(broadcast(med), "source")
      .select(col("source"), abs(col("n_chars") - col("med")).as("z"))
    val g = z.groupBy("source").agg(count(lit(1)).as("ng"),
      sum(col("z").cast("decimal(38,0)")).as("sg"),
      sum((col("z") * col("z")).cast("decimal(38,0)")).as("qg"))
    // per-group rational S_g²/n_g floored to the 1e-6 grid, then exact
    val term6 = floor(col("sg").cast("double") * col("sg").cast("double")
      / col("ng") * lit(1e6))
    val agg = g.agg(count(lit(1)).as("k"), sum(col("ng")).as("nn"),
      sum(col("sg")).as("st"), sum(col("qg")).as("qt"),
      sum(term6.cast("decimal(38,0)")).as("b6"))
    val bD = col("b6").cast("double") / lit(1e6)
    val ssb = bD - col("st").cast("double") * col("st").cast("double") /
      col("nn")
    val ssw = col("qt").cast("double") - bD
    agg.select(col("k").as("k_groups"), col("nn").as("n_docs"),
      Events.q(ssb, 4).as("ss_between"), Events.q(ssw, 4).as("ss_within"),
      when(ssw > 0 && col("k") > 1 && col("nn") > col("k"),
        Events.q((ssb / (col("k") - 1)) /
          (ssw / (col("nn") - col("k"))), 6))
        .otherwise(lit(0.0)).as("f_stat"))
  }

  /** 1-D Wasserstein (earth-mover) distance W₁ (W378) between two
    * sources' document-length distributions — the drift metric that
    * reports HOW FAR apart two distributions sit in the data's own
    * units (characters), where KS/[[sourceKlDivergence]] report only
    * probability-scale divergence (KL is infinite on disjoint
    * support; W₁ degrades gracefully). In 1-D, W₁ = ∫|F_A − F_B| dt
    * exactly: one window pass over the distinct length values with
    * per-source cumulative counts and the gap to the next value, the
    * integrand cross-multiplied to the exact integer
    * |cumA·n_B − cumB·n_A|·gap (DECIMAL sum), one final division by
    * n_A·n_B. Scale: a length-keyed agg + a window over DISTINCT
    * lengths (value-bounded) — never a quantile sort over rows, and
    * no transport LP anywhere.
    */
  def wasserstein1d(s: SparkSession, dir: String,
                    srcA: String = "src0", srcB: String = "src1")
  : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir)
      .filter(col("source").isin(srcA, srcB))
      .select(col("source"), col("n_chars").as("v"))
    val byV = d.groupBy("v").agg(
      sum(when(col("source") === srcA, lit(1L)).otherwise(lit(0L)))
        .as("ca"),
      sum(when(col("source") === srcB, lit(1L)).otherwise(lit(0L)))
        .as("cb"))
    val w = Window.orderBy("v")
    val run = byV
      .withColumn("cum_a", sum(col("ca")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cum_b", sum(col("cb")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("gap", lead(col("v"), 1).over(w) - col("v"))
      .filter(col("gap").isNotNull)
    val tot = byV.agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"))
    run.crossJoin(broadcast(tot))
      .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        sum((col("gap") *
          abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")))
          .cast("decimal(38,0)")).as("num"))
      .select(col("n_a"), col("n_b"),
        Events.q(col("num").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")), 6)
          .as("w1_chars"))
  }

  /** RAKE keyword extraction (W392, Rose et al. 2010): candidate
    * phrases are maximal stopword-free token runs; a word scores
    * deg/freq (deg = Σ length of its phrases — favors words that
    * travel in long collocations); a phrase scores the sum of its
    * words — the unsupervised keyword list next to
    * [[textrankKeywords]] (graph centrality) and [[ctfidfTerms]]
    * (class contrast), at one pass instead of an iteration. Phrase
    * segmentation is a per-doc cumulative stopword count (windows
    * partition BY DOC — row-bounded per doc, never global); phrase
    * text assembles via sort_array(collect_list(struct(pos, t)))
    * so aggregation order cannot reorder tokens; word scores are
    * global-rational deg/freq pinned to a 1e-9 integer grid before
    * the per-phrase sum. Scale: two token-keyed aggs + one phrase
    * agg; the only top-k sort runs on the distinct-phrase table.
    */
  def rakeKeywords(s: SparkSession, dir: String, k: Int = 15)
  : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stops = Stopwords.head._2
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(tokenize(col("text"))))
      .select(col("doc_id"), col("pos"), col("col").as("t"))
      .withColumn("stop", col("t").isin(stops.map(lit): _*))
    val members = toks
      .withColumn("pid", sum(col("stop").cast("long")).over(
        Window.partitionBy("doc_id").orderBy("pos")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .filter(!col("stop"))
      .withColumn("plen", count(lit(1)).over(
        Window.partitionBy("doc_id", "pid")))
      .persist()
    CacheScope.register(members) // eager: word stats + phrases read it
    val words = members.groupBy("t").agg(
      count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .select(col("t"),
        floor(col("deg").cast("double") / col("freq").cast("double") *
          lit(1e9) + lit(0.5)).cast("long").as("w9"))
    val phrases = members.join(words, "t")
      .groupBy("doc_id", "pid")
      .agg(array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("t")))),
          x => x.getField("t")), " ").as("phrase"),
        count(lit(1)).as("n_words"), sum(col("w9")).as("s9"))
    phrases.groupBy("phrase")
      .agg(first(col("n_words")).as("n_words"),
        count(lit(1)).as("n_occur"), min(col("s9")).as("s9"))
      .select(col("phrase"), col("n_words"), col("n_occur"),
        Events.q(col("s9").cast("double") / lit(1e9), 6).as("score"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(k)
  }

  /** χ² term selection (W393) against a target source: per term, the
    * 2×2 document-frequency table (in src0 with t / without, rest
    * with / without) collapses to χ² = N(ad−bc)²/((a+b)(c+d)(a+c)
    * (b+d)) — the scikit-SelectKBest companion to [[keynessG2]]'s
    * likelihood ratio (χ² is the quadratic approximation; comparing
    * the two rankings is itself a diagnostic). Presence is per-DOC
    * (array_contains after one distinct), every cell an exact LONG,
    * the statistic one DECIMAL cross-product division quantized at
    * 1e-4, df ≥ 5 pruning before the top-k sort. Scale: one
    * term-keyed agg over (doc, term) distinct pairs; the broadcast
    * doc totals are two scalars.
    */
  def chi2Terms(s: SparkSession, dir: String, target: String = "src0",
                k: Int = 15, minDf: Long = 5): DataFrame = {
    val dt = Tables.documents(s, dir)
      .select(col("doc_id"), (col("source") === target).as("pos"),
        explode(array_distinct(tokenize(col("text")))).as("t"))
      .persist()
    CacheScope.register(dt) // eager: totals + the term agg read it
    val tot = Tables.documents(s, dir).agg(
      count(lit(1)).as("nn"),
      sum((col("source") === target).cast("long")).as("n0"))
    val cells = dt.groupBy("t").agg(
      sum(col("pos").cast("long")).as("a"),
      sum((!col("pos")).cast("long")).as("c"))
      .filter(col("a") + col("c") >= minDf)
      .crossJoin(broadcast(tot))
      .select(col("t"), col("a"), (col("n0") - col("a")).as("b"),
        col("c"), (col("nn") - col("n0") - col("c")).as("d"), col("nn"))
    // (ad-bc) fits a LONG at any doc count (products <= n^2); the
    // SQUARE must cast each factor first or it overflows at scale
    val num = col("nn").cast("decimal(38,0)") *
      ((col("a") * col("d") - col("b") * col("c")).cast("decimal(38,0)") *
       (col("a") * col("d") - col("b") * col("c")).cast("decimal(38,0)"))
    val den = ((col("a") + col("b")) * (col("c") + col("d")))
      .cast("decimal(38,0)") *
      ((col("a") + col("c")) * (col("b") + col("d")))
      .cast("decimal(38,0)")
    // a term present in EVERY doc (or every doc of one class) zeroes
    // a margin — chi2 is 0 by convention, not a division error
    cells.select(col("t").as("term"), col("a").as("df_target"),
        col("c").as("df_rest"),
        when(den > 0, Events.q(num.cast("double") / den.cast("double"), 4))
          .otherwise(lit(0.0)).as("chi2"))
      .orderBy(col("chi2").desc, col("term"))
      .limit(k)
  }

  /** Cronbach's α internal-consistency coefficient (W394) over three
    * per-document "items" (n_chars, token count, distinct-token
    * count): α = k/(k−1)·(1 − Σvarᵢ/var(Σ)) — the reliability
    * gate run before averaging correlated quality signals into one
    * score ([[qualityScore]] does exactly that average; this measures
    * whether its components agree enough for the average to mean
    * anything). All item sums/cross-sums are exact DECIMAL from ONE
    * aggregation; each sample variance divides exact cross-products
    * once, and the three-term variance sum adds in fixed order.
    */
  def cronbachAlpha(s: SparkSession, dir: String): DataFrame = {
    val items = Tables.documents(s, dir)
      .select(col("n_chars").as("x1"),
        size(tokenize(col("text"))).cast("long").as("x2"),
        size(array_distinct(tokenize(col("text")))).cast("long").as("x3"))
      .withColumn("sm", col("x1") + col("x2") + col("x3"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val g = items.agg(count(lit(1)).as("n"),
      sum(d38(col("x1"))).as("s1"), sum(d38(col("x1") * col("x1"))).as("q1"),
      sum(d38(col("x2"))).as("s2"), sum(d38(col("x2") * col("x2"))).as("q2"),
      sum(d38(col("x3"))).as("s3"), sum(d38(col("x3") * col("x3"))).as("q3"),
      sum(d38(col("sm"))).as("ss"), sum(d38(col("sm") * col("sm"))).as("qs"))
    val n = col("n").cast("double")
    def v(sq: String, sx: String) =
      (n * col(sq).cast("double") -
        col(sx).cast("double") * col(sx).cast("double")) / (n * (n - 1))
    val alpha = lit(3.0) / 2 *
      (lit(1.0) - (v("q1", "s1") + v("q2", "s2") + v("q3", "s3")) /
        v("qs", "ss"))
    g.select(col("n").as("n_docs"), lit(3L).as("k_items"),
      Events.q(alpha, 6).as("alpha"))
  }

  /** Rank-biased overlap stability (W406, Webber et al., p = 0.9,
    * depth 20) between the top-term lists of the two doc_id-parity
    * halves of the corpus: RBO = (1−p)·Σ_d p^(d−1)·|S₁∩S₂|_d/d —
    * "would the vocabulary ranking survive a resample?", the
    * top-weighted stability audit that plain set overlap or
    * [[Relational.spearmanCorr]]-style full-list correlation miss
    * (RBO weights depth 1 ≫ depth 20 and tolerates non-conjoint
    * lists). Every p^(d−1) weight is a DRIVER literal injected into
    * both engines; A_d counts come from one rank join (exact
    * integers); per-depth terms quantize at 1e-9 before the sum.
    * Scale: two term-keyed aggs + a 20-row depth table.
    */
  def rboStability(s: SparkSession, dir: String, depth: Int = 20,
                   p: Double = 0.9): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(s, dir)
      .select((col("doc_id") % 2 === 0).as("h"),
        explode(tokenize(col("text"))).as("t"))
    val counts = tok.groupBy("h", "t").agg(count(lit(1)).as("c"))
      .withColumn("r", row_number().over(
        Window.partitionBy("h").orderBy(col("c").desc, col("t"))))
      .filter(col("r") <= depth)
      .persist()
    CacheScope.register(counts) // eager: both halves of the rank join
    val r1 = counts.filter(col("h")).select(col("t"), col("r").as("r1"))
    val r2 = counts.filter(!col("h")).select(col("t"), col("r").as("r2"))
    val both = r1.join(r2, "t")
      .select(greatest(col("r1"), col("r2")).as("rmax"))
    val weights = s.createDataFrame(
      (1 to depth).map(d => (d, math.pow(p, d - 1)))
    ).toDF("d", "w")
    val terms = weights.crossJoin(broadcast(
        both.groupBy().agg(count(lit(1)).as("overlap"))))
      .join(both, col("rmax") <= col("d"), "left")
      .groupBy("d", "w", "overlap")
      .agg(sum(when(col("rmax").isNotNull, lit(1L)).otherwise(lit(0L)))
        .as("ad"))
      .select(col("overlap"),
        floor(lit(1 - p) * col("w") *
          (col("ad").cast("double") / col("d")) * lit(1e9) + lit(0.5))
          .cast("long").as("t9"))
    terms.groupBy("overlap").agg(sum(col("t9")).as("rbo9"))
      .select(lit(depth.toLong).as("depth"),
        col("overlap").as("overlap_at_k"),
        Events.q(col("rbo9").cast("double") / lit(1e9), 6).as("rbo"))
  }

  /** Hellinger distance (W417) between two sources' unigram
    * distributions: H = sqrt(1 - Sum sqrt(p_i q_i)) — the bounded,
    * symmetric, zero-tolerant member of the divergence family
    * ([[sourceKlDivergence]] blows up on disjoint support; Hellinger
    * is a true metric in [0,1]). Each sqrt(p*q) term divides exact
    * counts once inside one fixed sqrt and is pinned to a 1e-9
    * integer before the sum; BC is clamped at 1 (per-term rounding
    * can push an identical pair a few 1e-9 over). Scale: one
    * term-keyed agg over the union vocabulary.
    */
  def hellingerDistance(s: SparkSession, dir: String,
                        srcA: String = "src0", srcB: String = "src1")
  : DataFrame = {
    val tf = Tables.documents(s, dir)
      .filter(col("source").isin(srcA, srcB))
      .select(col("source"), explode(tokenize(col("text"))).as("t"))
      .groupBy("t").agg(
        sum((col("source") === srcA).cast("long")).as("c1"),
        sum((col("source") === srcB).cast("long")).as("c2"))
      .persist()
    CacheScope.register(tf) // eager: totals + the term agg read it
    val tot = tf.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
      sum((col("c1") > 0 && col("c2") > 0).cast("long"))
        .as("vocab_both"))
    val bc9 = tf.crossJoin(broadcast(tot))
      .select(floor(sqrt((col("c1") * col("c2")).cast("double") /
        (col("n1").cast("double") * col("n2").cast("double"))) *
        lit(1e9) + lit(0.5)).cast("long").as("t9"))
      .agg(sum(col("t9")).as("bc9"))
    bc9.crossJoin(tot).select(col("n1"), col("n2"), col("vocab_both"),
      Events.q(col("bc9").cast("double") / lit(1e9), 6).as("bc"),
      Events.q(sqrt(greatest(lit(0.0),
        lit(1.0) - col("bc9").cast("double") / lit(1e9))), 6)
        .as("hellinger"))
  }

  /** Pielou evenness (W420) of the per-source document distribution:
    * J = H/ln k — "is the corpus mix balanced across sources?" as
    * one number in [0, 1], the normalization [[Curation]]'s quota
    * and mixing ops target ([[Relational.herfindahlIndex]] reads
    * CONCENTRATION; J reads the entropy view of the same margin).
    * Per-source -p*ln p terms on the 1e-9 grid, one division by the
    * exact ln k. Scale: one source-keyed agg (k rows).
    */
  def pielouEvenness(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(s, dir)
      .groupBy("source").agg(count(lit(1)).as("c"))
      .persist()
    CacheScope.register(per) // eager: total + the term agg read it
    val tot = per.agg(sum(col("c")).as("nn"), count(lit(1)).as("k"))
    val h9 = per.crossJoin(broadcast(tot))
      .select((-(col("c").cast("double") / col("nn").cast("double")) *
        log(col("c").cast("double") / col("nn").cast("double")))
        .as("term"))
      .select(floor(col("term") * lit(1e9) + lit(0.5)).cast("long")
        .as("t9"))
      .agg(sum(col("t9")).as("h9"))
    h9.crossJoin(tot).select(col("k").as("k_sources"),
      col("nn").as("n_docs"),
      Events.q(col("h9").cast("double") / lit(1e9), 6).as("h_nats"),
      Events.q(col("h9").cast("double") / lit(1e9) /
        log(col("k").cast("double")), 6).as("evenness"))
  }

  /** Cochran's Q test (W433) across three binary quality detectors on
    * the SAME documents — long-doc (n_chars ≥ 200), has-digit, and
    * has-' the ' — the k-detector generalization of [[mcnemarTest]]:
    * do the detectors fire at the same rate, or does at least one
    * flag a systematically different slice? Q = (k−1)(k·ΣC_j² − N²) /
    * (k·N − ΣR_i²) runs ENTIRELY on exact integers (column totals C_j,
    * per-doc row totals R_i) with one final division; the degenerate
    * all-agree case (every R_i ∈ {0,k}, denominator 0 exactly)
    * surfaces Q = 0. Flag vs χ²₂ = 5.991. Scale: one single-scan
    * projection + one moment agg — detector columns are cheap
    * codegen'd predicates on the existing scan.
    */
  def cochransQ(s: SparkSession, dir: String): DataFrame = {
    val k = 3
    val flags = Tables.documents(s, dir)
      .select((col("n_chars") >= 200).cast("long").as("d1"),
        col("text").rlike("[0-9]").cast("long").as("d2"),
        lower(col("text")).contains(" the ").cast("long").as("d3"))
      .select(col("d1"), col("d2"), col("d3"),
        (col("d1") + col("d2") + col("d3")).as("r"))
    val g = flags.agg(count(lit(1)).as("n_docs"),
      sum(col("d1")).as("c1"), sum(col("d2")).as("c2"),
      sum(col("d3")).as("c3"), sum(col("r")).as("nn"),
      sum(col("r") * col("r")).as("rr"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val num = lit((k - 1).toLong) *
      (lit(k.toLong) * (d38(col("c1")) * col("c1") +
        d38(col("c2")) * col("c2") + d38(col("c3")) * col("c3")) -
        d38(col("nn")) * col("nn"))
    val den = lit(k.toLong) * col("nn") - col("rr")
    val qStat = when(den > 0,
      Events.q(num.cast("double") / den.cast("double"), 6))
      .otherwise(lit(0.0))
    g.select(col("n_docs"), col("c1"), col("c2"), col("c3"),
      qStat.as("q_stat"),
      (qStat > lit(5.991)).cast("long").as("reject_flag"))
  }

  /** Count-Sketch accuracy audit (W436): the SIGNED sibling of
    * [[countMinAudit]] — each of 3 rows hashes a term to one of 256
    * cells AND to a ±1 sign, cells accumulate sign·count, and the
    * estimate is the exact integer MEDIAN of the 3 signed cell reads.
    * Unlike Count-Min the error is two-sided and unbiased (colliding
    * terms cancel instead of stacking), which is why Count-Sketch
    * backs heavy-hitter pipelines over adversarial or heavy-tailed
    * streams. Same LONG-safe affine hash family; everything through
    * the median is exact integer arithmetic. Scale: the sketch is a
    * 3×256 cell table built by one keyed agg — broadcast-sized by
    * construction, the distributed-sketch shape.
    */
  def countSketchAudit(s: SparkSession, dir: String, width: Int = 256,
                       topK: Int = 20): DataFrame = {
    val As = Seq(37L, 8191L, 524287L)
    val Bs = Seq(17L, 257L, 65537L)
    val Cs = Seq(131L, 8209L, 524309L)
    val Ds = Seq(19L, 263L, 65539L)
    val P = 1048573L
    val exact = tokenized(s, dir).select(explode(col("ts")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("exact"))
      .select(col("t"), col("exact"),
        (element_at(polyHashArray(array(col("t"))), 1) % lit(1048576L))
          .as("hv"))
      .persist()
    CacheScope.register(exact) // eager: cell build + top-k probe scan
    def cellOf(i: Int) =
      pmod(pmod(col("hv") * lit(As(i)) + lit(Bs(i)), lit(P)),
        lit(width.toLong))
    def signOf(i: Int) =
      when(pmod(pmod(col("hv") * lit(Cs(i)) + lit(Ds(i)), lit(P)),
        lit(2L)) === 1, lit(1L)).otherwise(lit(-1L))
    val cells = exact.select(explode(array((0 until 3).map(i =>
        struct(lit(i).as("row"), cellOf(i).as("cell"),
          (signOf(i) * col("exact")).as("c"))): _*)).as("e"))
      .select(col("e.*"))
      .groupBy("row", "cell").agg(sum("c").as("cellsum"))
    val top = exact.orderBy(col("exact").desc, col("t")).limit(topK)
      .select(col("t"), col("exact"),
        explode(array((0 until 3).map(i =>
          struct(lit(i).as("row"), cellOf(i).as("cell"),
            signOf(i).as("sgn"))): _*)).as("h"))
      .select(col("t"), col("exact"), col("h.row"), col("h.cell"),
        col("h.sgn"))
    top.join(broadcast(cells), Seq("row", "cell"))
      .groupBy("t", "exact")
      .agg(element_at(sort_array(collect_list(
        col("sgn") * col("cellsum"))), 2).as("est"))
      .select(col("t").as("term"), col("exact"), col("est"),
        (col("est") - col("exact")).as("error"))
      .orderBy(col("exact").desc, col("term"))
  }

  /** Fleiss' kappa (W446) across the SAME three binary quality
    * detectors as [[cochransQ]]: chance-corrected multi-rater
    * agreement — Cochran's Q asks "do the detectors fire at the same
    * RATE?", Fleiss asks "do they agree on the same DOCUMENTS beyond
    * chance?" (detectors can have identical rates yet flag disjoint
    * slices). Per-doc agreement P_i = (x(x−1) + (r−x)(r−x−1)) /
    * (r(r−1)) keeps an exact integer numerator over the constant
    * denominator r(r−1) = 6, so P̄ and the chance term fold in one
    * fixed double expression from three exact sums. Perfect chance
    * agreement (P_e = 1: every doc unanimous the same way) gates κ
    * to 0 by convention. Scale: one single-scan projection + one
    * moment agg.
    */
  def fleissKappa(s: SparkSession, dir: String): DataFrame = {
    val r = 3
    val flags = Tables.documents(s, dir)
      .select((col("n_chars") >= 200).cast("long").as("d1"),
        col("text").rlike("[0-9]").cast("long").as("d2"),
        lower(col("text")).contains(" the ").cast("long").as("d3"))
      .select((col("d1") + col("d2") + col("d3")).as("x"))
    val g = flags.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("x") * (col("x") - 1) +
        (lit(r.toLong) - col("x")) * (lit(r.toLong) - col("x") - 1))
        .as("pnum"))
    val nD = col("n").cast("double")
    val pBar = col("pnum").cast("double") /
      (nD * lit((r * (r - 1)).toDouble))
    val pYes = col("sx").cast("double") / (nD * lit(r.toDouble))
    val pE = pYes * pYes + (lit(1.0) - pYes) * (lit(1.0) - pYes)
    val denom = lit(1.0) - pE
    val denomS = when(denom === 0.0, lit(1.0)).otherwise(denom)
    val kappa = when(denom =!= 0.0,
      Events.q((pBar - pE) / denomS, 6)).otherwise(lit(0.0))
    g.select(col("n").as("n_docs"),
      Events.q(pBar, 6).as("p_bar"), Events.q(pE, 6).as("p_e"),
      kappa.as("kappa"),
      (kappa > lit(0.4)).cast("long").as("moderate_agree_flag"))
  }

  /** Chao1 vocabulary-richness estimate (W458): how many types does
    * the corpus's vocabulary REALLY have, counting the ones we
    * haven't seen yet? Chao1 = V + F₁(F₁−1)/(2(F₂+1)) (the
    * bias-corrected form — no F₂ = 0 blowup) from the hapax/dis
    * counts, plus Good–Turing coverage C = 1 − F₁/N — the
    * unseen-mass pair that tells a data pipeline whether more
    * crawling buys more vocabulary ([[heapsLaw]] fits the growth
    * CURVE; Chao1 reads off its asymptote). Count-of-counts is two
    * exact keyed aggs; both estimates are one division each. Scale:
    * the word_count cost class.
    */
  def chao1Richness(s: SparkSession, dir: String): DataFrame = {
    val counts = tokenized(s, dir).select(explode(col("ts")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    val g = counts.agg(count(lit(1)).as("v"), sum(col("c")).as("n"),
      sum((col("c") === 1).cast("long")).as("f1"),
      sum((col("c") === 2).cast("long")).as("f2"))
    val chao = col("v").cast("double") +
      col("f1").cast("double") * (col("f1").cast("double") - 1) /
        (lit(2.0) * (col("f2").cast("double") + 1))
    g.select(col("n").as("n_tokens"), col("v").as("vocab"),
      col("f1").as("hapax"), col("f2").as("dis"),
      Events.q(chao, 2).as("chao1"),
      Events.q(lit(1.0) - col("f1").cast("double") /
        col("n").cast("double"), 6).as("coverage"))
  }

  /** Bernoulli rarefaction curve (W464): expected vocabulary size
    * when the corpus is subsampled to fixed fractions —
    * E[V_m] ≈ Σ_c k_c·(1 − (1−f)^c) over the count-of-counts — the
    * curve [[chao1Richness]] summarizes at its endpoint, and the
    * budget question in data-mixing terms: "how much vocabulary do I
    * LOSE at 25% of the tokens?". The retention fractions are FIXED
    * constants, so ln(1−f) is a driver literal injected into both
    * engines (no data-dependent logs); each count group's term
    * exp(c·ln(1−f)) lands once on the 1e-9 grid, making the per-
    * fraction sum exact. Scale: one count-of-counts agg × 5
    * broadcast fraction rows.
    */
  def rarefactionCurve(s: SparkSession, dir: String): DataFrame = {
    val fracs = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
    val lits = fracs.map(f => (f, math.log(1.0 - f)))
    import s.implicits._
    val fr = broadcast(lits.toDF("frac", "ln1f"))
    val kc = tokenized(s, dir).select(explode(col("ts")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .groupBy("c").agg(count(lit(1)).as("k"))
      .persist()
    CacheScope.register(kc) // eager: V total + the 5-fraction scan
    val v = kc.agg(sum(col("k")).as("v"))
    val terms = kc.crossJoin(fr)
      .select(col("frac"), col("k"),
        floor((lit(1.0) - exp(col("c").cast("double") * col("ln1f")))
          * lit(1e9) + lit(0.5)).cast("long").as("t9"))
    terms.groupBy("frac")
      .agg(sum(col("k").cast("decimal(38,0)") * col("t9")).as("s9"))
      .crossJoin(broadcast(v))
      .select(col("frac"),
        Events.q(col("s9").cast("double") / lit(1e9), 2)
          .as("exp_vocab"),
        Events.q(col("s9").cast("double") / lit(1e9) /
          col("v").cast("double"), 6).as("vocab_share"))
      .orderBy("frac")
  }

  /** Hill-number diversity profile of the source mix (W472):
    * ⁰D = richness, ¹D = e^H (Shannon's effective source count),
    * ²D = N²/Σn² (Simpson's — the inverse of [[herfindahlIndex]]'s
    * concentration) — one ladder that unifies the diversity zoo:
    * reading the three together shows whether "diverse" means many
    * RARE sources (⁰D ≫ ¹D) or several balanced ones (⁰D ≈ ²D), the
    * corpus-mixing question a single index hides. Σn² is exact
    * DECIMAL; H reuses the per-source 1e-9 −p·ln p grid; each D is
    * one expression. Scale: one source-keyed count agg.
    */
  def hillNumbers(s: SparkSession, dir: String): DataFrame = {
    val bySrc = Tables.documents(s, dir)
      .groupBy("source").agg(count(lit(1)).as("c"))
    val tot = bySrc.agg(count(lit(1)).as("k"), sum(col("c")).as("n"),
      sum(col("c").cast("decimal(38,0)") * col("c")).as("cc"))
    val h9 = bySrc.crossJoin(broadcast(tot))
      .select(floor(-(col("c").cast("double") / col("n")) *
        log(col("c").cast("double") / col("n")) * lit(1e9) + lit(0.5))
        .cast("long").as("t9"))
      .agg(sum(col("t9")).as("h9"))
    tot.crossJoin(broadcast(h9))
      .select(col("n").as("n_docs"), col("k").as("d0_richness"),
        Events.q(exp(col("h9").cast("double") / lit(1e9)), 4)
          .as("d1_shannon"),
        Events.q(col("n").cast("double") * col("n").cast("double") /
          col("cc").cast("double"), 4).as("d2_simpson"))
  }

  /** Per-source LIX readability (W487) — the Scandinavian index
    * W/S + 100·LW/W (LW = words longer than 6 characters), the
    * formula-free-of-syllables companion to [[readability]]'s Flesch
    * (LIX needs no vowel heuristic, so it transfers across languages
    * — exactly why corpus pipelines keep both). All three counts are
    * exact integer sums over the shared tokenizer ([.!?]+ sentence
    * groups, floor 1 per doc), and the index is two divisions over
    * per-source exact sums — no libm. One partial-agg shuffle over
    * O(sources) keys.
    */
  def lixReadability(s: SparkSession, dir: String): DataFrame = {
    val ts = tokenize(col("text"))
    val w = size(ts).cast("long")
    val lw = size(filter(ts, t => length(t) > 6)).cast("long")
    val sn = greatest(lit(1L),
      regexp_count(col("text"), lit("[.!?]+")).cast("long"))
    Tables.documents(s, dir)
      .select(col("source"), w.as("w"), lw.as("lw"), sn.as("sn"))
      .filter(col("w") > 0)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("w").as("sw"),
        sum("sn").as("ssn"), sum("lw").as("slw"))
      .select(col("source"), col("n_docs"), col("sw").as("words"),
        col("ssn").as("sentences"), col("slw").as("long_words"),
        Events.q(col("sw").cast("double") / col("ssn").cast("double") +
          lit(100.0) * col("slw").cast("double") /
            col("sw").cast("double"), 4).as("lix"))
      .orderBy("source")
  }

  /** Per-source MSTTR-25 lexical diversity (W488) — mean segmental
    * type-token ratio: each document splits into consecutive FULL
    * 25-token segments, each segment contributes |distinct|/25, and
    * the source score is the mean over its segments. The
    * length-bias-free upgrade of raw TTR (raw TTR falls with document
    * length, so corpus mixes can't be compared on it; fixed-size
    * segments remove the bias — the cheap stand-in for MTLD). All
    * counts are exact integers; the score is one division of
    * Σ distinct by 25·segments. Scale: one posexplode + one
    * (doc, segment)-keyed distinct agg — linear, no window.
    */
  def msttrDiversity(s: SparkSession, dir: String,
                     segLen: Int = 25): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), tokenize(col("text")).as("ts"))
      .select(col("source"), col("doc_id"),
        size(col("ts")).cast("long").as("len"),
        posexplode(col("ts")))
      .filter(expr(s"pos div $segLen < len div $segLen"))
      .select(col("source"), col("doc_id"),
        expr(s"pos div $segLen").as("seg"), col("col").as("t"))
    base.groupBy("source", "doc_id", "seg")
      .agg(countDistinct(col("t")).as("nd"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_segments"), sum(col("nd")).as("snd"))
      .select(col("source"), col("n_segments"),
        Events.q(col("snd").cast("double") /
          (lit(segLen.toLong) * col("n_segments")).cast("double"), 6)
          .as("msttr"))
      .orderBy("source")
  }

  /** Crawl-slice n-gram novelty (W498): per ingestion slice (doc_id
    * range split into `slices` equal-width windows — the id is the
    * ingestion-order proxy), the share of shingle OCCURRENCES whose
    * FIRST corpus occurrence is in that slice. The marginal-value
    * curve of continued crawling: a slice whose novelty_rate has
    * collapsed is re-crawling what the corpus already holds.
    * [[heapsLaw]] is the TYPE-growth twin; this is occurrence-mass —
    * the number that predicts dedup's yield on the next batch.
    * First occurrences are one min-agg keyed by shingle (partial-agg'd,
    * no window); slice labels are pure arithmetic on the broadcast
    * (min,max) id bounds — order-free, no global sort at any scale.
    */
  def ngramNovelty(s: SparkSession, dir: String, n: Int = 3,
                   slices: Int = 10): DataFrame = {
    import s.implicits._
    val ex = tokenized(s, dir)
      .select(col("doc_id"),
        explode(array_distinct(Dedup.shingles(col("ts"), n))).as("sh"))
      .persist()
    CacheScope.register(ex) // eager: bounds + firsts + the label join
    val bounds = ex.agg(min(col("doc_id")).as("lo"),
      max(col("doc_id")).as("hi"))
    val firsts = ex.groupBy("sh").agg(min(col("doc_id")).as("first_id"))
    val lab = ex.join(firsts, "sh")
      .crossJoin(broadcast(bounds))
      .select(
        least(expr(s"($slices * (doc_id - lo)) div (hi - lo + 1)"),
          lit(slices - 1L)).as("slice"),
        col("doc_id"),
        (col("doc_id") === col("first_id")).cast("long").as("novel"))
    val g = lab.groupBy("slice")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"), sum(col("novel")).as("n_novel"))
    val spine = (0L until slices.toLong).toDF("slice")
    broadcast(spine).join(g, Seq("slice"), "left")
      .select(col("slice"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_occ"), lit(0L)).as("n_occ"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(coalesce(col("n_occ"), lit(0L)) > 0,
          Events.q(col("n_novel").cast("double") /
            col("n_occ").cast("double"), 6)).otherwise(lit(0.0))
          .as("novelty_rate"))
      .orderBy("slice")
  }

  /** Per-language tail-token mass (W500): share of a language's token
    * occurrences falling OUTSIDE the corpus-global top-`topN`
    * vocabulary — the signal that a language's text won't compress
    * into a shared tokenizer's head and will pay long byte-level
    * splits. [[vocabCoverage]] is the corpus-global coverage table;
    * this is its per-language breakdown against one shared head. The
    * top set is rank-deterministic (count desc, then token) and
    * broadcast; per-language masses are one partial-agg'd pass.
    */
  def tailTokenMass(s: SparkSession, dir: String,
                    topN: Int = TailTopN): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("lang"), explode(tokenize(col("text"))).as("t"))
      .persist()
    CacheScope.register(tok) // eager: global counts + the per-lang pass
    val top = tok.groupBy("t").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t")).limit(topN)
      .select(col("t"), lit(1L).as("in_top"))
    tok.join(broadcast(top), Seq("t"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_top").isNull, 1L).otherwise(0L)).as("n_tail"))
      .select(col("lang"), col("n_tokens"), col("n_tail"),
        Events.q(col("n_tail").cast("double") /
          col("n_tokens").cast("double"), 6).as("tail_share"))
      .orderBy("lang")
  }

  /** Per-source quality drift (W501): mean quality score of a source's
    * FIRST vs LAST ingestion-order quarter (doc_id-range windows, the
    * same id-as-ingestion proxy as [[ngramNovelty]]) — the curation
    * alarm that a feed's quality is sliding between crawls. Per-doc
    * quality quantizes to the 1e-6 LONG grid before the per-quarter
    * integer sums (engine-order-free, like `dup_quality_matrix`);
    * each mean is one division. One doc-keyed pass + a sources-sized
    * agg; bounds broadcast.
    */
  def qualityDrift(s: SparkSession, dir: String,
                   quarters: Int = 4): DataFrame = {
    val q6 = qualityTokens(tokenized(s, dir))
      .select(col("doc_id"),
        floor(col("quality") * lit(1e6) + lit(0.5)).cast("long").as("q6"))
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val base = q6.join(src, "doc_id").persist()
    CacheScope.register(base) // eager: bounds + the quarter agg
    val bounds = base.agg(min(col("doc_id")).as("lo"),
      max(col("doc_id")).as("hi"))
    val lab = base.crossJoin(broadcast(bounds))
      .select(col("source"), col("q6"),
        least(expr(s"($quarters * (doc_id - lo)) div (hi - lo + 1)"),
          lit(quarters - 1L)).as("qt"))
    val last = quarters - 1L
    lab.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("qt") === 0L).cast("long")).as("n_first"),
        sum((col("qt") === last).cast("long")).as("n_last"),
        sum(when(col("qt") === 0L, col("q6")).otherwise(0L)).as("s_first"),
        sum(when(col("qt") === last, col("q6")).otherwise(0L)).as("s_last"))
      .select(col("source"), col("n_docs"), col("n_first"), col("n_last"),
        when(col("n_first") > 0, Events.q(col("s_first").cast("double") /
          col("n_first").cast("double") / lit(1e6), 6)).otherwise(lit(0.0))
          .as("mean_q_first"),
        when(col("n_last") > 0, Events.q(col("s_last").cast("double") /
          col("n_last").cast("double") / lit(1e6), 6)).otherwise(lit(0.0))
          .as("mean_q_last"))
      .withColumn("drift",
        Events.q(col("mean_q_last") - col("mean_q_first"), 6))
      .orderBy("source")
  }
}

