package graft.operators

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{CacheScope, Tables}
import graft.functions.TextFns._
import graft.expressions.HashExpressions.polyHashArray

/** ML tier: logistic-regression spam classifier trained by sequential SGD
  * (references: `TrainSpamClassifier.scala`, `ApplySpamClassifier.scala`,
  * `ApplyEnsembleSpamClassifier.scala`).
  *
  * Training is an *order-dependent* sequential fold (update rule
  * `w(f) += (label - prob) * delta` applied instance by instance,
  * `TrainSpamClassifier.scala:43-49`), so it deliberately runs as a
  * single-partition typed `mapPartitions` — the one place in the engine
  * where a Catalyst aggregate is semantically wrong (not commutative).
  * Scoring/apply is fully distributed: explode features, broadcast-join
  * the weight table, sum per document.
  */
object Ml {

  val DefaultDelta = 0.002
  val DefaultBuckets = 10007

  /** Deterministic featurization of the documents fixture into the
    * reference's instance shape `(docid, label, features: Array[Long])`
    * (`TrainSpamClassifier.scala:78-89`): feature ids are hashed tokens,
    * label 1.0 for English documents ("spam" stand-in). The hash is the
    * oracle-replicable base-31 poly fold mod 2^40 (`PolyHashArray`)
    * rather than murmur3, so the whole SGD tier can be re-derived in
    * pure SQL by the DuckDB oracle.
    */
  def featurize(s: SparkSession, dir: String,
                buckets: Int = DefaultBuckets): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id").as("docid"),
      when(col("lang") === "en", 1.0).otherwise(0.0).as("label"),
      transform(polyHashArray(tokenize(col("text"))),
        h => pmod(h, lit(buckets.toLong))).as("features"))

  /** Parse the reference's spam-instance line format
    * (`TrainSpamClassifier.scala:78-89`): `docid label feat1 feat2 …`,
    * whitespace-split, label `spam` → 1.0 else 0.0, features integer
    * ids. The reference's docids are opaque strings (`clueweb09-…`), so
    * they surface as `doc_name` and the stable `line_id` from
    * `Sources.readLines` becomes the numeric `docid` that fixes the
    * sequential training order (= file order, as the reference's
    * single-split text input did).
    */
  def parseInstances(lines: DataFrame): DataFrame = {
    val parts = split(trim(col("line")), "\\s+")
    lines.select(
      col("line_id").as("docid"),
      element_at(parts, 1).as("doc_name"),
      when(element_at(parts, 2) === "spam", 1.0).otherwise(0.0).as("label"),
      transform(slice(parts, lit(3), greatest(size(parts) - 2, lit(0))),
        f => f.cast("long")).as("features"))
  }

  /** Sequential SGD, one pass in `docid` order (or seeded-shuffled
    * order — the reference's shuffled trainer,
    * `TrainSpamClassifier.scala:70-77`, which prepended `Random.nextInt`
    * keys and sorted). The shuffle here is a seeded multiplicative-hash
    * permutation rather than `rand(seed)`: it plays the same role
    * (decorrelates instance order from docid order) but is a pure
    * arithmetic function of (docid, seed), so it is reproducible across
    * engines and the DuckDB oracle can replay the shuffled fold too —
    * also the property that makes distributed training resumable.
    * Returns the weight table `(feature, weight)`.
    */
  val ShuffleModulus = 4294967296L // 2^32
  val ShuffleMultiplier = 2654435761L // Knuth's multiplicative constant

  def trainSgd(s: SparkSession, instances: DataFrame,
               delta: Double = DefaultDelta,
               shuffleSeed: Option[Long] = None): DataFrame = {
    import s.implicits._
    val ds = instances.select("docid", "label", "features")
      .as[(Long, Double, Seq[Long])]
    val ordered = shuffleSeed match {
      case Some(seed) => ds.orderBy(
        pmod(col("docid") * (ShuffleMultiplier + seed), lit(ShuffleModulus)),
        col("docid"))
      case None       => ds.orderBy("docid")
    }
    ordered.coalesce(1).mapPartitions { it =>
      val w = mutable.HashMap.empty[Long, Double].withDefaultValue(0.0)
      it.foreach { case (_, label, feats) =>
        val score = feats.iterator.map(w).sum
        val prob = 1.0 / (1.0 + math.exp(-score))
        val g = (label - prob) * delta
        feats.foreach(f => w(f) += g)
      }
      w.iterator
    }.toDF("feature", "weight")
  }

  /** Distributed model application (`ApplySpamClassifier.scala:30-68`):
    * spamminess = Σ w(f) over the instance's features; classify on
    * sign. Weight table broadcast; explode_outer keeps featureless docs.
    */
  def score(instances: DataFrame, model: DataFrame,
            scoreName: String = "score"): DataFrame =
    instances
      .select(col("docid"), col("label"),
        explode_outer(col("features")).as("feature"))
      .join(broadcast(model), Seq("feature"), "left")
      .groupBy("docid", "label")
      .agg(sum(coalesce(col("weight"), lit(0.0))).as(scoreName))

  def applyModel(instances: DataFrame, model: DataFrame): DataFrame =
    score(instances, model)
      .withColumn("pred",
        when(col("score") > 0, "spam").otherwise("ham"))

  /** 3-model ensemble (`ApplyEnsembleSpamClassifier.scala:58-123`):
    * `average` = mean score, classify on its sign; `vote` = ±1 per
    * model, classify on the sign of the sum.
    */
  def applyEnsemble(instances: DataFrame, models: Seq[DataFrame],
                    method: String): DataFrame = {
    val scored = models.zipWithIndex
      .map { case (m, i) => score(instances, m, s"score_$i") }
      .reduce((a, b) => a.join(b, Seq("docid", "label")))
    val cols = models.indices.map(i => col(s"score_$i"))
    method match {
      case "average" =>
        val avg = cols.reduce(_ + _) / models.size
        scored.withColumn("score", avg)
          .withColumn("pred", when(col("score") > 0, "spam").otherwise("ham"))
          .select("docid", "label", "score", "pred")
      case "vote" =>
        val votes = cols.map(c => when(c > 0, 1).otherwise(-1)).reduce(_ + _)
        scored.withColumn("votes", votes)
          .withColumn("pred", when(col("votes") > 0, "spam").otherwise("ham"))
          .select("docid", "label", "votes", "pred")
      case other => throw new IllegalArgumentException(
        s"unknown ensemble method '$other' (want average|vote)")
    }
  }

  /** Distributed AUC (reference M6 eval was an external course script —
    * here a first-class operator): Mann-Whitney rank-sum computed over
    * score *groups*, exact under ties (each positive at score s counts
    * negatives below s plus half the negatives tied at s). The global
    * window runs over distinct scores only, so the sort is tiny even
    * when the scored set is huge.
    */
  def auc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = df.groupBy(col(scoreCol).as("s"))
      .agg(
        sum(when(col(labelCol) === 1, 1L).otherwise(0L)).as("p"),
        sum(when(col(labelCol) === 1, 0L).otherwise(1L)).as("n"))
    val w = Window.orderBy("s")
      .rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("cumn", coalesce(sum(col("n")).over(w), lit(0L)))
      .agg(
        sum(col("p") * (col("cumn") + col("n") / 2.0)).as("num"),
        sum(col("p")).as("np"), sum(col("n")).as("nn"))
      .select(round(col("num") / (col("np") * col("nn")), 6).as("auc"))
  }

  /** Per-process memo of the sequential trainer's weights, keyed by
    * (session, dir, seed, delta). Five metric queries (sgd_apply,
    * confusion_matrix, prf_metrics, calibration_bins, sgd_auc) derive
    * from the SAME trained model; each remains a standalone query, but
    * within one process they reuse one sequential fold instead of five.
    * The model is ≤ `DefaultBuckets` (10007) rows — a fixed,
    * corpus-size-independent hash-bucket table, so driver-side
    * retention is safe at 100 TB exactly like a broadcast dimension.
    * Weak keys: the memo dies with its session, and unlike a persisted
    * DataFrame it survives `CacheScope.release` (whose unpersist would
    * silently re-run the whole fold on next use).
    */
  private val modelMemo = new mutable.WeakHashMap[SparkSession,
    scala.collection.concurrent.TrieMap[(String, Option[Long], Double),
      Array[(Long, Double)]]]()

  private[graft] def trainedModel(s: SparkSession, dir: String,
      shuffleSeed: Option[Long] = None,
      delta: Double = DefaultDelta): DataFrame = {
    import s.implicits._
    val perSession = modelMemo.synchronized {
      modelMemo.getOrElseUpdate(s, scala.collection.concurrent.TrieMap.empty)
    }
    val w = perSession.getOrElseUpdate((dir, shuffleSeed, delta),
      trainSgd(s, featurize(s, dir), delta, shuffleSeed)
        .as[(Long, Double)].collect())
    w.toSeq.toDF("feature", "weight")
  }

  /** queries-surface helpers with fixed featurization over `documents`.
    * Weights are rounded to 6dp for the oracle compare: the DuckDB fold
    * sums each instance's score in vocabulary order while the Scala fold
    * sums in token order, a ~1e-15 relative difference that 6dp absorbs.
    */
  def trainQuery(s: SparkSession, dir: String,
                 shuffleSeed: Option[Long] = None): DataFrame =
    trainedModel(s, dir, shuffleSeed)
      .select(col("feature"), round(col("weight"), 6).as("weight"))

  def applyQuery(s: SparkSession, dir: String): DataFrame =
    applyModel(featurize(s, dir), trainedModel(s, dir))
      .select(col("docid"), col("label"), round(col("score"), 6).as("score"),
        col("pred"))

  /** Ensemble over three disjoint doc_id % 3 training splits. */
  def ensembleQuery(s: SparkSession, dir: String, method: String): DataFrame = {
    val inst = featurize(s, dir)
    val models = (0 until 3).map(i =>
      trainSgd(s, inst.filter(pmod(col("docid"), lit(3)) === i)))
    val out = applyEnsemble(inst, models, method)
    if (method == "average")
      out.select(col("docid"), col("label"), round(col("score"), 6).as("score"),
        col("pred"))
    else out
  }

  /** Confusion matrix of the single-model classifier (reference M6's
    * external eval script, as an in-engine aggregate): one row per
    * (true label, predicted label) with its count — precision/recall/
    * F1 all derive from these four numbers downstream. The scored
    * frame reduces to O(labels²) rows in one partial-agg shuffle.
    */
  def confusionQuery(s: SparkSession, dir: String): DataFrame =
    applyQuery(s, dir)
      .groupBy(col("label"), col("pred"))
      .agg(count(lit(1)).as("cnt"))

  /** Precision/recall/F1/accuracy of the single-model classifier
    * (positive class = spam ≡ label 1.0), derived from the same four
    * confusion cells `confusionQuery` emits — one conditional-count
    * aggregate to a single row, every ratio rounded at 6 dp. The
    * scored frame collapses to four longs in one partial-agg shuffle,
    * so this costs the same as `confusionQuery` at any scale.
    */
  def prfMetrics(s: SparkSession, dir: String): DataFrame = {
    val tp = sum(when(col("label") === 1.0 && col("pred") === "spam", 1L)
      .otherwise(0L))
    val fp = sum(when(col("label") === 0.0 && col("pred") === "spam", 1L)
      .otherwise(0L))
    val fn = sum(when(col("label") === 1.0 && col("pred") === "ham", 1L)
      .otherwise(0L))
    val tn = sum(when(col("label") === 0.0 && col("pred") === "ham", 1L)
      .otherwise(0L))
    applyQuery(s, dir)
      .agg(tp.as("tp"), fp.as("fp"), fn.as("fn"), tn.as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        round(col("tp") / (col("tp") + col("fp")), 6).as("prec"),
        round(col("tp") / (col("tp") + col("fn")), 6).as("rec"),
        round((col("tp") + col("tp")) /
          (col("tp") + col("tp") + col("fp") + col("fn")), 6).as("f1"),
        round((col("tp") + col("tn")) /
          (col("tp") + col("fp") + col("fn") + col("tn")), 6)
          .as("accuracy"))
  }

  /** Multinomial Naive Bayes language classifier trained and applied
    * in one pipeline: per-token class counts with add-one smoothing
    * over a global vocabulary, per-document log-likelihood ratio
    * (token term + class-prior term), predict on the ROUNDED llr's
    * sign so a last-ulp `ln` divergence between engines can't flip a
    * label. All model statistics are exact integer counts (one
    * token-key shuffle); scoring is one join of the token stream
    * against the (vocabulary-sized) count table plus a per-doc sum —
    * the same two-shuffle shape as `Index.termDf` + `score`, nothing
    * driver-side. Token-less documents keep their row via the left
    * join and score on the prior alone.
    */
  def naiveBayes(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), tokenize(col("text")).as("ts"),
        (col("lang") === "en").cast("int").as("y"))
      .persist()
    CacheScope.register(docs) // eager: priors + tokens + output keys
    val tok = docs.select(col("doc_id"), col("y"), explode(col("ts")).as("t"))
    val tc = tok.groupBy("t").agg(
      sum(col("y")).as("c1"), sum(lit(1) - col("y")).as("c0"))
    val totals = tc.agg(sum(col("c1")).as("n1"), sum(col("c0")).as("n0"),
      count(lit(1)).as("v"))
    val nd = docs.agg(sum(col("y")).as("d1"), count(lit(1)).as("d"))
    val scored = tok.join(tc, "t").crossJoin(broadcast(totals))
      .select(col("doc_id"),
        (log((col("c1") + lit(1.0)) / (col("n1") + col("v"))) -
          log((col("c0") + lit(1.0)) / (col("n0") + col("v")))).as("llr_t"))
      .groupBy("doc_id").agg(sum(col("llr_t")).as("llr_tok"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .crossJoin(broadcast(nd))
      .select(col("doc_id"),
        round(coalesce(col("llr_tok"), lit(0.0)) +
          log(col("d1") / (col("d") - col("d1"))), 6).as("llr"))
      .withColumn("pred", when(col("llr") > 0, "en").otherwise("other"))
  }

  /** Calibration table (reliability-diagram bins) of the single-model
    * classifier: sigmoid the margin into p∈(0,1), decile-bin, and per
    * bin report count, mean predicted probability, and the empirical
    * positive rate — the curve that says whether scores are usable as
    * probabilities. Binning cuts on `floor(round(p·10, 5))` — rounded
    * BEFORE the floor so a last-ulp `exp` difference between engines
    * can't flip a bin — clamped so p=1 lands in the top bin. One
    * partial-agg shuffle over ≤10 keys on top of the scored frame.
    */
  def calibrationBins(s: SparkSession, dir: String): DataFrame = {
    val p = lit(1.0) / (lit(1.0) + exp(-col("score")))
    applyQuery(s, dir)
      .select(col("label"), p.as("p"))
      .withColumn("bin",
        least(floor(round(col("p") * 10, 5)).cast("int"), lit(9)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        round(avg(col("p")), 6).as("mean_p"),
        round(avg(col("label")), 6).as("frac_pos"))
  }

  /** Decision stump on one numeric feature: the single threshold
    * `t` over `l_quantity` that best classifies "was returned"
    * (l_returnflag = 'R'), scored by training accuracy of the rule
    * `pred = (qty <= t)` with the polarity chosen per threshold. The
    * classic 1-D weak learner (the unit AdaBoost stacks), and a
    * window-function showcase: one sort-free aggregation to per-value
    * counts, one cumulative window over the (tiny) distinct-value
    * table, accuracy from EXACT integer counts. The full table never
    * sorts — only the ≤50-row distinct-quantity spine does. Ties on
    * accuracy break to the smaller threshold (deterministic).
    */
  def decisionStump(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = Tables.lineitem(s, dir)
      .select(col("l_quantity").cast("long").as("qty"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
    val byVal = rows.groupBy("qty")
      .agg(count(lit(1)).as("n"), sum("y").as("pos"))
      .persist()
    CacheScope.register(byVal) // eager: totals + cumulative pass read it
    val tot = byVal.agg(sum("n").as("tn"), sum("pos").as("tp"))
    val w = Window.orderBy("qty").rowsBetween(Window.unboundedPreceding, 0)
    byVal
      .withColumn("cn", sum("n").over(w))
      .withColumn("cp", sum("pos").over(w))
      .crossJoin(broadcast(tot))
      // rule A: predict 1 iff qty <= t → correct = cp + (tneg - cneg)
      // rule B: the complement; accuracy = max of the two polarities
      .select(col("qty").as("threshold"),
        greatest(
          col("cp") + (col("tn") - col("tp")) - (col("cn") - col("cp")),
          (col("tp") - col("cp")) + (col("cn") - col("cp")))
          .as("n_correct"),
        col("tn"))
      .select(col("threshold"), col("n_correct"),
        Events.q(col("n_correct").cast("double") / col("tn"), 6)
          .as("accuracy"))
      .orderBy(col("n_correct").desc, col("threshold"))
      .limit(1)
  }

  /** k-fold cross-validation of the sequential SGD classifier (W239):
    * for each hash fold f, train on `docid % folds ≠ f` and report the
    * held-out AUC on `docid % folds = f` — the variance-aware metric
    * the single-split `sgd_auc` (train = test there, by the
    * reference's own design) cannot give: a fold-to-fold AUC spread
    * wider than the mean's distance to 0.5 means the model is noise.
    * Each fold's trainer is the same sequential contract as
    * `sgd_train` (docid order within the fold's slice), so the DuckDB
    * oracle replays all `folds` trainings as recursive-CTE folds.
    * Featurization runs ONCE (cached); only the ≤10007-row models and
    * per-fold score tables multiply.
    */
  def cvMetrics(s: SparkSession, dir: String, folds: Int = 3): DataFrame = {
    val inst = featurize(s, dir).persist()
    CacheScope.register(inst) // eager: every fold's train+test read it
    (0 until folds).map { f =>
      val train = inst.filter(pmod(col("docid"), lit(folds.toLong)) =!= f)
      val test = inst.filter(pmod(col("docid"), lit(folds.toLong)) === f)
      val scored = score(test, trainSgd(s, train))
        .select(round(col("score"), 6).as("s"),
          when(col("label") === 1.0, 1).otherwise(0).as("y"))
        .persist()
      CacheScope.register(scored) // counts + the AUC rank-sum read it
      scored.agg(count(lit(1)).as("n_test"),
          sum(col("y")).cast("long").as("n_pos"))
        .crossJoin(auc(scored, "s", "y"))
        .select(lit(f).as("fold"), col("n_test"), col("n_pos"), col("auc"))
    }.reduce(_ unionAll _).orderBy("fold")
  }

  /** Isotonic (PAV) calibration of the classifier margin, at score-bin
    * granularity: the closed form iso(i) = max_{j≤i} min_{k≥i}
    * mean(y[j..k]) replaces the sequential pool-adjacent-violators
    * loop with two window passes over the O(bins²) interval-mean
    * table — a monotone fit with NO driver-side recursion. The scored
    * frame reduces to `bins` exact-integer rows in one partial-agg
    * shuffle (corpus-bound stage); everything after is bins²
    * arithmetic. Interval means land on the 1e-12 LONG grid before the
    * min/max lattice, so the fit is order-free and engine-exact; the
    * monotonicity of the output is asserted by spec, and
    * `calibration_bins`' raw (possibly non-monotone) positive rates
    * are the natural input comparison.
    */
  def isotonicCalibration(s: SparkSession, dir: String,
                          bins: Int = 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sc = applyQuery(s, dir).select(col("score").as("s"),
      when(col("label") === 1.0, 1L).otherwise(0L).as("y"))
    val bnd = sc.agg(min("s").as("smin"), max("s").as("smax"))
    val binned = sc.crossJoin(broadcast(bnd))
      .select(when(col("smax") === col("smin"), 0)
        .otherwise(least(floor((col("s") - col("smin")) /
          (col("smax") - col("smin")) * lit(bins)), lit(bins - 1)))
        .cast("int").as("bin"), col("y"))
    val bs = binned.groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("y").as("sy"))
    val wcum = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cums = bs.select(col("bin"), col("n"), col("sy"),
      sum("n").over(wcum).as("cn"), sum("sy").over(wcum).as("cy"))
    val j = cums.select(col("bin").as("j"), col("n").as("nj"),
      col("sy").as("syj"), col("cn").as("cnj"), col("cy").as("cyj"))
    val k = cums.select(col("bin").as("k"), col("cn").as("cnk"),
      col("cy").as("cyk"))
    // interval mean of y over bins j..k, exact ints → 1e-12 LONG grid
    val pr = j.join(k, col("j") <= col("k"))
      .select(col("j"), col("k"),
        floor((col("cyk") - col("cyj") + col("syj")).cast("double") /
          (col("cnk") - col("cnj") + col("nj")).cast("double") *
          lit(1e12) + lit(0.5)).cast("long").as("aq"))
    val wmin = Window.partitionBy("j").orderBy(col("k").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val mn = pr.select(col("j"), col("k"), min("aq").over(wmin).as("m"))
    val iso = mn.groupBy(col("k").as("bin")).agg(max("m").as("isoq"))
    bs.join(iso, "bin")
      .select(col("bin").cast("long").as("bin"), col("n"),
        graft.operators.Events.q(
          col("sy").cast("double") / col("n"), 6).as("pos_rate"),
        graft.operators.Events.q(
          col("isoq").cast("double") / lit(1e12), 6).as("iso_p"))
      .orderBy("bin")
  }

  /** Kolmogorov–Smirnov separation of the classifier's score
    * distributions: KS = max_s |F_pos(s) − F_neg(s)|, the
    * scale-free separability number credit models report next to AUC,
    * plus the score at which it's attained (the natural operating
    * threshold). Everything before the surfaced ratio is EXACT: the
    * scored frame reduces to per-distinct-score (pos, neg) counts, the
    * CDF gap cross-multiplies to |cp·NN − cn·NP| (LONG), and the
    * argmax tie-breaks to the smallest score by LONG/6-dp-grid
    * comparisons. One partial-agg shuffle over distinct scores — the
    * same shape as [[auc]].
    */
  def ksStatistic(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = applyQuery(s, dir).groupBy(col("score").as("s"))
      .agg(sum(when(col("label") === 1.0, 1L).otherwise(0L)).as("p"),
        sum(when(col("label") === 1.0, 0L).otherwise(1L)).as("n"))
    val w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
    val tot = g.agg(sum("p").as("np"), sum("n").as("nn"))
    val c = g.crossJoin(broadcast(tot))
      .select(col("s"), col("np"), col("nn"),
        abs(sum(col("p")).over(w) * col("nn") -
          sum(col("n")).over(w) * col("np")).as("gap"))
    val mx = c.agg(max("gap").as("mx"))
    val at = c.crossJoin(broadcast(mx))
      .filter(col("gap") === col("mx"))
      .agg(min("s").as("threshold"))
    tot.crossJoin(broadcast(mx)).crossJoin(broadcast(at))
      .select(
        graft.operators.Events.q(col("mx").cast("double") /
          (col("np").cast("double") * col("nn")), 6).as("ks"),
        col("threshold"), col("np").as("n_pos"), col("nn").as("n_neg"))
  }

  /** Cumulative gains / lift table of the classifier: rank every doc
    * by score, cut into `deciles` equal ntiles (full (score, docid)
    * tiebreak so the cut is engine-identical), and per decile report
    * the positive count, the cumulative capture rate (share of ALL
    * positives caught so far — the "top 20% of scores finds X% of
    * spam" number) and the lift over the base rate. Everything after
    * the ntile cut is exact-integer counts; the two surfaced ratios
    * divide exact longs once. The (score desc, docid) rank is computed
    * scale-safe (round-8, [[Ranks.ranked]] on the negated score):
    * range buckets + a bucket-PARTITIONED window, no single-partition
    * sort; [[Ranks.ntileFromRank]] restates NTILE from the rank and the
    * decile cumulatives ride a ≤deciles² broadcast self-join instead of
    * a spine window — zero unpartitioned WindowExec in the plan
    * (asserted, with NTILE parity, in Round8OpsSpec).
    */
  def gainsTable(s: SparkSession, dir: String,
                 deciles: Int = 10): DataFrame = {
    val sc = applyQuery(s, dir).select(col("docid"), col("score"),
      when(col("label") === 1.0, 1L).otherwise(0L).as("y"))
      .withColumn("__g_ns", -col("score")) // asc(−score) ≡ desc(score)
    val cnt = sc.agg(count(lit(1)).as("__g_cnt")) // reads Ranks' cache
    val g = Ranks.ranked(sc, "__g_ns", "docid", "__g_r")
      .crossJoin(broadcast(cnt))
      .withColumn("dec",
        Ranks.ntileFromRank(col("__g_r"), col("__g_cnt"), deciles))
      .groupBy("dec").agg(count(lit(1)).as("n"), sum("y").as("pos"))
      .persist()
    CacheScope.register(g) // eager: totals + the cumulative join read it
    val tot = g.agg(sum("pos").as("tp"), sum("n").as("tn"))
    val cum = g.select(col("dec").as("__g_d2"), col("pos").as("__g_p2"),
      col("n").as("__g_n2"))
    g.crossJoin(broadcast(tot))
      .join(broadcast(cum), col("__g_d2") <= col("dec"))
      .groupBy("dec", "n", "pos", "tp", "tn")
      .agg(sum("__g_p2").as("cpos"), sum("__g_n2").as("cn"))
      .select(col("dec").as("decile"), col("n"), col("pos"),
        graft.operators.Events.q(
          col("cpos").cast("double") / col("tp"), 6).as("capture"),
        graft.operators.Events.q(
          (col("cpos").cast("double") / col("cn")) /
            (col("tp").cast("double") / col("tn")), 6).as("lift"))
      .orderBy("decile")
  }

  /** Feature-hashing collision audit of [[featurize]]'s 10007-bucket
    * hash trick: the bucket-load histogram (including empty buckets)
    * plus the share of distinct tokens sitting at each load — the
    * table that says how much signal the hashing trick is smearing.
    * One distinct-token shuffle then a vocabulary-bounded count; the
    * corpus never moves twice. The base-31 poly hash is the
    * oracle-replicable one the whole SGD tier uses.
    */
  def hashingCollisions(s: SparkSession, dir: String,
                        buckets: Int = DefaultBuckets): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(explode(tokenize(col("text"))).as("tok"))
      .distinct()
      .persist()
    CacheScope.register(toks) // eager: load histogram + total both scan
    val loads = toks
      .select(pmod(element_at(polyHashArray(array(col("tok"))), 1),
        lit(buckets.toLong)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("load"))
      .groupBy("load").agg(count(lit(1)).as("n_buckets"))
    val tot = toks.agg(count(lit(1)).as("n_toks"))
    val zero = loads.agg(sum("n_buckets").as("occ"))
      .select(lit(0L).as("load"),
        (lit(buckets.toLong) - col("occ")).as("n_buckets"))
    loads.unionAll(zero).crossJoin(broadcast(tot))
      .select(col("load"), col("n_buckets"),
        graft.operators.Events.q(col("load") * col("n_buckets") /
          col("n_toks").cast("double"), 6).as("tok_share"))
      .orderBy("load")
  }

  /** Group-fairness audit of the single-model classifier across the
    * documents' SOURCE attribute — the governance gate a training-data
    * pipeline runs before shipping a filter model: per source the
    * selection rate (share predicted spam, the demographic-parity
    * quantity), TPR and FPR (the equalized-odds pair), all from exact
    * integer confusion counts; plus the board-level gaps repeated on
    * every row — parity_gap = max−min selection rate, eo_gap = the
    * larger of the TPR and FPR ranges (Hardt et al. 2016's condition
    * collapsed to its worst-group margin).
    *
    * Cost: the scored frame (process-memo model, one broadcast-join
    * apply pass) joins `documents` on the doc key and collapses to
    * O(sources) rows in one partial-agg shuffle; the gap summary is a
    * second aggregate over that tiny table crossJoined back
    * (broadcast) — nothing driver-side, nothing quadratic. Gaps are
    * differences of the same 6-dp-rounded doubles both engines
    * computed from identical integer ratios, so they agree bit-exact
    * without further quantization.
    */
  def fairnessAudit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id").as("docid"), col("source"))
    val rates = applyQuery(s, dir).join(docs, "docid")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("pred") === "spam", 1L).otherwise(0L)).as("n_sel"),
        sum(when(col("label") === 1.0, 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("label") === 1.0 && col("pred") === "spam", 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("label") === 0.0 && col("pred") === "spam", 1L)
          .otherwise(0L)).as("fp"))
      .select(col("source"), col("n"), col("n_sel"), col("n_pos"),
        round(col("n_sel").cast("double") / col("n"), 6).as("sel_rate"),
        when(col("n_pos") > 0,
          round(col("tp").cast("double") / col("n_pos"), 6)).as("tpr"),
        when(col("n") - col("n_pos") > 0,
          round(col("fp").cast("double") / (col("n") - col("n_pos")), 6))
          .as("fpr"))
    val gaps = rates.agg(
      (max(col("sel_rate")) - min(col("sel_rate"))).as("parity_gap"),
      greatest(max(col("tpr")) - min(col("tpr")),
        max(col("fpr")) - min(col("fpr"))).as("eo_gap"))
    rates.crossJoin(broadcast(gaps))
  }

  /** Closed-form multi-feature ridge regression (W302):
    * β = (XᵀX + λI)⁻¹Xᵀy for l_extendedprice ~ quantity + discount +
    * intercept — the multivariate step past [[Relational]]'s
    * single-regressor `ols_trend`/`regression_agg`, and the shape
    * every "fit a small linear probe over 100 TB" job takes: ONE scan
    * accumulates the d² Gram sufficient statistics (d=3 here) as
    * exact DECIMAL(38) sums over 1e6-grid LONG features, then the
    * d×d solve is constant-size arithmetic — here unrolled as Cramer's
    * rule in ONE fixed double expression tree (identical literal form
    * in the DuckDB oracle, so no quantized intermediates are needed
    * before the final 1e-6 output grid). λ rides the same natural
    * units as the Gram entries (documented: the intercept row is
    * regularized too, keeping the matrix a pure +λI shift). At scale
    * nothing changes: the scan is map-side partial-agg'd to 9 numbers.
    */
  def ridgeRegression(s: SparkSession, dir: String,
                      lambda: Double = 0.1): DataFrame = {
    val dec = "decimal(38,0)"
    val li = Tables.lineitem(s, dir).select(
      floor(col("l_quantity") * lit(1e6) + lit(0.5)).cast("long")
        .as("x1"),
      floor(col("l_discount") * lit(1e6) + lit(0.5)).cast("long")
        .as("x2"),
      floor(col("l_extendedprice") * lit(1e6) + lit(0.5)).cast("long")
        .as("y"))
    val stats = li.agg(
      count(lit(1)).as("n"),
      sum(col("x1").cast(dec)).as("s1"),
      sum(col("x2").cast(dec)).as("s2"),
      sum(col("y").cast(dec)).as("sy"),
      // products ride DECIMAL(38) BEFORE the multiply: x·y on the 1e6
      // grid brushes the LONG ceiling (5e7·1e11 ≈ 5e18), and DuckDB
      // errors on BIGINT overflow rather than wrapping
      sum(col("x1").cast(dec) * col("x1").cast(dec)).as("s11"),
      sum(col("x1").cast(dec) * col("x2").cast(dec)).as("s12"),
      sum(col("x2").cast(dec) * col("x2").cast(dec)).as("s22"),
      sum(col("x1").cast(dec) * col("y").cast(dec)).as("s1y"),
      sum(col("x2").cast(dec) * col("y").cast(dec)).as("s2y"))
    // natural-unit Gram entries (grid factors divide out) + λ shift
    def d(c: String, scale: Double) = col(c).cast("double") / lit(scale)
    val a11 = d("s11", 1e12) + lit(lambda)
    val a12 = d("s12", 1e12)
    val a13 = d("s1", 1e6)
    val a22 = d("s22", 1e12) + lit(lambda)
    val a23 = d("s2", 1e6)
    val a33 = col("n").cast("double") + lit(lambda)
    val b1 = d("s1y", 1e12)
    val b2 = d("s2y", 1e12)
    val b3 = d("sy", 1e6)
    // Cramer 3×3, expansion along the first row — the oracle restates
    // this exact operation order
    def det3(m11: org.apache.spark.sql.Column, m12: org.apache.spark.sql.Column,
             m13: org.apache.spark.sql.Column, m21: org.apache.spark.sql.Column,
             m22: org.apache.spark.sql.Column, m23: org.apache.spark.sql.Column,
             m31: org.apache.spark.sql.Column, m32: org.apache.spark.sql.Column,
             m33: org.apache.spark.sql.Column) =
      m11 * (m22 * m33 - m23 * m32) -
        m12 * (m21 * m33 - m23 * m31) +
        m13 * (m21 * m32 - m22 * m31)
    val dA = det3(a11, a12, a13, a12, a22, a23, a13, a23, a33)
    val d1 = det3(b1, a12, a13, b2, a22, a23, b3, a23, a33)
    val d2 = det3(a11, b1, a13, a12, b2, a23, a13, b3, a33)
    val d3 = det3(a11, a12, b1, a12, a22, b2, a13, a23, b3)
    stats.select(col("n"),
      Events.q(d1 / dA, 6).as("beta_quantity"),
      Events.q(d2 / dA, 6).as("beta_discount"),
      Events.q(d3 / dA, 6).as("intercept"))
  }

  /** Murphy decomposition of the Brier score (W310): reliability −
    * resolution + uncertainty over the [[calibrationBins]] binning of
    * the SGD classifier's probabilities — the readout that says
    * WHETHER a bad Brier score comes from miscalibration (REL: bin
    * confidence far from bin hit rate) or from the model simply not
    * separating (RES: bin hit rates all equal the base rate).
    * Numerics: the raw Brier term (p−y)² and each bin's Σp are
    * floor-quantized to 1e-9 LONG grids PER ROW and summed order-free
    * (10-bin double sums would be merge-order-dependent); REL/RES
    * quantize each bin's n_k·(gap)² term onto the same grid before
    * the final 10-row sum. ō and n ride exact counts. One scored
    * scan, O(bins) rows after.
    */
  def brierDecomp(s: SparkSession, dir: String): DataFrame = {
    val p = lit(1.0) / (lit(1.0) + exp(-col("score")))
    val rows = applyQuery(s, dir)
      .select(col("label").cast("long").as("yv"), p.as("p"))
      .select(col("yv"),
        least(floor(round(col("p") * 10, 5)).cast("int"), lit(9))
          .as("bin"),
        floor(col("p") * lit(1e9) + lit(0.5)).cast("long").as("pq"),
        floor((col("p") - col("yv")) * (col("p") - col("yv"))
          * lit(1e9) + lit(0.5)).cast("long").as("bq"))
    val byBin = rows.groupBy("bin")
      .agg(count(lit(1)).as("nk"), sum(col("yv")).as("posk"),
        sum(col("pq")).as("spk"), sum(col("bq")).as("sbq"))
      .localCheckpoint() // ≤10 rows; totals + decomposition read it
    val tot = byBin.agg(sum(col("nk")).as("n"),
      sum(col("posk")).as("pos"), sum(col("sbq")).as("sbq_tot"))
    val obar = col("pos").cast("double") / col("n")
    val obark = col("posk").cast("double") / col("nk")
    val pbark = col("spk").cast("double") / col("nk") / lit(1e9)
    val relk = floor(col("nk") * (obark - pbark) * (obark - pbark)
      * lit(1e9) + lit(0.5)).cast("long")
    val resk = floor(col("nk") * (obark - obar) * (obark - obar)
      * lit(1e9) + lit(0.5)).cast("long")
    byBin.crossJoin(broadcast(tot))
      .agg(max(col("n")).as("n_rows"),
        max(Events.q(col("sbq_tot").cast("double") / lit(1e9) /
          col("n"), 6)).as("brier"),
        Events.q(sum(relk).cast("double") / lit(1e9) /
          max(col("n")), 6).as("reliability"),
        Events.q(sum(resk).cast("double") / lit(1e9) /
          max(col("n")), 6).as("resolution"),
        max(Events.q(obar * (lit(1.0) - obar), 6)).as("uncertainty"))
  }

  /** Bradley–Terry strengths from pairwise preferences (W327) — the
    * ranking-from-comparisons fit behind every preference-data
    * pipeline (RLHF reward data, match outcomes, A/B taste tests):
    * each user "prefers" event type i over j when their per-user mean
    * value for i exceeds that for j (decided EXACTLY by
    * cross-multiplied integer sums — no per-user division), wins
    * aggregate to the |types|² comparison matrix, and two unrolled
    * MM iterations (Hunter 2004: p_i ← W_i / Σ_j n_ij/(p_i+p_j),
    * renormalized to Σp = 1) fit the strengths. Corpus-bound work is
    * ONE (user, type) aggregation; the MM runs on a ≤25-row matrix.
    * Each iteration's p quantizes to the 1e-9 grid, so every
    * cross-engine double derives from identical exact integers.
    */
  def bradleyTerry(s: SparkSession, dir: String): DataFrame = {
    val perUT = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("user_id"), col("event_type").as("ty"),
        floor(col("value") * lit(1e6) + lit(0.5)).cast("long").as("vi"))
      .groupBy("user_id", "ty")
      .agg(count(lit(1)).as("n"), sum(col("vi")).as("sv"))
    val wins = perUT.select(col("user_id"), col("ty").as("i"),
        col("n").as("ni"), col("sv").as("si"))
      .join(perUT.select(col("user_id"), col("ty").as("j"),
        col("n").as("nj"), col("sv").as("sj")), "user_id")
      .filter(col("i") =!= col("j"))
      // i beats j ⟺ mean_i > mean_j ⟺ si·nj > sj·ni (exact)
      .filter(col("si").cast("decimal(38,0)") * col("nj") >
        col("sj").cast("decimal(38,0)") * col("ni"))
      .groupBy("i", "j").agg(count(lit(1)).as("w"))
    // ONE checkpoint, single-partition: everything downstream is a
    // ≤|types|²-row matrix — 32-partition micro-shuffles would pay
    // more scheduling than compute (measured: 8.1s → see bench note)
    val pairs = wins.select(col("i"), col("j"), col("w"))
      .unionAll(wins.select(col("j").as("i"), col("i").as("j"),
        lit(0L).as("w")))
      .groupBy("i", "j").agg(sum(col("w")).as("w"))
      .coalesce(1)
      .localCheckpoint() // dense in both orientations
    val nij = pairs.select(col("i"), col("j"), col("w"))
      .join(pairs.select(col("j").as("i"), col("i").as("j"),
        col("w").as("wj")), Seq("i", "j"))
      .select(col("i"), col("j"), col("w"), (col("w") + col("wj"))
        .as("nij"))
    val types = pairs.select(col("i")).distinct()
    val k = types.count()
    // one MM round: strengths p(i) (1e-9-grid longs) → next strengths
    def mmRound(p: DataFrame): DataFrame = {
      val joined = nij
        .join(p.select(col("i"), col("p9").as("pi")), "i")
        .join(p.select(col("i").as("j"), col("p9").as("pj")), "j")
      // per-pair denominator term n_ij/(p_i+p_j), quantized to 1e-9
      val term = floor(col("nij").cast("double") /
        ((col("pi") + col("pj")).cast("double") / lit(1e9)) * lit(1e9)
        + lit(0.5)).cast("long")
      val upd = joined.groupBy("i")
        .agg(sum(col("w")).as("wi"), sum(term).as("den9"))
        .select(col("i"),
          when(col("den9") > 0,
            floor(col("wi").cast("double") /
              (col("den9").cast("double") / lit(1e9)) * lit(1e9)
              + lit(0.5)).cast("long"))
            .otherwise(lit(0L)).as("raw9"))
      val tot = upd.agg(sum(col("raw9")).as("t9"))
      // the NEXT round references this 3× (pi, pj, normalizer) and
      // re-executes the subtree per reference — deliberately left
      // uncut: everything above the `pairs` checkpoint is
      // |types|²-sized (corpus-independent), and measured at
      // sf0.1/local[32] the recompute (4.8s) beats per-round
      // localCheckpoints (6.0–6.3s, two extra materialization jobs)
      upd.crossJoin(broadcast(tot))
        .select(col("i"),
          when(col("t9") > 0,
            floor(col("raw9").cast("double") / col("t9") * lit(1e9)
              + lit(0.5)).cast("long"))
            .otherwise(lit(0L)).as("p9"))
    }
    val p0 = types.select(col("i"),
      floor(lit(1e9) / lit(k.toDouble) + lit(0.5)).cast("long").as("p9"))
    val p2 = mmRound(mmRound(p0))
    val winTot = pairs.groupBy("i").agg(sum(col("w")).as("wins"))
    p2.join(winTot, "i")
      .select(col("i").as("event_type"), col("wins"),
        Events.q(col("p9").cast("double") / lit(1e9), 6).as("strength"))
      .orderBy("event_type")
  }

  /** Temperature scaling (W331) — the one-parameter post-hoc
    * calibration standard (Guo et al. 2017): sweep T over a fixed
    * grid, pick the T minimizing the classifier's NLL, and surface
    * the whole profile so the miscalibration direction is visible
    * (best T > 1 ⇒ overconfident — the usual diagnosis).
    * [[isotonicCalibration]] refits the whole curve; temperature
    * scaling preserves ranking exactly and needs one number.
    * Numerics: the per-row NLL term collapses to softplus(z/T) −
    * y·(z/T) (the overflow-free identity; softplus written as
    * max(a,0) + ln(1+e^{−|a|}), stable and restatable), quantized to
    * the 1e-9 LONG grid per row so the per-T sums are order-free,
    * and argmin compares exact integers (ties → smaller T). One
    * scored scan fanned ×|grid| by a broadcast literal spine.
    */
  def temperatureScaling(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = applyQuery(s, dir)
      .select(col("label").cast("long").as("y"), col("score").as("z"))
    val grid = (1 to 16).map(i => 0.25 * i).toDF("t")
    val a = col("z") / col("t")
    val softplus = greatest(a, lit(0.0)) +
      log(lit(1.0) + exp(-abs(a)))
    val term9 = floor((softplus - col("y") * a) * lit(1e9) + lit(0.5))
      .cast("long")
    val byT = scored.crossJoin(broadcast(grid))
      .select(col("t"), term9.as("term9"))
      .groupBy("t")
      .agg(count(lit(1)).as("n"), sum(col("term9")).as("nll9"))
    val best = byT.orderBy(col("nll9"), col("t")).limit(1)
      .select(col("t").as("bt"), col("nll9").as("bn"))
    byT.crossJoin(broadcast(best))
      .select(col("t"),
        Events.q(col("nll9").cast("double") / lit(1e9) / col("n"), 6)
          .as("nll"),
        (col("t") === col("bt")).cast("long").as("is_best"))
      .orderBy("t")
  }

  /** McNemar's paired test (W340): do two classifiers differ, judged
    * ONLY on the documents where they disagree? Accuracy deltas on a
    * shared test set are correlated — the unpaired [[aucEval]]-style
    * comparison over-states significance — so the right statistic is
    * χ² = (|b−c|−1)²/(b+c) over the discordant counts (b = only A
    * right, c = only B right), with the continuity correction.
    * Here A = the priority-vote stopword language identifier
    * ([[TextStats.langIdTokens]]'s rule), B = a one-feature baseline
    * (English-stopword share ≥ 1/8 of tokens), ground truth the
    * fixture's `lang` label restricted to 'en'-vs-rest.
    *
    * Both predictions are integer-exact boolean expressions inside one
    * projection over the tokenized corpus — a single scan + one global
    * aggregate (map-side combined); b, c, n are EXACT LONGs and the
    * χ² is the only double, floor-quantized at 1e-6.
    */
  def mcnemarTest(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), tokenize(col("text")).as("ts"))
    val scored = TextStats.langIdTokens(base.select(col("doc_id"), col("ts")))
      .join(base, "doc_id")
    val y = (col("lang") === "en").cast("int")
    val predA = (col("pred_lang") === "en").cast("int")
    val predB = ((col("cnt_en") * 8 >= size(col("ts"))) &&
      (col("cnt_en") > 0)).cast("int")
    val agg = scored.agg(count(lit(1)).as("n"),
      sum((predA === y).cast("long") * (predB === y).cast("long"))
        .as("both_right"),
      sum((predA === y).cast("long") * (predB =!= y).cast("long")).as("b"),
      sum((predA =!= y).cast("long") * (predB === y).cast("long")).as("c"))
    // Edwards correction, clamped at 0 so b = c gives χ² = 0 exactly
    val diff = greatest(abs(col("b") - col("c")) - lit(1), lit(0L))
    agg.select(col("n"), col("both_right"), col("b"), col("c"),
      when(col("b") + col("c") > 0,
        Events.q(diff.cast("double") * diff.cast("double") /
          (col("b") + col("c")).cast("double"), 6))
        .otherwise(lit(0.0)).as("chi2"))
  }

  /** AUC with a Hanley–McNeil confidence interval (W441): the
    * rank-sum AUC of [[auc]] recomputed in HALF-UNITS (num₂ =
    * Σ p·(2·cumn + n), an exact integer under ties) so
    * A = num₂/(2·n₊·n₋) is one division, then the classic
    * se² = (A(1−A) + (n₊−1)(Q₁−A²) + (n₋−1)(Q₂−A²)) / (n₊·n₋) with
    * Q₁ = A/(2−A), Q₂ = 2A²/(1+A) — the CI that turns a point AUC
    * into a deployment decision ("is 0.71 actually better than
    * 0.68?"). One fixed double expression per value from exact
    * integer sums. Scale: the [[auc]] cost class — one score-keyed
    * agg, a distinct-scores window.
    */
  def aucCi(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = applyQuery(s, dir).groupBy(col("score").as("s"))
      .agg(sum(when(col("label") === 1.0, 1L).otherwise(0L)).as("p"),
        sum(when(col("label") === 1.0, 0L).otherwise(1L)).as("n"))
    val w = Window.orderBy("s")
      .rowsBetween(Window.unboundedPreceding, -1)
    val m = g.withColumn("cumn", coalesce(sum(col("n")).over(w), lit(0L)))
      .agg(sum(col("p") * (lit(2L) * col("cumn") + col("n")))
        .as("num2"),
        sum(col("p")).as("np"), sum(col("n")).as("nn"))
    val npD = col("np").cast("double")
    val nnD = col("nn").cast("double")
    val a = col("num2").cast("double") / (lit(2.0) * npD * nnD)
    val q1 = a / (lit(2.0) - a)
    val q2 = lit(2.0) * a * a / (lit(1.0) + a)
    val se = sqrt(greatest(lit(0.0),
      (a * (lit(1.0) - a) + (npD - 1) * (q1 - a * a) +
        (nnD - 1) * (q2 - a * a)) / (npD * nnD)))
    val okC = col("np") > 0 && col("nn") > 0
    m.select(col("np").as("n_pos"), col("nn").as("n_neg"),
      when(okC, Events.q(a, 6)).otherwise(lit(0.0)).as("auc"),
      when(okC, Events.q(se, 6)).otherwise(lit(0.0)).as("se"),
      when(okC, Events.q(a - lit(1.959964) * se, 6)).otherwise(lit(0.0))
        .as("ci_lo"),
      when(okC, Events.q(a + lit(1.959964) * se, 6)).otherwise(lit(0.0))
        .as("ci_hi"))
  }

  /** Matthews correlation coefficient (W489) of the SGD classifier at
    * threshold 0 — the single-number confusion summary that stays
    * honest under class imbalance, where `prf_metrics`' accuracy and
    * F1 both flatter the majority class. The four cells are exact
    * integer counts; MCC = (TP·TN − FP·FN)/√((TP+FP)(TP+FN)(TN+FP)
    * (TN+FN)) is one pinned-order double chain over those LONGs (the
    * margin products may pass 2⁵³ — IEEE multiply is still
    * correctly-rounded identically on both engines, only the OP ORDER
    * matters). Degenerate margins (any factor 0) surface MCC = 0, the
    * standard convention.
    */
  def mccThreshold(s: SparkSession, dir: String): DataFrame = {
    val tp = sum(when(col("label") === 1.0 && col("pred") === "spam", 1L)
      .otherwise(0L))
    val fp = sum(when(col("label") === 0.0 && col("pred") === "spam", 1L)
      .otherwise(0L))
    val fn = sum(when(col("label") === 1.0 && col("pred") === "ham", 1L)
      .otherwise(0L))
    val tn = sum(when(col("label") === 0.0 && col("pred") === "ham", 1L)
      .otherwise(0L))
    val g = applyQuery(s, dir)
      .agg(tp.as("tp"), fp.as("fp"), fn.as("fn"), tn.as("tn"))
    val num = col("tp").cast("double") * col("tn").cast("double") -
      col("fp").cast("double") * col("fn").cast("double")
    val den = sqrt((col("tp") + col("fp")).cast("double") *
      (col("tp") + col("fn")).cast("double") *
      (col("tn") + col("fp")).cast("double") *
      (col("tn") + col("fn")).cast("double"))
    g.select(col("tp"), col("fp"), col("fn"), col("tn"),
      when(den > 0, Events.q(num / den, 6)).otherwise(lit(0.0))
        .as("mcc"))
  }
}
