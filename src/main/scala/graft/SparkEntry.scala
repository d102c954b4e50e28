package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, when}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is a fixed-parameter instantiation of a
  * parameterized operator in graft.operators.*; `oracleSql` holds the
  * equivalent DuckDB SQL over the same parquet tables (column names and
  * aliases must match the Spark result exactly — the driver sorts columns
  * by name and hash-compares values).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q6MultiAgg(spark, "/root/testdata/sf0.001", "1996")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_filter_count" -> ((s, d) => Relational.q1FilterCount(s, d, "1996-03")),
    // second date-prefix arity (year-only), so the oracle guards the
    // P5 component semantics end-to-end, not just via RelationalSpec
    "q1_filter_count_year" -> ((s, d) => Relational.q1FilterCount(s, d, "1996")),
    "q1_filter_count_day" -> ((s, d) => Relational.q1FilterCount(s, d, "1996-03-15")),
    "q2_join_topk" -> ((s, d) => Relational.q2JoinTopk(s, d, "1996-03", 20)),
    "q3_broadcast_join" -> ((s, d) => Relational.q3BroadcastJoin(s, d, "1996-03", 20)),
    "q4_nation_agg" -> ((s, d) => Relational.q4NationAgg(s, d, "1996-03")),
    "q5_monthly" -> ((s, d) => Relational.q5Monthly(s, d, Seq("NATION_3", "NATION_24"))),
    "q6_multi_agg" -> ((s, d) => Relational.q6MultiAgg(s, d, "1996")),
    "q7_top_revenue" -> ((s, d) => Relational.q7TopRevenue(s, d, "1998-06-01", 10)),
    "word_count" -> ((s, d) => Cooccur.wordCount(s, d)),
    "prefix_count" -> ((s, d) => Cooccur.prefixCount(s, d)),
    "bigram_rel_freq" -> ((s, d) => Cooccur.bigramRelFreq(s, d)),
    "pmi_pairs" -> ((s, d) => Cooccur.pmiPairs(s, d)),
    "textrank_keywords" -> ((s, d) => Cooccur.textrank(s, d)),
    "inverted_index" -> ((s, d) => Index.postings(s, d)),
    "term_df" -> ((s, d) => Index.termDf(s, d)),
    "postings_lists" -> ((s, d) => Index.postingsListsSerialized(s, d)),
    "bool_and" -> ((s, d) => Index.booleanQuery(s, d, "hash join AND")),
    "bool_postfix_fetch" ->
      ((s, d) => Index.booleanQueryFetch(s, d, "hash join AND scan OR")),
    // personalized PageRank over the customer⇄supplier graph; iterative +
    // oracled by an unrolled-iteration SQL (see pprOracleSql) + GraphSpec.
    "ppr_top10" -> ((s, d) => Graph.pprTopK(s, d, Seq(1L, 2L), 8, 10)),
    // component sizes of the customer⇄supplier graph; recursive-CTE
    // closure oracle + union-find oracle in GraphSpec
    "graph_components" -> ((s, d) =>
      Graph.csComponents(s, d)
        .groupBy(col("comp")).agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("size"))),
    "percentiles" -> ((s, d) => Relational.pricePercentiles(s, d)),
    // SGD tier: order-dependent sequential fold, replayed by the oracle
    // as a recursive CTE over poly-hash features (see sgdTrainOracle);
    // the shuffled trainer's seeded permutation is arithmetic, so even
    // it replays. Exact-semantics oracle also lives in MlSpec.
    "sgd_train" -> ((s, d) => Ml.trainQuery(s, d)),
    "sgd_train_shuffled" -> ((s, d) => Ml.trainQuery(s, d, Some(42L))),
    "sgd_apply" -> ((s, d) => Ml.applyQuery(s, d)),
    "sgd_ensemble_avg" -> ((s, d) => Ml.ensembleQuery(s, d, "average")),
    "sgd_ensemble_vote" -> ((s, d) => Ml.ensembleQuery(s, d, "vote")),
    // ---- LLM-data-pipeline extras ----
    "dedup_exact" -> ((s, d) => Dedup.exact(s, d)),
    "dedup_jaccard" -> ((s, d) => Dedup.jaccardPairs(s, d, 0.8)),
    "dedup_minhash" -> ((s, d) => Dedup.minhashPairs(s, d, 0.8)),
    "dedup_simhash" -> ((s, d) => Dedup.simhashPairs(s, d, 3)),
    "knn_brute" -> ((s, d) => Similarity.bruteForceTopK(s, d, 10, 5)),
    "knn_ivf" -> ((s, d) => Similarity.ivfTopK(s, d, 10, 5)),
    "ann_recall" -> ((s, d) => Similarity.annRecall(s, d)),
    "kmeans_ff_init" -> ((s, d) => Similarity.farthestFirstInit(s, d)),
    "chunk_plan" -> ((s, d) => Curation.chunkPlan(s, d)),
    "tokenizer_fertility" -> ((s, d) => TextStats.tokenizerFertility(s, d)),
    "padding_waste" -> ((s, d) => Curation.paddingWaste(s, d)),
    "epoch_plan" -> ((s, d) => Curation.epochPlan(s, d)),
    "filter_funnel" -> ((s, d) => Curation.filterFunnel(s, d)),
    "minhash_est_error" -> ((s, d) => Dedup.minhashEstError(s, d)),
    "dedup_savings" -> ((s, d) => Dedup.dedupSavings(s, d)),
    "term_burstiness" -> ((s, d) => TextStats.termBurstiness(s, d)),
    "ngram_diversity" -> ((s, d) => TextStats.ngramDiversity(s, d)),
    "eval_alloc" -> ((s, d) => Curation.evalAlloc(s, d)),
    "ivf_balance" -> ((s, d) => Similarity.ivfBalance(s, d)),
    "dedup_bias" -> ((s, d) => Dedup.dedupBias(s, d)),
    "rank_agreement" -> ((s, d) => Index.rankAgreement(s, d)),
    "markov_attribution" -> ((s, d) => Events.markovAttribution(s, d)),
    "stl_decompose" -> ((s, d) => Events.stlDecompose(s, d)),
    "int8_recall" -> ((s, d) => Similarity.int8Recall(s, d)),
    "cv_metrics" -> ((s, d) => Ml.cvMetrics(s, d)),
    "isotonic_calibration" -> ((s, d) => Ml.isotonicCalibration(s, d)),
    "hashing_collisions" -> ((s, d) => Ml.hashingCollisions(s, d)),
    "ks_statistic" -> ((s, d) => Ml.ksStatistic(s, d)),
    "theil_sen" -> ((s, d) => Events.theilSen(s, d)),
    "gains_table" -> ((s, d) => Ml.gainsTable(s, d)),
    "forecast_backtest" -> ((s, d) => Events.forecastBacktest(s, d)),
    "welch_ttest" -> ((s, d) => Events.welchTtest(s, d)),
    "betweenness_sample" -> ((s, d) => Graph.betweennessSample(s, d)),
    "modularity" -> ((s, d) => Graph.modularity(s, d)),
    "l_diversity" -> ((s, d) => Events.lDiversity(s, d)),
    "kaplan_meier" -> ((s, d) => Events.kaplanMeier(s, d)),
    "holt_forecast" -> ((s, d) => Events.holtForecast(s, d)),
    "cusum_changepoint" -> ((s, d) => Events.cusumChangepoint(s, d)),
    "rrf_fusion" -> ((s, d) => Index.rrfFusion(s, d)),
    "dedup_embedding" -> ((s, d) => Similarity.embeddingPairs(s, d, 0.45)),
    "lang_id" -> ((s, d) => TextStats.langId(s, d)),
    "quality_score" -> ((s, d) => TextStats.quality(s, d)),
    "token_counts" -> ((s, d) => TextStats.tokenCounts(s, d)),
    "fingerprints" -> ((s, d) => TextStats.fingerprints(s, d)),
    "sessionize" -> ((s, d) => Events.sessionize(s, d)),
    "hourly_agg" -> ((s, d) => Events.hourlyAgg(s, d)),
    // streaming tier, oracle-gated via deterministic micro-batch replay
    "stream_window_replay" -> ((s, d) => streaming.StreamReplay.windowReplay(s, d)),
    "stream_session_replay" -> ((s, d) => streaming.StreamReplay.sessionReplay(s, d)),
    "stream_sesswin_replay" ->
      ((s, d) => streaming.StreamReplay.sessionWindowReplay(s, d)),
    "stream_dedup_replay" -> ((s, d) => streaming.StreamReplay.dedupReplay(s, d)),
    "stream_join_replay" -> ((s, d) => streaming.StreamReplay.joinReplay(s, d)),
    "stream_running_replay" -> ((s, d) => streaming.StreamReplay.runningReplay(s, d)),
    "stream_enrich_replay" -> ((s, d) => streaming.StreamReplay.enrichReplay(s, d)),
    "stream_timeout_replay" -> ((s, d) => streaming.StreamReplay.timeoutSessionReplay(s, d)),
    "stream_cdc_replay" -> ((s, d) => streaming.StreamReplay.cdcReplay(s, d)),
    "stream_ratelimit_replay" -> ((s, d) =>
      streaming.StreamReplay.rateLimitReplay(s, d)),
    "json_prop_agg" -> ((s, d) => Events.jsonPropAgg(s, d)),
    "multimodal_meta" -> ((s, d) => Multimodal.mediaMeta(s, d)),
    "multimodal_decode" -> ((s, d) => Multimodal.decode(s, d).toDF()),
    "frame_sample" -> ((s, d) => Multimodal.sampleFrames(Multimodal.decode(s, d))),
    // coverage of remaining SURVEY §2 / gap-list operators
    "semi_join" -> ((s, d) => Relational.semiJoin(s, d, "1996-01-01")),
    "anti_join" -> ((s, d) => Relational.antiJoin(s, d, "1996-01-01")),
    "rollup_agg" -> ((s, d) =>
      Relational.rollupAgg(s, d, Seq("NATION_3", "NATION_24"))),
    "term_lookup" -> ((s, d) => Index.termLookup(s, d, "spark")),
    "term_store_lookup" -> ((s, d) => Index.termStoreLookup(s, d)),
    "bm25_topk" -> ((s, d) => Index.bm25Topk(s, d)),
    "ranking_metrics" -> ((s, d) => Index.rankingMetrics(s, d)),
    "centroid_distances" -> ((s, d) => Similarity.centroidDistances(s, d)),
    "hapax_profile" -> ((s, d) => TextStats.hapaxProfile(s, d)),
    "nearest_event" -> ((s, d) => Events.nearestEvent(s, d)),
    "q18_shape" -> ((s, d) => Relational.q18Shape(s, d)),
    "q8_shape" -> ((s, d) => Relational.q8Shape(s, d)),
    "q9_shape" -> ((s, d) => Relational.q9Shape(s, d)),
    "q12_shape" -> ((s, d) => Relational.q12Shape(s, d)),
    "q15_shape" -> ((s, d) => Relational.q15Shape(s, d)),
    "q20_shape" -> ((s, d) => Relational.q20Shape(s, d)),
    "q21_shape" -> ((s, d) => Relational.q21Shape(s, d)),
    "mode_agg" -> ((s, d) => Relational.modeAgg(s, d)),
    "column_profile" -> ((s, d) => Relational.columnProfile(s, d)),
    "kn_bigram_logprob" -> ((s, d) => TextStats.knBigramLogProb(s, d)),
    "lsh_retrieve" -> ((s, d) => Dedup.lshRetrieve(s, d)),
    "k_core" -> ((s, d) => Graph.kCore(s, d)),
    "k_truss" -> ((s, d) => Graph.kTruss(s, d)),
    "q13_shape" -> ((s, d) => Relational.q13Shape(s, d)),
    "q17_shape" -> ((s, d) => Relational.q17Shape(s, d)),
    "hits_scores" -> ((s, d) => Graph.hits(s, d)),
    "mix_weights" -> ((s, d) => Curation.mixWeights(s, d)),
    "vocab_coverage" -> ((s, d) => TextStats.vocabCoverage(s, d)),
    "calibration_bins" -> ((s, d) => Ml.calibrationBins(s, d)),
    "phrase_query" -> ((s, d) => Index.phraseQuery(s, d)),
    "adamic_adar" -> ((s, d) => Graph.adamicAdar(s, d)),
    "top_paths" -> ((s, d) => Events.topPaths(s, d)),
    "naive_bayes" -> ((s, d) => Ml.naiveBayes(s, d)),
    "prf_metrics" -> ((s, d) => Ml.prfMetrics(s, d)),
    "skew_report" -> ((s, d) => Relational.skewReport(s, d)),
    "incremental_agg" -> ((s, d) => Events.incrementalAgg(s, d)),
    "table_checksums" -> ((s, d) => Relational.tableChecksums(s, d)),
    "label_prop" -> ((s, d) => Graph.labelPropagation(s, d)),
    "dsir_weights" -> ((s, d) => Curation.dsirWeights(s, d)),
    "source_overlap" -> ((s, d) => Dedup.sourceOverlap(s, d)),
    "scd2_history" -> ((s, d) => Relational.scd2History(s, d)),
    "jaccard_prefix_filter" -> ((s, d) => Dedup.jaccardPrefixFilter(s, d, 0.8)),
    "ols_trend" -> ((s, d) => Events.olsTrend(s, d)),
    "markov_stationary" -> ((s, d) => Events.markovStationary(s, d)),
    "attribution" -> ((s, d) => Events.attribution(s, d)),
    "fs_linkage" -> ((s, d) => Dedup.linkageWeights(s, d)),
    "substring_spans" -> ((s, d) => Dedup.substringSpans(s, d)),
    "robust_scale" -> ((s, d) => Curation.robustScale(s, d)),
    "covariance_matrix" -> ((s, d) => Similarity.covarianceMatrix(s, d)),
    "pca_power" -> ((s, d) => Similarity.pcaPower(s, d)),
    "knn_label_consistency" -> ((s, d) =>
      Similarity.knnLabelConsistency(s, d)),
    "silhouette_labels" -> ((s, d) => Similarity.silhouetteLabels(s, d)),
    "hill_tail_index" -> ((s, d) => Graph.hillTailIndex(s, d)),
    "dedup_threshold_sweep" -> ((s, d) => Dedup.dedupThresholdSweep(s, d)),
    "spearman_corr" -> ((s, d) => TextStats.spearmanCorr(s, d)),
    "countmin_audit" -> ((s, d) => TextStats.countMinAudit(s, d)),
    "bloom_fpr_audit" -> ((s, d) => TextStats.bloomFprAudit(s, d)),
    "hll_error_audit" -> ((s, d) => Events.hllErrorAudit(s, d)),
    "kmv_error_audit" -> ((s, d) => Events.kmvErrorAudit(s, d)),
    "t_closeness" -> ((s, d) => Events.tCloseness(s, d)),
    "fd_audit" -> ((s, d) => Relational.fdAudit(s, d)),
    "source_kl" -> ((s, d) => TextStats.sourceKlDivergence(s, d)),
    "salted_agg" -> ((s, d) =>
      Skew.saltedCount(graft.Tables.events(s, d), col("event_type"))
        .withColumnRenamed("k", "event_type")),
    "cube_agg" -> ((s, d) => Relational.cubeAgg(s, d)),
    "window_topk" -> ((s, d) => Relational.windowTopk(s, d, 3)),
    "distinct_agg" -> ((s, d) => Relational.distinctAgg(s, d)),
    "except_op" -> ((s, d) => Relational.exceptOp(s, d, "1998-06-01")),
    "intersect_op" -> ((s, d) => Relational.intersectOp(s, d, "1996-03", "1996-04")),
    "event_gaps" -> ((s, d) => Events.interArrival(s, d)),
    "asof_join" -> ((s, d) => Events.asofJoin(s, d, "purchase", "view")),
    "range_join" -> ((s, d) => Events.rangeJoin(s, d, "click", "purchase")),
    "tfidf_topk" -> ((s, d) => Index.tfidfTopk(s, d, 3)),
    "pivot_agg" -> ((s, d) => Relational.pivotAgg(s, d)),
    "sample_hash" -> ((s, d) => Relational.sampleHash(s, d, 10)),
    "topk_agg" -> ((s, d) => Relational.topkAgg(s, d, 3)),
    "decimal_agg" -> ((s, d) => Relational.decimalAgg(s, d)),
    "stats_agg" -> ((s, d) => Relational.statsAgg(s, d)),
    "dedup_embedding_lsh" -> ((s, d) => Similarity.embeddingPairsLsh(s, d, 0.45)),
    "dedup_fuzzy" -> ((s, d) => Dedup.fuzzyPairs(s, d)),
    // end-to-end dedup: LSH pairs -> components -> canonical survivor
    "dedup_assign" -> ((s, d) =>
      Dedup.assignCanonical(s, d, Dedup.minhashPairs(s, d, 0.8))),
    "approx_agg" -> ((s, d) => Relational.approxAgg(s, d)),
    "bloom_semi_join" -> ((s, d) => Relational.bloomSemiJoin(s, d)),
    "media_resize" -> ((s, d) =>
      Multimodal.resizePlan(Multimodal.decode(s, d))),
    "session_window_agg" -> ((s, d) => Events.sessionWindowAgg(s, d)),
    // capstone: quality ∧ lang ∧ dedup-survivor in one composed plan
    "curation_pipeline" -> ((s, d) => Pipeline.curate(s, d)),
    "skew_join_salted" -> ((s, d) =>
      Skew.saltedJoin(Tables.lineitem(s, d), Tables.part(s, d),
          "l_partkey", "p_partkey")
        .groupBy(col("p_brand"))
        .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("cnt"),
          org.apache.spark.sql.functions.round(
            org.apache.spark.sql.functions.sum(col("l_extendedprice")), 4)
            .as("rev"))),
    "moving_avg" -> ((s, d) => Events.movingAvg(s, d)),
    "sliding_window" -> ((s, d) => Events.slidingWindow(s, d)),
    "rank_fns" -> ((s, d) => Relational.rankFns(s, d)),
    "grouping_sets_agg" -> ((s, d) => Relational.groupingSetsAgg(s, d)),
    "ngram_profile" -> ((s, d) => TextStats.ngramProfile(s, d)),
    // ---- round 3: subquery surface + curation tier ----
    "exists_subquery" -> ((s, d) => Relational.existsSubquery(s, d)),
    "not_in_subquery" -> ((s, d) => Relational.notInSubquery(s, d)),
    "scalar_subquery" -> ((s, d) => Relational.scalarSubquery(s, d)),
    "outer_join_hist" -> ((s, d) => Relational.outerJoinHist(s, d)),
    "nullsafe_join" -> ((s, d) => Events.nullsafeJoin(s, d)),
    "first_last_window" -> ((s, d) => Events.firstLastWindow(s, d)),
    "leading_tokens" -> ((s, d) => TextStats.leadingTokens(s, d)),
    "pattern_scrub" -> ((s, d) => TextStats.patternScrub(s, d)),
    "repetition_frac" -> ((s, d) => TextStats.repetitionFrac(s, d)),
    "stratified_sample" -> ((s, d) => Curation.stratifiedSample(s, d)),
    "train_test_split" -> ((s, d) => Curation.trainTestSplit(s, d)),
    "seq_packing" -> ((s, d) => Curation.packSequences(s, d)),
    "contamination" -> ((s, d) => Curation.contamination(s, d)),
    "upsert_merge" -> ((s, d) => Relational.upsertMerge(s, d)),
    "unpivot_measures" -> ((s, d) => Relational.unpivotMeasures(s, d)),
    "embedding_centroids" -> ((s, d) => Similarity.embeddingCentroids(s, d)),
    "funnel_conversion" -> ((s, d) => Events.funnel(s, d)),
    "media_features" -> ((s, d) => Multimodal.featureExtract(s, d)),
    "date_spine_fill" -> ((s, d) =>
      Relational.dateSpineFill(s, d, Seq("NATION_3", "NATION_24"))),
    "argmax_agg" -> ((s, d) => Relational.argMaxAgg(s, d)),
    "regression_agg" -> ((s, d) => Relational.regressionAgg(s, d)),
    "zorder_cluster" -> ((s, d) => Relational.zorderBuckets(s, d)),
    "multiset_ops" -> ((s, d) =>
      Relational.multisetOps(s, d, "1996-03", "1996-04")),
    "event_transitions" -> ((s, d) => Events.eventTransitions(s, d)),
    "value_streaks" -> ((s, d) => Events.valueStreaks(s, d)),
    "kmeans_embed" -> ((s, d) => Similarity.kmeans(s, d)),
    "jaro_winkler_pairs" -> ((s, d) => Dedup.jaroWinklerPairs(s, d)),
    "ema_smooth" -> ((s, d) => Events.emaSmooth(s, d)),
    "interpolate_hourly" -> ((s, d) => Events.interpolateHourly(s, d)),
    "token_entropy" -> ((s, d) => TextStats.tokenEntropy(s, d)),
    "numeric_hist" -> ((s, d) => Relational.numericHist(s, d)),
    "weighted_sample" -> ((s, d) => Curation.weightedSample(s, d)),
    "auc_quality" -> ((s, d) => {
      val q = TextStats.quality(s, d).select("doc_id", "quality")
      val lab = q.join(
        graft.Tables.documents(s, d).select(col("doc_id"),
          when(col("lang") === "en", 1).otherwise(0).as("y")), "doc_id")
      Ml.auc(lab, "quality", "y")
    }),
    "heavy_hitters" -> ((s, d) => TextStats.heavyHitters(s, d)),
    "chunk_dedup" -> ((s, d) => Dedup.chunkDedup(s, d)),
    "incremental_dedup" -> ((s, d) => Dedup.incrementalDedup(s, d)),
    "triangle_census" -> ((s, d) => Graph.triangleCensus(s, d)),
    "retention_cohorts" -> ((s, d) => Events.retentionCohorts(s, d)),
    "dup_cluster_sizes" -> ((s, d) => Dedup.clusterSizes(s, d)),
    "fk_audit" -> ((s, d) => Relational.fkAudit(s, d)),
    "doc_similarity" -> ((s, d) => Similarity.docSimilarityPairs(s, d)),
    // native custom-plan as-of join (AsOfJoinPlan/Exec); same result
    // contract as asof_join, so the same oracle must hash-match
    "asof_join_native" -> ((s, d) => Events.asofJoinNative(s, d, "purchase", "view")),
    "interval_union" -> ((s, d) => Events.intervalUnion(s, d)),
    "zscore_anomalies" -> ((s, d) => Events.zscoreAnomalies(s, d)),
    "neighbor_jaccard" -> ((s, d) => Graph.neighborJaccard(s, d)),
    "source_quota" -> ((s, d) => Curation.sourceQuota(s, d)),
    "token_budget" -> ((s, d) => Curation.tokenBudget(s, d)),
    "equi_depth_hist" -> ((s, d) => Relational.equiDepthHist(s, d)),
    "q22_shape" -> ((s, d) => Relational.q22Shape(s, d)),
    "time_weighted_avg" -> ((s, d) => Events.timeWeightedAvg(s, d)),
    "latest_snapshot" -> ((s, d) => Events.latestSnapshot(s, d)),
    "sorted_neighborhood" -> ((s, d) => Dedup.sortedNeighborhood(s, d)),
    "unigram_logprob" -> ((s, d) => TextStats.unigramLogProb(s, d)),
    "mom_growth" -> ((s, d) =>
      Relational.momGrowth(s, d, Seq("NATION_3", "NATION_24"))),
    "chi_square" -> ((s, d) => Events.chiSquare(s, d)),
    "media_shard_plan" -> ((s, d) => Multimodal.shardPlan(s, d)),
    "standardize_features" -> ((s, d) => Curation.standardize(s, d)),
    "rolling_active_users" -> ((s, d) => Events.rollingActiveUsers(s, d)),
    "common_trigrams" -> ((s, d) => Events.commonTrigrams(s, d)),
    "time_to_convert" -> ((s, d) => Events.timeToConvert(s, d)),
    "winsorize" -> ((s, d) => Relational.winsorize(s, d)),
    "aspect_buckets" -> ((s, d) => Multimodal.aspectBuckets(s, d)),
    "skyline" -> ((s, d) => Relational.skyline(s, d)),
    "string_agg" -> ((s, d) => Relational.stringAgg(s, d)),
    "revenue_share" -> ((s, d) => Relational.revenueShare(s, d)),
    "boilerplate" -> ((s, d) => TextStats.boilerplate(s, d)),
    "quantize_int8" -> ((s, d) => Similarity.quantizeInt8(s, d)),
    "rank_normalize" -> ((s, d) => Curation.rankNormalize(s, d)),
    "confusion_matrix" -> ((s, d) => Ml.confusionQuery(s, d)),
    "fairness_audit" -> ((s, d) => Ml.fairnessAudit(s, d)),
    "cuped_adjust" -> ((s, d) => Events.cupedAdjust(s, d)),
    "bootstrap_ci" -> ((s, d) => Relational.bootstrapCi(s, d)),
    "mahalanobis_outliers" -> ((s, d) => Similarity.mahalanobisOutliers(s, d)),
    "conformal_intervals" -> ((s, d) => Relational.conformalIntervals(s, d)),
    "permutation_test" -> ((s, d) => Events.permutationTest(s, d)),
    "lof_audit" -> ((s, d) => Similarity.lofAudit(s, d)),
    "rich_club" -> ((s, d) => Graph.richClub(s, d)),
    "readability" -> ((s, d) => TextStats.readability(s, d)),
    "kmv_set_ops" -> ((s, d) => Events.kmvSetOps(s, d)),
    "mutual_nn_pairs" -> ((s, d) => Similarity.mutualNnPairs(s, d)),
    "cohort_ltv" -> ((s, d) => Events.cohortLtv(s, d)),
    "mmr_select" -> ((s, d) => Similarity.mmrSelect(s, d)),
    "session_gap_sweep" -> ((s, d) => Events.sessionGapSweep(s, d)),
    "ctfidf_terms" -> ((s, d) => Index.ctfidfTerms(s, d)),
    "stream_hll_replay" ->
      ((s, d) => graft.streaming.StreamReplay.hllReplay(s, d)),
    "stem_collisions" -> ((s, d) => TextStats.stemCollisions(s, d)),
    "prf_expansion" -> ((s, d) => Index.prfExpansion(s, d)),
    "isotropy_audit" -> ((s, d) => Similarity.isotropyAudit(s, d)),
    "ips_eval" -> ((s, d) => Events.ipsEval(s, d)),
    "window_funnel" -> ((s, d) => Events.windowFunnel(s, d)),
    "media_phash_buckets" -> ((s, d) => Multimodal.mediaPhashBuckets(s, d)),
    "entropy_rate" -> ((s, d) => Events.entropyRate(s, d)),
    "ab_power" -> ((s, d) => Events.abPower(s, d)),
    "max_drawdown" -> ((s, d) => Events.maxDrawdown(s, d)),
    "diff_in_diff" -> ((s, d) => Events.diffInDiff(s, d)),
    "seasonality_strength" -> ((s, d) => Events.seasonalityStrength(s, d)),
    "peak_concurrency" -> ((s, d) => Events.peakConcurrency(s, d)),
    "cold_start_audit" -> ((s, d) => Events.coldStartAudit(s, d)),
    "stream_anomaly_replay" ->
      ((s, d) => graft.streaming.StreamReplay.anomalyReplay(s, d)),
    "rfm_segments" -> ((s, d) => Relational.rfmSegments(s, d)),
    "lang_confusion" -> ((s, d) => TextStats.langConfusion(s, d)),
    // the reference's headline classifier metric (assignment6 ROC
    // area), over the single-model scores
    "sgd_auc" -> ((s, d) => Ml.auc(
      Ml.applyQuery(s, d).select(col("score"),
        when(col("label") === 1.0, 1).otherwise(0).as("y")),
      "score", "y")),
    "best_survivor" -> ((s, d) => Dedup.bestSurvivor(s, d)),
    "leakage_safe_split" -> ((s, d) => Curation.leakageSafeSplit(s, d)),
    // rows-only audits (no oracleSql: physical-plan facts have no
    // DuckDB restatement) — W32 bucketed co-location, W123 AQE
    "bucketed_join_audit" -> ((s, d) => PlanAudits.bucketedJoinAudit(s, d)),
    "aqe_coalesce_audit" -> ((s, d) => PlanAudits.aqeCoalesceAudit(s, d)),
    "sql_extensions_audit" ->
      ((s, d) => PlanAudits.sqlExtensionsAudit(s, d)),
    "degree_distribution" -> ((s, d) => Graph.degreeDistribution(s, d)),
    // dialect-parity demonstration: Spark executes the IDENTICAL SQL
    // text the oracle runs (AnsiParitySql) over a temp view — the
    // spark.sql surface as a first-class query path
    "ansi_sql_parity" -> ((s, d) => {
      graft.Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(AnsiParitySql)
    }),
    "q16_shape" -> ((s, d) => Relational.q16Shape(s, d)),
    "gap_percentiles" -> ((s, d) => Events.gapPercentiles(s, d)),
    "q11_shape" -> ((s, d) => Relational.q11Shape(s, d)),
    "dau_wau" -> ((s, d) => Events.dauWauRatio(s, d)),
    "zipf_fit" -> ((s, d) => TextStats.zipfFit(s, d)),
    "q19_shape" -> ((s, d) => Relational.q19Shape(s, d)),
    "curated_mix" -> ((s, d) => Pipeline.curatedMix(s, d)),
    "q14_shape" -> ((s, d) => Relational.q14Shape(s, d)),
    // native interval-join physical operator; same contract as
    // range_join, so the same oracle must hash-match
    "range_join_native" ->
      ((s, d) => Events.rangeJoinNative(s, d, "click", "purchase")),
    "lm_score_tiers" -> ((s, d) => Curation.lmScoreTiers(s, d)),
    "q10_shape" -> ((s, d) => Relational.q10Shape(s, d)),
    "type_daily_corr" -> ((s, d) => Events.typeDailyCorr(s, d)),
    "token_gini" -> ((s, d) => Curation.tokenGini(s, d)),
    "new_vs_returning" -> ((s, d) => Events.newVsReturning(s, d)),
    "media_duration_stats" -> ((s, d) => Multimodal.durationStats(s, d)),
    "order_size_hist" -> ((s, d) => Relational.orderSizeHist(s, d)),
    "char_class_profile" -> ((s, d) => TextStats.charClassProfile(s, d)),
    // round-4 batch: time-series, info-theory, graph reach, BPE, ANN
    "acf_daily" -> ((s, d) => Events.acfDaily(s, d)),
    "seasonal_hourly" -> ((s, d) => Events.seasonalHourly(s, d)),
    "mutual_information" -> ((s, d) => Events.mutualInformation(s, d)),
    "schema_drift" -> ((s, d) => Events.schemaDrift(s, d)),
    "decision_stump" -> ((s, d) => Ml.decisionStump(s, d)),
    "two_hop_reach" -> ((s, d) => Graph.twoHopReach(s, d)),
    "assortativity" -> ((s, d) => Graph.assortativity(s, d)),
    "bfs_distances" -> ((s, d) => Graph.bfsDistances(s, d, 1L)),
    "bpe_pair_counts" -> ((s, d) => TextStats.bpePairCounts(s, d)),
    "bpe_iter2_counts" -> ((s, d) => TextStats.bpeIter2Counts(s, d)),
    "containment_pairs" -> ((s, d) => Dedup.containmentPairs(s, d, 0.5)),
    "embedding_prototypes" -> ((s, d) => Similarity.normalizedPrototypes(s, d)),
    "frequent_pairs" -> ((s, d) => Relational.frequentPairs(s, d)),
    "q2_mincost_shape" -> ((s, d) => Relational.q2MincostShape(s, d)),
    "rolling_median_daily" -> ((s, d) => Events.rollingMedianDaily(s, d)),
    "pagerank_global" -> ((s, d) => Graph.pagerankGlobal(s, d)),
    "stream_late_replay" -> ((s, d) => streaming.StreamReplay.lateDataReplay(s, d)),
    "weighted_ppr" -> ((s, d) => Graph.weightedPpr(s, d)),
    "eccentricity_sample" -> ((s, d) => Graph.eccentricitySample(s, d)),
    "hll_rollup" -> ((s, d) => Relational.hllRollup(s, d)),
    "zonemap_prune" -> ((s, d) => Relational.zonemapPruneReport(s, d)),
    "eventually_follows" -> ((s, d) => Events.eventuallyFollows(s, d)),
    "bounce_rate" -> ((s, d) => Events.bounceRate(s, d)),
    "mad_anomalies" -> ((s, d) => Events.madAnomalies(s, d)),
    "clustering_coeff" -> ((s, d) => Graph.clusteringCoeff(s, d)),
    "psi_drift" -> ((s, d) => Events.psiDrift(s, d)),
    "negative_samples" -> ((s, d) => Curation.negativeSamples(s, d)),
    "hard_negatives" -> ((s, d) => Similarity.hardNegatives(s, d)),
    "pair_lift" -> ((s, d) => Relational.pairLift(s, d)),
    "mp_quantiles" -> ((s, d) => Relational.mpQuantiles(s, d)),
    "shortest_path_counts" -> ((s, d) => Graph.shortestPathCounts(s, d)),
    "session_entropy" -> ((s, d) => Events.sessionEntropy(s, d)),
    "k_anonymity" -> ((s, d) => Events.kAnonymity(s, d)),
    "harmonic_centrality" -> ((s, d) => Graph.harmonicCentrality(s, d)),
    "graph_summary" -> ((s, d) => Graph.graphSummary(s, d)),
    "intersession_gaps" -> ((s, d) => Events.intersessionGaps(s, d)),
    "user_activity_features" -> ((s, d) => Events.userActivityFeatures(s, d)),
    "benford_digits" -> ((s, d) => Events.benfordDigits(s, d)),
    "hist2d" -> ((s, d) => Relational.hist2d(s, d)),
    "disappearing_items" -> ((s, d) => Relational.disappearingItems(s, d)),
    "join_cardinality" -> ((s, d) => Relational.joinCardinalityForecast(s, d)),
    "heaps_law" -> ((s, d) => TextStats.heapsLaw(s, d)),
    "embedding_drift" -> ((s, d) => Similarity.embeddingDrift(s, d)),
    // round-5 batch D: game-theoretic attribution, multiple testing,
    // closed-form ridge, temporal graph stability, corpus keyness,
    // LATERAL decorrelation
    "shapley_attribution" -> ((s, d) => Events.shapleyAttribution(s, d)),
    "fdr_bh" -> ((s, d) => Events.fdrBh(s, d)),
    "ridge_regression" -> ((s, d) => Ml.ridgeRegression(s, d)),
    "graph_churn" -> ((s, d) => Graph.graphChurn(s, d)),
    "keyness_g2" -> ((s, d) => TextStats.keynessG2(s, d)),
    "lateral_join_topk" -> ((s, d) => Relational.lateralJoinTopk(s, d)),
    // round-5 batch E: pattern mining, EM linkage, feature
    // engineering, confounding + calibration decompositions
    "seq_patterns" -> ((s, d) => Events.seqPatterns(s, d)),
    "fs_em_weights" -> ((s, d) => Dedup.fsEmWeights(s, d)),
    "target_encode" -> ((s, d) => Relational.targetEncode(s, d)),
    "simpson_audit" -> ((s, d) => Relational.simpsonAudit(s, d)),
    "brier_decomp" -> ((s, d) => Ml.brierDecomp(s, d)),
    // round-5 batch F: media pair-verify, bipartite motifs, queueing
    // audits, PQ codebooks
    "media_dedup_verify" -> ((s, d) => Multimodal.mediaDedupVerify(s, d)),
    "butterfly_count" -> ((s, d) => Graph.butterflyCount(s, d)),
    "littles_law" -> ((s, d) => Events.littlesLawAudit(s, d)),
    "exp_gap_fit" -> ((s, d) => Events.expGapFit(s, d)),
    "pq_codebook" -> ((s, d) => Similarity.pqCodebook(s, d)),
    // round-5 batch G: temporal joins, structural privacy, model
    // debugging, erasure sizing
    "pit_join" -> ((s, d) => Relational.pitJoin(s, d)),
    "perm_importance" -> ((s, d) => Relational.permImportance(s, d)),
    "degree_anonymity" -> ((s, d) => Graph.degreeAnonymity(s, d)),
    "deletion_impact" -> ((s, d) => Curation.deletionImpact(s, d)),
    // round-5 batch H: censoring-correct testing, stylometry,
    // temporal link-prediction backtest
    "logrank_test" -> ((s, d) => Events.logrankTest(s, d)),
    "burrows_delta" -> ((s, d) => TextStats.burrowsDelta(s, d)),
    "link_pred_eval" -> ((s, d) => Graph.linkPredEval(s, d)),
    // round-5 batch I: seasonal forecasting, sequential testing,
    // weighted graph distance
    "hw_forecast" -> ((s, d) => Events.hwForecast(s, d)),
    "obf_sequential" -> ((s, d) => Events.obfSequential(s, d)),
    "weighted_sssp" -> ((s, d) => Graph.weightedSssp(s, d)),
    // round-5 batch J: preference ranking, motif discovery,
    // in-flight observability
    "bradley_terry" -> ((s, d) => Ml.bradleyTerry(s, d)),
    "ts_motif" -> ((s, d) => Events.tsMotif(s, d)),
    "observe_metrics" -> ((s, d) => PlanAudits.observeMetrics(s, d)),
    // round-5 batch K: LM retrieval, post-hoc calibration, sampling
    // design, local-DP debiasing
    "lm_dirichlet_topk" -> ((s, d) => Index.lmDirichletTopk(s, d)),
    "temperature_scaling" -> ((s, d) => Ml.temperatureScaling(s, d)),
    "neyman_allocation" -> ((s, d) => Events.neymanAllocation(s, d)),
    "randomized_response" -> ((s, d) => Curation.randomizedResponse(s, d)),
    // round-5 batch L: experimentation guardrails
    "ab_srm_check" -> ((s, d) => Events.abSrmCheck(s, d)),
    "mann_kendall" -> ((s, d) => Events.mannKendall(s, d)),
    // round-5 batch M: bounded distribution distance, GT smoothing,
    // rank correlation, basket recommendations
    "jensen_shannon" -> ((s, d) => TextStats.jensenShannon(s, d)),
    "good_turing" -> ((s, d) => TextStats.goodTuring(s, d)),
    "kendall_tau" -> ((s, d) => Events.kendallTau(s, d)),
    "item_cf_topk" -> ((s, d) => Relational.itemCfTopk(s, d)),
    // round-5 batch N: paired classifier testing, EB shrinkage,
    // AR-order diagnostics
    "mcnemar_test" -> ((s, d) => Ml.mcnemarTest(s, d)),
    "beta_binomial_eb" -> ((s, d) => Events.betaBinomialEb(s, d)),
    "pacf_daily" -> ((s, d) => Events.pacfDaily(s, d)),
    // round-5 batch O: k-group testing, association/agreement,
    // concentration/inequality, serial-randomness + drift monitors
    "anova_oneway" -> ((s, d) => Events.anovaOneway(s, d)),
    "kruskal_wallis" -> ((s, d) => Events.kruskalWallis(s, d)),
    "runs_test" -> ((s, d) => Events.runsTest(s, d)),
    "page_hinkley" -> ((s, d) => Events.pageHinkley(s, d)),
    "cramers_v" -> ((s, d) => TextStats.cramersV(s, d)),
    "cohens_kappa" -> ((s, d) => TextStats.cohensKappa(s, d)),
    "herfindahl_index" -> ((s, d) => Relational.herfindahlIndex(s, d)),
    "lorenz_gini" -> ((s, d) => Relational.lorenzGini(s, d)),
    // round-5 batch P: walk-count centrality, corpus-comparison terms,
    // ranking/shape/distribution metrics, generative baseline
    "katz_centrality" -> ((s, d) => Graph.katzCentrality(s, d)),
    "log_odds_terms" -> ((s, d) => TextStats.logOddsTerms(s, d)),
    "pr_auc" -> ((s, d) => TextStats.prAuc(s, d)),
    "cvm_test" -> ((s, d) => Events.cvmTest(s, d)),
    "skew_kurtosis" -> ((s, d) => Events.skewKurtosis(s, d)),
    "gaussian_nb" -> ((s, d) => Similarity.gaussianNb(s, d)),
    // round-5 batch Q: residual whiteness + spectral seasonality,
    // sketch/sampling estimator audits, marginal raking
    "ljung_box" -> ((s, d) => Events.ljungBox(s, d)),
    "periodogram_topk" -> ((s, d) => Events.periodogramTopk(s, d)),
    "ams_f2_audit" -> ((s, d) => Relational.amsF2(s, d)),
    "priority_sample_audit" -> ((s, d) => Relational.prioritySample(s, d)),
    "ipf_raking" -> ((s, d) => Curation.ipfRaking(s, d)),
    // round-5 batch R: weighted-graph sparsification, weighted
    // quantiles, itemset mining, long-memory + influence diagnostics,
    // moment-collapsed kernel two-sample distance
    "graph_backbone" -> ((s, d) => Graph.graphBackbone(s, d)),
    "weighted_median" -> ((s, d) => Relational.weightedMedian(s, d)),
    "frequent_triples" -> ((s, d) => Relational.frequentTriples(s, d)),
    "hurst_rs" -> ((s, d) => Events.hurstRs(s, d)),
    "ols_influence" -> ((s, d) => Events.olsInfluence(s, d)),
    "mmd_poly" -> ((s, d) => Similarity.mmdPoly(s, d)),
    // round-5 batch S: lexical repeat-rate, binary-relevance MAP,
    // AR(2) forecast, JL sketch audit, variance homogeneity, boxplot
    // fences, weak-tie bridges, dose-response trend
    "yule_k" -> ((s, d) => TextStats.yuleK(s, d)),
    "map_at_10" -> ((s, d) => Index.mapAtK(s, d)),
    "ar2_forecast" -> ((s, d) => Events.ar2Forecast(s, d)),
    "jl_distortion" -> ((s, d) => Similarity.jlDistortion(s, d)),
    "brown_forsythe" -> ((s, d) => TextStats.brownForsythe(s, d)),
    "tukey_outliers" -> ((s, d) => Events.tukeyOutliers(s, d)),
    "local_bridges" -> ((s, d) => Graph.localBridges(s, d)),
    "cochran_armitage" -> ((s, d) => Relational.cochranArmitage(s, d)),
    // round-5 batch T: rank-sum + effect sizes, normality screen,
    // CDF-integral two-sample metrics, lead-lag CCF, normalized MI,
    // partial correlation
    "mann_whitney" -> ((s, d) => Events.mannWhitney(s, d)),
    "jarque_bera" -> ((s, d) => Events.jarqueBera(s, d)),
    "wasserstein_1d" -> ((s, d) => TextStats.wasserstein1d(s, d)),
    "energy_distance" -> ((s, d) => Events.energyDistance(s, d)),
    "cross_corr" -> ((s, d) => Events.crossCorrDaily(s, d)),
    "theil_u" -> ((s, d) => Events.theilU(s, d)),
    "effect_sizes" -> ((s, d) => Events.effectSizes(s, d)),
    "partial_corr" -> ((s, d) => Relational.partialCorr(s, d)),
    // round-5 batch U: forecast family (theta, Croston), spectral +
    // state-space complexity, unit-root screen, sequential decision,
    // EWMA chart, relative-error sketch audit
    "theta_forecast" -> ((s, d) => Events.thetaForecast(s, d)),
    "croston_forecast" -> ((s, d) => Events.crostonForecast(s, d)),
    "spectral_entropy" -> ((s, d) => Events.spectralEntropy(s, d)),
    "sample_entropy" -> ((s, d) => Events.sampleEntropy(s, d)),
    "adf_test" -> ((s, d) => Events.adfTest(s, d)),
    "sprt_monitor" -> ((s, d) => Events.sprtMonitor(s, d)),
    "ewma_chart" -> ((s, d) => Events.ewmaChart(s, d)),
    "ddsketch_audit" -> ((s, d) => Relational.ddsketchAudit(s, d)),
    // round-5 batch V: RAKE keywords, chi2 term selection, Cronbach
    // reliability, SALSA, transition reciprocity, CEM matching,
    // odds-ratio CI, blocking-scheme audit
    "rake_keywords" -> ((s, d) => TextStats.rakeKeywords(s, d)),
    "chi2_terms" -> ((s, d) => TextStats.chi2Terms(s, d)),
    "cronbach_alpha" -> ((s, d) => TextStats.cronbachAlpha(s, d)),
    "salsa_scores" -> ((s, d) => Graph.salsaScores(s, d)),
    "reciprocity" -> ((s, d) => Events.reciprocity(s, d)),
    "cem_att" -> ((s, d) => Relational.cemAtt(s, d)),
    "odds_ratio_ci" -> ((s, d) => Relational.oddsRatioCi(s, d)),
    "blocking_quality" -> ((s, d) => Dedup.blockingQuality(s, d)),
    // round-5 batch W: extreme values, density clustering, hazards,
    // dispersion, influence seeding, structural holes, rank
    // stability, association rules
    "evt_gumbel" -> ((s, d) => Events.evtGumbel(s, d)),
    "dbscan_1d" -> ((s, d) => Events.dbscan1d(s, d)),
    "nelson_aalen" -> ((s, d) => Events.nelsonAalen(s, d)),
    "dispersion_test" -> ((s, d) => Events.dispersionTest(s, d)),
    "ansari_bradley" -> ((s, d) => Events.ansariBradley(s, d)),
    "mood_median" -> ((s, d) => Events.moodMedian(s, d)),
    "jonckheere_terpstra" -> ((s, d) => Events.jonckheereTerpstra(s, d)),
    "brown_forsythe_values" -> ((s, d) => Events.brownForsythe(s, d)),
    "kuiper_two_sample" -> ((s, d) => Events.kuiperTwoSample(s, d)),
    "hodges_lehmann" -> ((s, d) => Events.hodgesLehmann(s, d)),
    "ca_trend_activity" -> ((s, d) => Events.cochranArmitage(s, d)),
    "grubbs_test" -> ((s, d) => Events.grubbsTest(s, d)),
    "running_records" -> ((s, d) => Events.runningRecords(s, d)),
    "gini_mean_difference" ->
      ((s, d) => Relational.giniMeanDifference(s, d)),
    "benford_order_totals" -> ((s, d) => Relational.benfordDigits(s, d)),
    "jaccard_link_pred" -> ((s, d) => Graph.jaccardLinkPred(s, d)),
    "preferential_attachment" ->
      ((s, d) => Graph.preferentialAttachment(s, d)),
    "lix_readability" -> ((s, d) => TextStats.lixReadability(s, d)),
    "msttr_diversity" -> ((s, d) => TextStats.msttrDiversity(s, d)),
    "doc_containment" -> ((s, d) => Dedup.docContainment(s, d)),
    "mcc_threshold" -> ((s, d) => Ml.mccThreshold(s, d)),
    "pareto_front" -> ((s, d) => Curation.paretoFront(s, d)),
    "nprobe_recall_sweep" ->
      ((s, d) => Similarity.nprobeRecallSweep(s, d)),
    "inventory_policy" -> ((s, d) => Relational.inventoryPolicy(s, d)),
    "lsh_band_sweep" -> ((s, d) => Dedup.lshBandSweep(s, d)),
    "cluster_density_audit" ->
      ((s, d) => Dedup.clusterDensityAudit(s, d)),
    "dup_quality_matrix" -> ((s, d) => Curation.dupQualityMatrix(s, d)),
    "vote_rank" -> ((s, d) => Graph.voteRank(s, d)),
    "burt_constraint" -> ((s, d) => Graph.burtConstraint(s, d)),
    "rbo_stability" -> ((s, d) => TextStats.rboStability(s, d)),
    "assoc_rules" -> ((s, d) => Relational.assocRules(s, d)),
    // round-5 batch X: noise-type classification, iid screens,
    // survey estimators, geostat structure, mixing-by-attribute,
    // demand economics, inequality decomposition
    "allan_variance" -> ((s, d) => Events.allanVariance(s, d)),
    "turning_points" -> ((s, d) => Events.turningPoints(s, d)),
    "jackknife_ratio" -> ((s, d) => Events.jackknifeRatio(s, d)),
    "variogram" -> ((s, d) => Events.variogram(s, d)),
    "post_stratify" -> ((s, d) => Events.postStratify(s, d)),
    "homophily_brand" -> ((s, d) => Graph.homophilyBrand(s, d)),
    "price_elasticity" -> ((s, d) => Relational.priceElasticity(s, d)),
    "inequality_indices" -> ((s, d) => Relational.inequalityIndices(s, d)),
    // round-5 batch Y: redistribution share, distribution metrics,
    // ordinal complexity, corpus balance, detector cross-audit,
    // quantile-level effects
    "hoover_index" -> ((s, d) => Relational.hooverIndex(s, d)),
    "hellinger_distance" -> ((s, d) => TextStats.hellingerDistance(s, d)),
    "permutation_entropy" -> ((s, d) => Events.permutationEntropy(s, d)),
    "pielou_evenness" -> ((s, d) => TextStats.pielouEvenness(s, d)),
    "detector_agreement" -> ((s, d) => Dedup.detectorAgreement(s, d)),
    "quantile_gap" -> ((s, d) => Events.quantileGap(s, d)),
    // round-5 batch Z: stationarity from the reversed null,
    // cointegration, repeated-measures ranks, tail-weighted GOF,
    // ratio-metric CIs, predictive causality
    "kpss_test" -> ((s, d) => Events.kpssTest(s, d)),
    "engle_granger" -> ((s, d) => Events.engleGranger(s, d)),
    "friedman_test" -> ((s, d) => Relational.friedmanTest(s, d)),
    "anderson_darling" -> ((s, d) => Relational.andersonDarling(s, d)),
    "delta_method_ratio" -> ((s, d) => Events.deltaMethodRatio(s, d)),
    "granger_causality" -> ((s, d) => Events.grangerCausality(s, d)),
    // round-5 batch AA: prestige centrality, community move gains,
    // hub-discounted link prediction, k-detector agreement,
    // cycle-robust trend, residual independence
    "eigenvector_centrality" ->
      ((s, d) => Graph.eigenvectorCentrality(s, d)),
    "louvain_move_gains" -> ((s, d) => Graph.louvainMoveGains(s, d)),
    "resource_allocation" -> ((s, d) => Graph.resourceAllocation(s, d)),
    "cochrans_q" -> ((s, d) => TextStats.cochransQ(s, d)),
    "seasonal_mann_kendall" ->
      ((s, d) => Events.seasonalMannKendall(s, d)),
    "durbin_watson" -> ((s, d) => Events.durbinWatson(s, d)),
    // round-5 batch AB: structural break, paired ranks, signed
    // sketch, detector capture-recapture, network autocorrelation,
    // ordered-alternative trend
    "chow_test" -> ((s, d) => Events.chowTest(s, d)),
    "wilcoxon_signed_rank" ->
      ((s, d) => Events.wilcoxonSignedRank(s, d)),
    "countsketch_audit" -> ((s, d) => TextStats.countSketchAudit(s, d)),
    "dedup_capture_recapture" ->
      ((s, d) => Dedup.captureRecapture(s, d)),
    "moran_i" -> ((s, d) => Graph.moranI(s, d)),
    "page_trend" -> ((s, d) => Relational.pageTrend(s, d)),
    // round-5 batch AC: submodular data selection, AUC interval,
    // survival-curve area
    "facility_location_select" ->
      ((s, d) => Similarity.facilityLocationSelect(s, d)),
    "auc_ci" -> ((s, d) => Ml.aucCi(s, d)),
    "rmst" -> ((s, d) => Events.rmst(s, d)),
    // round-5 batch AD: tail shape, robust consensus trend,
    // DP release utility, multi-rater agreement
    "pot_gpd" -> ((s, d) => Events.potGpd(s, d)),
    "ransac_trend" -> ((s, d) => Events.ransacTrend(s, d)),
    "dp_utility_audit" -> ((s, d) => Curation.dpUtilityAudit(s, d)),
    "fleiss_kappa" -> ((s, d) => TextStats.fleissKappa(s, d)),
    // round-5 batch AE: hitting probabilities, collaboration-weighted
    // projection, configuration-model edge lift
    "markov_absorption" -> ((s, d) => Events.markovAbsorption(s, d)),
    "newman_projection" -> ((s, d) => Graph.newmanProjection(s, d)),
    "edge_surprise" -> ((s, d) => Graph.edgeSurprise(s, d)),
    // round-5 batch AF: two-sample drift, information flow,
    // extreme co-movement, circular uniformity
    "ks_two_sample" -> ((s, d) => Events.ksTwoSample(s, d)),
    "transfer_entropy" -> ((s, d) => Events.transferEntropy(s, d)),
    "tail_dependence" -> ((s, d) => Events.tailDependence(s, d)),
    "rayleigh_uniformity" ->
      ((s, d) => Events.rayleighUniformity(s, d)),
    // round-5 batch AG: graph robustness, tail risk, HAC inference,
    // embedding hubness
    "percolation_threshold" ->
      ((s, d) => Graph.percolationThreshold(s, d)),
    "cvar_es" -> ((s, d) => Relational.cvarEs(s, d)),
    "hac_mean_ci" -> ((s, d) => Events.hacMeanCi(s, d)),
    "knn_hubness" -> ((s, d) => Graph.knnHubness(s, d)),
    // round-5 batch AH: count-correct GLM trend, parametric survival,
    // unseen-vocabulary estimate
    "poisson_glm_trend" -> ((s, d) => Events.poissonGlmTrend(s, d)),
    "weibull_plot_fit" -> ((s, d) => Events.weibullPlotFit(s, d)),
    "chao1_richness" -> ((s, d) => TextStats.chao1Richness(s, d)),
    // round-5 batch AI: source duplication structure, degree-mixing
    // curve, embedding intrinsic dimension, vocabulary rarefaction
    "dedup_source_matrix" -> ((s, d) => Dedup.dedupSourceMatrix(s, d)),
    "avg_neighbor_degree" ->
      ((s, d) => Graph.avgNeighborDegree(s, d)),
    "intrinsic_dimension" ->
      ((s, d) => Similarity.intrinsicDimension(s, d)),
    "rarefaction_curve" -> ((s, d) => TextStats.rarefactionCurve(s, d)),
    // round-5 batch AJ: count-model diagnostics, decomposable
    // inequality, index numbers, demand intermittency
    "zero_inflation" -> ((s, d) => Events.zeroInflation(s, d)),
    "theil_decomposition" ->
      ((s, d) => Relational.theilDecomposition(s, d)),
    "price_index" -> ((s, d) => Relational.priceIndex(s, d)),
    "demand_classification" ->
      ((s, d) => Relational.demandClassification(s, d)),
    // round-5 batch AK: fulfillment SLA, contrastive embedding quality
    "perfect_order_rate" ->
      ((s, d) => Relational.perfectOrderRate(s, d)),
    "embedding_alignment" ->
      ((s, d) => Similarity.embeddingAlignment(s, d)),
    // round-5 batch AL: Pareto inventory census
    "abc_classification" ->
      ((s, d) => Relational.abcClassification(s, d)),
    // round-5 batch AM: diversity profile, privacy-utility frontier
    "hill_numbers" -> ((s, d) => TextStats.hillNumbers(s, d)),
    "anonymity_sweep" -> ((s, d) => Events.anonymitySweep(s, d)),
    // round-7: crawl-slice novelty, SimHash radius tuning, per-language
    // tokenizer-tail mass, per-source quality drift
    "ngram_novelty" -> ((s, d) => TextStats.ngramNovelty(s, d)),
    "simhash_radius_sweep" ->
      ((s, d) => Dedup.simhashRadiusSweep(s, d)),
    "tail_token_mass" -> ((s, d) => TextStats.tailTokenMass(s, d)),
    "quality_drift" -> ((s, d) => TextStats.qualityDrift(s, d)),
    "residual_dup_audit" -> ((s, d) => Dedup.residualDupAudit(s, d)),
    "minhash_k_sweep" -> ((s, d) => Dedup.minhashKSweep(s, d)),
    "recall_at_k_sweep" ->
      ((s, d) => Similarity.recallAtKSweep(s, d)),
    "dedup_policy_compare" ->
      ((s, d) => Dedup.dedupPolicyCompare(s, d)),
    "stream_tws_replay" ->
      ((s, d) => graft.streaming.StreamReplay.typeCensusReplay(s, d)),
    "stream_tws_init_replay" ->
      ((s, d) => graft.streaming.StreamReplay.typeCensusWarmReplay(s, d)),
    "stream_tws_timer_replay" ->
      ((s, d) => graft.streaming.StreamReplay.timerSessionReplay(s, d)),
    "pq_m_sweep" -> ((s, d) => Similarity.pqMSweep(s, d)),
    "ivf_centroid_sweep" -> ((s, d) => Similarity.centroidSweep(s, d)),
    "stream_tws_list_replay" ->
      ((s, d) => graft.streaming.StreamReplay.funnelReplay(s, d)),
    "stream_foreach_batch_replay" ->
      ((s, d) => graft.streaming.StreamReplay.foreachBatchReplay(s, d)),
    "stream_changelog_restart_replay" ->
      ((s, d) => graft.streaming.StreamReplay.changelogRestartReplay(s, d)),
    "stream_state_source_audit" ->
      ((s, d) => graft.streaming.StreamReplay.stateSourceAudit(s, d)),
    "stream_outer_join_replay" ->
      ((s, d) => graft.streaming.StreamReplay.outerJoinReplay(s, d)),
    "stream_dedup_wm_replay" ->
      ((s, d) => graft.streaming.StreamReplay.dedupWithinWatermarkReplay(s, d)),
    "variant_roundtrip" -> ((s, d) => VariantOps.variantRoundtrip(s, d)),
    "stream_state_metadata_audit" ->
      ((s, d) => graft.streaming.StreamReplay.stateMetadataAudit(s, d)),
    "xml_roundtrip" -> ((s, d) => VariantOps.xmlRoundtrip(s, d)),
    "stream_available_now_replay" ->
      ((s, d) => graft.streaming.StreamReplay.availableNowReplay(s, d)),
    "named_params_sql" -> ((s, d) => Relational.namedParamsSql(s, d)),
    "recursive_cte_ema" -> ((s, d) => Relational.recursiveCteEma(s, d)),
    "sql_udf_rollup" -> ((s, d) => Relational.sqlUdfRollup(s, d)),
    "session_vars_sql" -> ((s, d) => Relational.sessionVarsSql(s, d)),
    "sql_scripting_newton" ->
      ((s, d) => Relational.sqlScriptingNewton(s, d)),
    "pipe_syntax_rollup" -> ((s, d) => Relational.pipeSyntaxRollup(s, d)),
    "sql_table_function" -> ((s, d) => Relational.sqlTableFunction(s, d)),
    "stream_union_replay" ->
      ((s, d) => graft.streaming.StreamReplay.unionReplay(s, d)),
    "stream_observe_replay" ->
      ((s, d) => graft.streaming.StreamReplay.observeStreamReplay(s, d)),
    "csv_roundtrip" -> ((s, d) => VariantOps.csvRoundtrip(s, d)),
    "orc_roundtrip" -> ((s, d) => VariantOps.orcRoundtrip(s, d)),
    "dsv2_overwrite_audit" ->
      ((s, d) => graft.sources.CatalogAudit.overwriteAudit(s, d)),
    "stream_concurrent_replay" ->
      ((s, d) => graft.streaming.StreamReplay.concurrentReplay(s, d)),
    "dsv2_runtime_filter_audit" ->
      ((s, d) => graft.sources.CatalogAudit.runtimeFilterAudit(s, d)),
    "dsv2_topn_push_audit" ->
      ((s, d) => graft.sources.CatalogAudit.topNPushAudit(s, d)),
    "dsv2_stats_audit" ->
      ((s, d) => graft.sources.CatalogAudit.statsAudit(s, d)),
    "dsv2_agg_push_audit" ->
      ((s, d) => graft.sources.CatalogAudit.aggPushAudit(s, d)),
    "dsv2_metadata_col_audit" ->
      ((s, d) => graft.sources.CatalogAudit.metadataColAudit(s, d)),
    // round-10 batch A: state-space filtering, Markov chain structure
    "kalman_filter" -> ((s, d) => Events.kalmanFilter(s, d)),
    "markov_classes" -> ((s, d) => Events.markovClasses(s, d)),
    "hash_walks" -> ((s, d) => Graph.hashWalks(s, d)),
    "geo_radius_join" -> ((s, d) => Spatial.geoRadiusJoin(s, d)),
    "topk_sketch_rollup" -> ((s, d) => Relational.topkSketchRollup(s, d)),
    "hll_sketch_rollup" -> ((s, d) => Relational.hllSketchRollup(s, d)),
    "try_arithmetic" -> ((s, d) => Relational.tryArithmetic(s, d)),
    "quantile_normalize" -> ((s, d) => Curation.quantileNormalize(s, d)),
    "hitting_time" -> ((s, d) => Events.hittingTime(s, d)),
    "identifier_templated" ->
      ((s, d) => Relational.identifierTemplated(s, d)),
    "conductance" -> ((s, d) => Graph.conductance(s, d)),
    "effective_diameter" -> ((s, d) => Graph.effectiveDiameter(s, d)),
    "stream_dsv2_sink_replay" ->
      ((s, d) => graft.streaming.StreamReplay.dsv2SinkReplay(s, d)),
    "stream_dsv2_source_replay" ->
      ((s, d) => graft.streaming.StreamReplay.dsv2SourceReplay(s, d)),
    "spj_self_join_audit" ->
      ((s, d) => graft.sources.CatalogAudit.spjSelfJoinAudit(s, d)),
    "stream_custom_statestore_replay" ->
      ((s, d) => graft.streaming.StreamReplay.customStateStoreReplay(s, d)),
    "dsv2_delete_audit" ->
      ((s, d) => graft.sources.CatalogAudit.deleteAudit(s, d)),
    "dsv2_check_audit" ->
      ((s, d) => graft.sources.CatalogAudit.checkAudit(s, d)),
  )

  /** One SQL string, two engines (see `ansi_sql_parity`): restricted
    * to the ANSI intersection both parse identically — EXTRACT, CASE,
    * windows over aggregates, explicit BIGINT casts where the
    * engines' natural result types differ.
    */
  private val AnsiParitySql: String =
    """SELECT o_orderpriority AS priority,
              CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
              COUNT(*) AS n_orders,
              ROUND(SUM(o_totalprice), 2) AS total,
              CAST(RANK() OVER (
                PARTITION BY CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT)
                ORDER BY ROUND(SUM(o_totalprice), 2) DESC, o_orderpriority)
                AS BIGINT) AS rnk
       FROM orders
       GROUP BY o_orderpriority, EXTRACT(YEAR FROM o_orderdate)"""

  /** Shared DuckDB CTE: the reference tokenizer over `documents`
    * (lowercase, whitespace split, strip non-[a-z] edges, drop empties).
    */
  private val TokCte =
    """WITH toks AS (
         SELECT doc_id,
           list_filter(list_transform(string_split_regex(lower(text), '\s+'),
             t -> regexp_replace(t, '(^[^a-z]+|[^a-z]+$)', '', 'g')),
             t -> len(t) > 0) AS ts
         FROM documents)"""

  /** Shared customer⇄supplier graph CTEs (mirrors
    * `Graph.customerSupplierEdges`). MATERIALIZED: the iterative oracles
    * below reference `edges` many times and DuckDB would otherwise
    * re-open the parquet per reference.
    */
  private val GraphCte =
    """pairs AS MATERIALIZED (
         SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000 AS sup
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
       edges AS MATERIALIZED (
         SELECT c AS src, sup AS dst FROM pairs
         UNION ALL SELECT sup, c FROM pairs),
       nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges)"""

  /** One unrolled hash-walk step (mirrors `Graph.hashWalks`): from
    * w{t-1}'s (seed, node), join neighbors, pick argmin of the affine
    * + 2×(multiply, xorshift) mix on the 2^40 grid, dst tie-break. */
  private def walkStepSql(t: Int): String =
    s"""w$t AS (
         SELECT seed, dst AS node FROM (
           SELECT seed, dst,
             row_number() OVER (PARTITION BY seed ORDER BY h, dst) AS rn
           FROM (
             SELECT seed, dst, xor(m2, m2 // 1048576) AS h FROM (
               SELECT seed, dst,
                 (x1 * 8388593) % 1099511627776 AS m2 FROM (
                 SELECT seed, dst, xor(m1, m1 // 1048576) AS x1 FROM (
                   SELECT seed, dst,
                     (z0 * 8388593) % 1099511627776 AS m1 FROM (
                     SELECT w.seed AS seed, e.dst AS dst,
                       (w.node * 1000003 + $t * 999983 + e.dst)
                         % 1099511627776 AS z0
                     FROM w${t - 1} w
                     JOIN edges e ON w.node = e.src))))))
         WHERE rn = 1)"""

  /** One unrolled hitting-time value-iteration round (mirrors
    * `Events.hittingTime`): H'(s) = 10⁶ + (Σ_t c_st·H(t)) div tc_s,
    * target pinned at 0 — exact integers, identical both engines. */
  private def hitStepSql(i: Int): String =
    s"""h$i AS (
         SELECT tr.cur AS state,
           CASE WHEN tr.cur = 'purchase' THEN 0
             ELSE 1000000 + CAST(sum(tr.c * p.h6) // min(tt.tc)
               AS BIGINT) END AS h6
         FROM tr JOIN h${i - 1} p ON tr.nxt = p.state
         JOIN tc tt ON tt.cur = tr.cur
         GROUP BY tr.cur)"""

  /** One HyperANF register-merge round (mirrors
    * `Graph.effectiveDiameter`): registers-as-rows, MAX along edges
    * plus self, m·|E| messages. */
  private def anfRoundSql(t: Int): String =
    s"""r$t AS (
         SELECT id, bucket, max(mj)::BIGINT AS mj FROM (
           SELECT e.src AS id, r.bucket, r.mj
           FROM edges e JOIN r${t - 1} r ON e.dst = r.id
           UNION ALL SELECT id, bucket, mj FROM r${t - 1})
         GROUP BY 1, 2)"""

  /** Round-`t` neighborhood-function estimate: the `hll_error_audit`
    * formula per node (dense v via 16 − present), 1e-6-quantized
    * BEFORE the order-free global sum. */
  private def anfEstSql(t: Int): String =
    s"""est$t AS (
         SELECT $t::BIGINT AS t, sum(e6)::BIGINT AS n6 FROM (
           SELECT CAST(floor((CASE WHEN 0.673 * 256.0 / ssum <= 40.0
                 AND v > 0 THEN 16.0 * ln(16.0 / v)
               ELSE 0.673 * 256.0 / ssum END) * 1e6 + 0.5) AS BIGINT)
             AS e6
           FROM (SELECT id,
                   sum(pow(2.0, -mj::DOUBLE)) + (16 - count(*))
                     AS ssum,
                   (16 - count(*))::BIGINT AS v
                 FROM r$t GROUP BY id)))"""

  /** Key-derived deterministic grid coordinates (mirrors
    * `Spatial.mix40`): affine + 2×(multiply, xorshift) on the 2^40
    * grid, salted per axis, reduced mod `grid`. Emits
    * `SELECT <key> AS id<extra>, … AS x, … AS y FROM <src>`. */
  private def gridCoordsSql(src: String, key: String, extraDef: String,
                            extraRef: String, saltX: Long, saltY: Long,
                            grid: Long): String =
    s"""SELECT id$extraRef, h1 % $grid AS x, h2 % $grid AS y FROM (
          SELECT id$extraRef, xor(m12, m12 // 1048576) AS h1,
                 xor(m22, m22 // 1048576) AS h2 FROM (
            SELECT id$extraRef, (x11 * 8388593) % 1099511627776 AS m12,
                   (x21 * 8388593) % 1099511627776 AS m22 FROM (
              SELECT id$extraRef, xor(m11, m11 // 1048576) AS x11,
                     xor(m21, m21 // 1048576) AS x21 FROM (
                SELECT id$extraRef,
                       (z1 * 8388593) % 1099511627776 AS m11,
                       (z2 * 8388593) % 1099511627776 AS m21 FROM (
                  SELECT $key::BIGINT AS id$extraDef,
                    ($key::BIGINT * 1000003 + $saltX)
                      % 1099511627776 AS z1,
                    ($key::BIGINT * 1000003 + $saltY)
                      % 1099511627776 AS z2
                  FROM $src)))))"""

  /** Media fake-decode hash (mirrors `Multimodal.fakeDecode`): base-31
    * fold of the blob bytes mod 2^40, plus kind/byte-length columns.
    */
  private val MediaHashCte =
    """WITH mh AS (
         SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
             ELSE 'video' END AS kind,
           octet_length(text::BLOB) AS n_bytes,
           list_reduce(
             list_prepend(7::BIGINT,
               list_transform(string_split(text, ''), c -> ord(c)::BIGINT)),
             (acc, c) -> (acc * 31 + c) % 1099511627776) AS hv
         FROM documents)"""

  /** Unrolled k-core peeling (mirrors `Graph.kCore`: same fixed round
    * count, same restrict-then-recount per round). */
  private def kCoreOracleSql(k: Int, rounds: Int): String = {
    val blocks = (1 to rounds).flatMap { r =>
      Seq(
        s"d$r AS MATERIALIZED (SELECT e.src AS id, count(*) AS c" +
          s" FROM edges e JOIN a${r - 1} s ON e.src = s.id" +
          s" JOIN a${r - 1} t ON e.dst = t.id GROUP BY e.src)",
        s"a$r AS MATERIALIZED (SELECT id FROM d$r WHERE c >= $k)")
    }
    s"WITH $GraphCte,\n" +
      "a0 AS MATERIALIZED (SELECT id FROM nodes),\n" +
      blocks.mkString(",\n") + "\n" +
      s"SELECT e.src AS id, count(*) AS core_deg FROM edges e" +
      s" JOIN a$rounds s ON e.src = s.id JOIN a$rounds t ON e.dst = t.id" +
      " GROUP BY e.src"
  }

  /** Unrolled k-truss peeling (mirrors `Graph.kTruss`: same projection
    * quantile cut, fixed rounds of support-recount-then-drop, final
    * recounted support histogram). Triangle enumeration here is the
    * plain sorted-triple join over (u < v) edges — set-equivalent to
    * the engine's degree-oriented wedge join, each triangle exactly
    * once (DuckDB doesn't need the orientation's fan-out bound at
    * oracle scale). */
  private def kTrussOracleSql(k: Int, rounds: Int, q: Double): String = {
    def tri(r: Int) =
      s"t$r AS MATERIALIZED (SELECT e1.u AS a, e1.v AS b, e2.v AS c" +
        s" FROM e$r e1 JOIN e$r e2 ON e2.u = e1.v" +
        s" JOIN e$r e3 ON e3.u = e1.u AND e3.v = e2.v)"
    def sup(r: Int) =
      s"s$r AS MATERIALIZED (SELECT u, v, count(*)::BIGINT AS sup FROM (" +
        s"SELECT a AS u, b AS v FROM t$r" +
        s" UNION ALL SELECT a, c FROM t$r" +
        s" UNION ALL SELECT b, c FROM t$r) GROUP BY 1, 2)"
    val blocks = (0 until rounds).flatMap { r =>
      Seq(tri(r), sup(r),
        s"e${r + 1} AS MATERIALIZED (SELECT e.u, e.v FROM e$r e" +
          s" LEFT JOIN s$r s ON s.u = e.u AND s.v = e.v" +
          s" WHERE coalesce(s.sup, 0) >= ${k - 2})")
    }
    "WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),\n" +
      "co AS MATERIALIZED (SELECT a.l_suppkey AS s1, b.l_suppkey AS s2," +
      " count(*) AS c FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey" +
      " AND a.l_suppkey < b.l_suppkey GROUP BY 1, 2),\n" +
      s"thr AS (SELECT quantile_cont(c, $q) AS t FROM co),\n" +
      "e0 AS MATERIALIZED (SELECT s1 AS u, s2 AS v FROM co, thr" +
      " WHERE c >= t),\n" +
      blocks.mkString(",\n") + ",\n" +
      tri(rounds) + ",\n" + sup(rounds) + "\n" +
      s"SELECT -1::BIGINT AS support, count(*)::BIGINT AS n_edges" +
      s" FROM e$rounds UNION ALL " +
      "SELECT coalesce(s.sup, 0)::BIGINT AS support," +
      s" count(*)::BIGINT AS n_edges FROM e$rounds e" +
      s" LEFT JOIN s$rounds s ON s.u = e.u AND s.v = e.v" +
      " GROUP BY 1 ORDER BY 1"
  }

  /** Unrolled global-PageRank rounds (mirrors `Graph.pagerankGlobal`:
    * uniform teleport, no dangling mass on the symmetrized graph,
    * top-k cut on the 9-dp rounded rank with id tiebreak). */
  private def pagerankOracleSql(rounds: Int, k: Int): String = {
    val blocks = (1 to rounds).map { r =>
      s"r$r AS MATERIALIZED (SELECT e.dst AS id," +
        s" 0.15 / (SELECT n FROM nn) + 0.85 * sum(p.r / od.od) AS r" +
        s" FROM edges e JOIN od ON e.src = od.src" +
        s" JOIN r${r - 1} p ON p.id = e.src GROUP BY e.dst)"
    }
    s"WITH $GraphCte,\n" +
      "od AS MATERIALIZED (SELECT src, count(*)::BIGINT AS od" +
      " FROM edges GROUP BY src),\n" +
      "nn AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM nodes),\n" +
      "r0 AS MATERIALIZED (SELECT id, 1.0 / (SELECT n FROM nn) AS r" +
      " FROM nodes),\n" +
      blocks.mkString(",\n") + "\n" +
      s"SELECT id, round(r, 9) AS rank FROM r$rounds" +
      s" ORDER BY round(r, 9) DESC, id LIMIT $k"
  }

  /** Unrolled Katz walk-count rounds (mirrors `Graph.katzCentrality`:
    * exact INTEGER walk counts w_t(j) = Σ_{i→j} w_{t-1}(i), score =
    * Σ α^t·w_t as one fixed expression whose α^t literals are the
    * SAME doubles Scala's math.pow produced on the Spark side —
    * shortest-repr round-trip makes them bit-identical in DuckDB). */
  private def katzOracleSql(rounds: Int, alpha: Double, k: Int): String = {
    val blocks = (1 to rounds).map { t =>
      s"w$t AS MATERIALIZED (SELECT e.dst AS id," +
        s" sum(p.w)::HUGEINT AS w" +
        s" FROM edges e JOIN w${t - 1} p ON p.id = e.src GROUP BY e.dst)"
    }
    val joins = (1 to rounds)
      .map(t => s"LEFT JOIN w$t ON w$t.id = n.id").mkString(" ")
    val score = (1 to rounds)
      .map(t => s"${math.pow(alpha, t)} * coalesce(w$t.w, 0)::DOUBLE")
      .mkString(" + ")
    s"WITH $GraphCte,\n" +
      "w0 AS MATERIALIZED (SELECT id, 1::HUGEINT AS w FROM nodes),\n" +
      blocks.mkString(",\n") + "\n" +
      s"SELECT n.id, floor(($score) * 1e9 + 0.5) / 1e9 AS katz" +
      s" FROM nodes n $joins" +
      s" ORDER BY katz DESC, n.id LIMIT $k"
  }

  /** Unrolled Newton steps for the Poisson GLM trend (mirrors
    * `Events.poissonGlmTrend`: fitted means on the 1e-6 integer grid
    * per step, exact gradient/Hessian sums, 1e-9 re-quantized state). */
  private def poissonOracleSql(rounds: Int): String = {
    val blocks = (1 to rounds).flatMap { r =>
      Seq(
        s"m$r AS (SELECT t, y, a, b," +
          s" floor(exp(a + b * t) * 1e6 + 0.5)::BIGINT AS m6" +
          s" FROM dense CROSS JOIN s${r - 1})",
        s"g$r AS (SELECT a, b, sum(m6)::BIGINT AS s0," +
          " sum(m6 * t)::BIGINT AS s1," +
          " sum(m6::HUGEINT * t * t)::HUGEINT AS s2," +
          " sum(y * 1000000)::BIGINT AS y0," +
          " sum(y * t * 1000000)::BIGINT AS y1" +
          s" FROM m$r GROUP BY a, b)",
        s"s$r AS (SELECT" +
          " floor((a + (s2::DOUBLE * (y0 - s0)::DOUBLE -" +
          " s1::DOUBLE * (y1 - s1)::DOUBLE) /" +
          " (CASE WHEN s0::HUGEINT * s2 - s1::HUGEINT * s1 = 0 THEN 1" +
          " ELSE s0::HUGEINT * s2 - s1::HUGEINT * s1 END)::DOUBLE)" +
          " * 1e9 + 0.5) / 1e9 AS a," +
          " floor((b + (s0::DOUBLE * (y1 - s1)::DOUBLE -" +
          " s1::DOUBLE * (y0 - s0)::DOUBLE) /" +
          " (CASE WHEN s0::HUGEINT * s2 - s1::HUGEINT * s1 = 0 THEN 1" +
          " ELSE s0::HUGEINT * s2 - s1::HUGEINT * s1 END)::DOUBLE)" +
          s" * 1e9 + 0.5) / 1e9 AS b FROM g$r)")
    }
    """WITH daily0 AS (
         SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                count(*)::BIGINT AS y
         FROM events GROUP BY 1),
       spine AS (
         SELECT unnest(range((SELECT min(day) FROM daily0),
                             (SELECT max(day) FROM daily0) + 1)) AS day),
       dense AS (
         SELECT (s.day - (SELECT min(day) FROM daily0))::BIGINT AS t,
                coalesce(y, 0)::BIGINT AS y
         FROM spine s LEFT JOIN daily0 USING (day)),
       st AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS sy
              FROM dense),
       s0 AS (SELECT floor(ln(greatest(sy::DOUBLE / n::DOUBLE, 1.0))
                * 1e9 + 0.5) / 1e9 AS a, 0.0 AS b FROM st),
    """ + blocks.mkString(",\n") + "\n" +
      s"SELECT n AS n_days, floor(a * 1e6 + 0.5) / 1e6 AS a_intercept," +
      " floor(b * 1e6 + 0.5) / 1e6 AS b_slope," +
      " floor(exp(b) * 1e6 + 0.5) / 1e6 AS rate_ratio" +
      s" FROM s$rounds, st"
  }

  /** Unrolled greedy facility-location selection (mirrors
    * `Similarity.facilityLocationSelect`: 1e-6 clamped cosine grid,
    * exact integer marginal gains, argmax ties on the smaller id). */
  private def facilityOracleSql(k: Int, pool: Int): String = {
    val blocks = (1 to k).flatMap { r =>
      val notIn = if (r == 1) ""
      else " WHERE s.c NOT IN (" +
        (1 until r).map(i => s"SELECT c FROM p$i")
          .mkString(" UNION ALL ") + ")"
      Seq(
        s"g$r AS MATERIALIZED (SELECT s.c," +
          s" sum(greatest(u.cur, s.s9))::BIGINT AS gain" +
          s" FROM sims s JOIN cur${r - 1} u USING (d)$notIn" +
          " GROUP BY s.c)",
        s"p$r AS MATERIALIZED (SELECT c, gain FROM g$r" +
          " ORDER BY gain DESC, c LIMIT 1)",
        s"cur$r AS MATERIALIZED (SELECT u.d," +
          " greatest(u.cur, s.s9)::BIGINT AS cur" +
          s" FROM cur${r - 1} u JOIN sims s ON s.d = u.d" +
          s" AND s.c = (SELECT c FROM p$r))")
    }
    val out = (1 to k).map(r =>
      s"SELECT $r::INT AS round, c::BIGINT AS selected_vec," +
        " floor(gain::DOUBLE / nn::DOUBLE / 1e6 * 1e6 + 0.5) / 1e6" +
        s" AS mean_coverage FROM p$r, nn")
      .mkString(" UNION ALL ")
    "WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v" +
      " FROM embeddings),\n" +
      s"pool AS (SELECT vec_id AS c, v AS pv FROM emb" +
      s" WHERE vec_id < $pool),\n" +
      "sims AS MATERIALIZED (SELECT e.vec_id AS d, p.c," +
      " greatest(0, floor(list_cosine_similarity(e.v, p.pv) * 1e6" +
      " + 0.5)::BIGINT) AS s9 FROM emb e CROSS JOIN pool p),\n" +
      "nn AS (SELECT count(*)::BIGINT AS nn FROM emb),\n" +
      "cur0 AS (SELECT vec_id AS d, 0::BIGINT AS cur FROM emb),\n" +
      blocks.mkString(",\n") + "\n" +
      s"SELECT * FROM ($out) ORDER BY round"
  }

  /** Unrolled truncated-power-iteration eigenvector centrality
    * (mirrors `Graph.eigenvectorCentrality`: exact HUGEINT walk
    * counts, single L1 normalization at the end, 9-dp top-k cut). */
  private def eigenvectorOracleSql(rounds: Int, k: Int): String = {
    val blocks = (1 to rounds).map { t =>
      s"w$t AS MATERIALIZED (SELECT e.dst AS id," +
        s" sum(p.w)::HUGEINT AS w" +
        s" FROM edges e JOIN w${t - 1} p ON p.id = e.src GROUP BY e.dst)"
    }
    s"WITH $GraphCte,\n" +
      "w0 AS MATERIALIZED (SELECT id, 1::HUGEINT AS w FROM nodes),\n" +
      blocks.mkString(",\n") + ",\n" +
      s"lastw AS (SELECT n.id, coalesce(w$rounds.w, 0)::HUGEINT AS w" +
      s" FROM nodes n LEFT JOIN w$rounds ON w$rounds.id = n.id),\n" +
      "tot AS (SELECT sum(w)::HUGEINT AS sw FROM lastw)\n" +
      "SELECT id, floor(w::DOUBLE / sw::DOUBLE * 1e9 + 0.5) / 1e9" +
      s" AS ec FROM lastw, tot ORDER BY ec DESC, id LIMIT $k"
  }

  /** Unrolled WEIGHTED-PPR rounds (mirrors `Graph.weightedPpr`: link
    * multiplicity weights, scatter r·w/W(u), no dangling mass on the
    * symmetrized graph, 9-dp top-k cut). */
  private def weightedPprOracleSql(source: Long, rounds: Int,
                                   k: Int): String = {
    val blocks = (1 to rounds).flatMap { r =>
      Seq(
        s"g$r AS MATERIALIZED (SELECT e.dst AS id," +
          s" sum(t.r * e.w / ow.wout) AS recv" +
          s" FROM t${r - 1} t JOIN we e ON e.src = t.id" +
          s" JOIN outw ow ON ow.src = t.id GROUP BY e.dst)",
        s"t$r AS MATERIALIZED (SELECT v.id," +
          s" 0.85 * coalesce(g.recv, 0.0) +" +
          s" CASE WHEN v.id = $source THEN 0.15 ELSE 0.0 END AS r" +
          s" FROM wnodes v LEFT JOIN g$r g USING (id))")
    }
    """WITH pairsm AS MATERIALIZED (
         SELECT o_custkey AS c, l_suppkey + 1000000 AS sup
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
       em AS (SELECT c AS src, sup AS dst FROM pairsm
              UNION ALL SELECT sup, c FROM pairsm),
       we AS MATERIALIZED (
         SELECT src, dst, count(*)::BIGINT AS w FROM em GROUP BY 1, 2),
       outw AS MATERIALIZED (
         SELECT src, sum(w)::BIGINT AS wout FROM we GROUP BY src),
       wnodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM we),
       t0 AS (SELECT id,""" +
      s" CASE WHEN id = $source THEN 1.0 ELSE 0.0 END AS r FROM wnodes),\n" +
      blocks.mkString(",\n") + "\n" +
      s"SELECT id, round(r, 9) AS rank FROM t$rounds" +
      s" ORDER BY round(r, 9) DESC, id LIMIT $k"
  }

  /** Unrolled BFS-with-path-counts rounds (mirrors
    * `Graph.shortestPathCounts`: per hop, unvisited neighbors sum
    * their frontier parents' σ). */
  private def spcOracleSql(source: Long, hops: Int): String = {
    val blocks = (1 to hops).flatMap { h =>
      Seq(
        s"f$h AS MATERIALIZED (SELECT e.dst AS id, $h AS dist," +
          s" sum(f.n_paths)::BIGINT AS n_paths" +
          s" FROM f${h - 1} f JOIN edges e ON e.src = f.id" +
          s" WHERE NOT EXISTS (SELECT 1 FROM v${h - 1} v WHERE v.id = e.dst)" +
          s" GROUP BY e.dst)",
        s"v$h AS MATERIALIZED (SELECT id FROM v${h - 1}" +
          s" UNION ALL SELECT id FROM f$h)")
    }
    s"WITH $GraphCte,\n" +
      s"f0 AS (SELECT CAST($source AS BIGINT) AS id, 0 AS dist," +
      " 1::BIGINT AS n_paths),\n" +
      "v0 AS (SELECT id FROM f0),\n" +
      blocks.mkString(",\n") + "\n" +
      (0 to hops).map(h => s"SELECT id, dist, n_paths FROM f$h")
        .mkString(" UNION ALL ")
  }

  /** Sampled Brandes betweenness (W241): per source an unrolled
    * forward-BFS-with-σ (the spcOracleSql blocks) plus the backward
    * dependency accumulation level by level on the 1e-9 LONG grid —
    * the exact arithmetic `Graph.betweennessSample` runs.
    */
  private def betweennessOracleSql(sources: Seq[Long], hops: Int,
                                   k: Int): String = {
    val perSource = sources.zipWithIndex.map { case (src, si) =>
      val fwd = (1 to hops).flatMap { h =>
        Seq(
          s"s${si}f$h AS MATERIALIZED (SELECT e.dst AS id," +
            s" sum(f.n_paths)::BIGINT AS n_paths" +
            s" FROM s${si}f${h - 1} f JOIN edges e ON e.src = f.id" +
            s" WHERE NOT EXISTS (SELECT 1 FROM s${si}v${h - 1} v" +
            s" WHERE v.id = e.dst)" +
            s" GROUP BY e.dst)",
          s"s${si}v$h AS MATERIALIZED (SELECT id FROM s${si}v${h - 1}" +
            s" UNION ALL SELECT id FROM s${si}f$h)")
      }
      val dH = s"s${si}d$hops AS (SELECT id, 0::BIGINT AS di" +
        s" FROM s${si}f$hops)"
      val bwd = ((hops - 1) to 0 by -1).flatMap { lvl =>
        Seq(
          s"s${si}du$lvl AS MATERIALIZED (SELECT f.id," +
            s" sum(CAST(floor(f.n_paths::DOUBLE / n.n_paths" +
            s" * (1000000000 + n.di) + 0.5) AS BIGINT))::BIGINT AS du" +
            s" FROM s${si}f$lvl f JOIN edges e ON e.src = f.id" +
            s" JOIN (SELECT nf.id, nf.n_paths, nd.di" +
            s" FROM s${si}f${lvl + 1} nf" +
            s" JOIN s${si}d${lvl + 1} nd USING (id)) n ON n.id = e.dst" +
            s" GROUP BY f.id)",
          s"s${si}d$lvl AS MATERIALIZED (SELECT f.id," +
            s" coalesce(u.du, 0)::BIGINT AS di" +
            s" FROM s${si}f$lvl f LEFT JOIN s${si}du$lvl u USING (id))")
      }
      val header =
        s"s${si}f0 AS (SELECT CAST($src AS BIGINT) AS id," +
          s" 1::BIGINT AS n_paths),\n" +
          s"s${si}v0 AS (SELECT id FROM s${si}f0)"
      (header +: (fwd ++ Seq(dH) ++ bwd)).mkString(",\n")
    }
    val unions = sources.indices.flatMap { si =>
      ((hops - 1) to 0 by -1).map { lvl =>
        s"SELECT id, di FROM s${si}d$lvl WHERE id <> ${sources(si)}"
      }
    }.mkString(" UNION ALL ")
    s"WITH $GraphCte,\n" + perSource.mkString(",\n") + ",\n" +
      s"alld AS ($unions)\n" +
      "SELECT id, floor(sum(di)::DOUBLE / 1e9 * 1e6 + 0.5) / 1e6" +
      " AS betweenness" +
      s" FROM alld GROUP BY id ORDER BY betweenness DESC, id LIMIT $k"
  }

  /** Unrolled HITS rounds (mirrors `Graph.hits`: directed c→sup pairs,
    * L1 normalization per half-round, top-k cut on the 9-dp rounded
    * score with id tiebreak). */
  private def hitsOracleSql(rounds: Int, k: Int): String = {
    val blocks = (1 to rounds).flatMap { r =>
      Seq(
        s"ar$r AS MATERIALIZED (SELECT sup, sum(h) AS a FROM pairs p" +
          s" JOIN h${r - 1} USING (c) GROUP BY sup)",
        s"a$r AS MATERIALIZED (SELECT sup," +
          s" a / (SELECT sum(a) FROM ar$r) AS a FROM ar$r)",
        s"hr$r AS MATERIALIZED (SELECT c, sum(a) AS h FROM pairs p" +
          s" JOIN a$r USING (sup) GROUP BY c)",
        s"h$r AS MATERIALIZED (SELECT c," +
          s" h / (SELECT sum(h) FROM hr$r) AS h FROM hr$r)")
    }
    s"WITH $GraphCte,\n" +
      "h0 AS (SELECT DISTINCT c, 1.0::DOUBLE AS h FROM pairs),\n" +
      blocks.mkString(",\n") + "\n" +
      "SELECT * FROM (SELECT 'auth' AS kind, sup AS id," +
      s" round(a, 9) AS score FROM a$rounds" +
      s" ORDER BY round(a, 9) DESC, sup LIMIT $k)\n" +
      "UNION ALL\n" +
      "SELECT * FROM (SELECT 'hub' AS kind, c AS id," +
      s" round(h, 9) AS score FROM h$rounds" +
      s" ORDER BY round(h, 9) DESC, c LIMIT $k)"
  }

  /** Personalized-PageRank oracle: the 8 scatter/gather+teleport rounds
    * unrolled as chained CTEs (SQL can't loop, but a FIXED iteration
    * count is just 2·iters CTE blocks). Same linear-space arithmetic as
    * `Graph.personalizedPageRank`, so values agree to well below the
    * 9-dp rounding both sides apply.
    */
  private def pprOracleSql(sources: Seq[Long], iters: Int, k: Int,
                           danglingFree: Boolean = false): String = {
    val n = sources.size
    val t0cols = sources.zipWithIndex.map { case (s, i) =>
      s"CASE WHEN id = $s THEN 1.0 ELSE 0.0 END AS r$i" }.mkString(", ")
    val blocks = (1 to iters).flatMap { it =>
      val g = s"g$it AS MATERIALIZED (SELECT e.dst AS id, " +
        (0 until n).map(i => s"sum(t.r$i / od.od) AS r$i").mkString(", ") +
        s" FROM t${it - 1} t JOIN edges e ON e.src = t.id" +
        s" JOIN outdeg od ON od.src = t.id GROUP BY e.dst)"
      // dangling-free graphs drop the missing-mass term in lockstep
      // with Graph.personalizedPageRank's fast path
      val miss = (i: Int) =>
        if (danglingFree) ""
        else s" + 0.85 * (1 - (SELECT sum(r$i) FROM g$it))"
      val t = s"t$it AS MATERIALIZED (SELECT v.id, " +
        sources.zipWithIndex.map { case (s, i) =>
          s"0.85 * coalesce(g.r$i, 0) + CASE WHEN v.id = $s THEN" +
            s" 0.15${miss(i)} ELSE 0 END AS r$i"
        }.mkString(", ") +
        s" FROM nodes v LEFT JOIN g$it g USING (id))"
      Seq(g, t)
    }
    val tops = sources.zipWithIndex.map { case (s, i) =>
      s"(SELECT $s AS source, id, round(r$i, 9) AS rank FROM t$iters" +
        s" ORDER BY round(r$i, 9) DESC, id LIMIT $k)" }.mkString(" UNION ALL ")
    s"WITH $GraphCte,\n" +
      "outdeg AS MATERIALIZED (SELECT src, count(*) AS od FROM edges GROUP BY src),\n" +
      s"t0 AS (SELECT id, $t0cols FROM nodes),\n" +
      blocks.mkString(",\n") + "\n" + tops
  }

  /** SGD-tier oracles: the sequential fold IS SQL-expressible — a
    * recursive CTE carries the dense weight vector (global vocabulary
    * order) and replays the reference update rule one instance per
    * recursion step. Requires the oracle-replicable poly-hash
    * featurization (`Ml.featurize`), whose base-31 fold mod 2^40 is
    * restated inline. Weights/scores round to 6dp both sides: the SQL
    * fold sums each score in vocabulary order, the Scala fold in token
    * order (~1e-15 relative drift over 500 steps). The shuffled
    * trainer replays too: its permutation is a seeded multiplicative
    * hash of docid (see `Ml.trainSgd`), not engine-private randomness.
    */
  private def sgdFoldCte(name: String, steps: String): String =
    s"""$name AS (
         SELECT 0::BIGINT AS step, (SELECT w FROM w0) AS w
         UNION ALL
         SELECT f.step + 1,
           list_transform(g.l, i -> f.w[i] +
             ((d.label - 1.0/(1.0 + exp(-list_sum(
                 list_transform(g.l, j -> f.w[j] * d.cv[j]))))) * 0.002) * d.cv[i])
         FROM $name f JOIN $steps d ON d.step = f.step + 1 CROSS JOIN gs g)"""

  /** Shared SGD CTE prefix: featurization, global vocabulary, per-doc
    * dense count vectors. `WITH RECURSIVE` headed so callers can append
    * `sgdFoldCte` blocks.
    */
  private def sgdCommonCte: String =
    s"""WITH RECURSIVE ${TokCte.stripPrefix("WITH ")},
       inst AS MATERIALIZED (
         SELECT t.doc_id,
           (CASE WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END)::DOUBLE AS label,
           list_transform(t.ts, s -> list_reduce(
               list_prepend(0::BIGINT,
                 list_transform(string_split(s, ''), c -> ord(c)::BIGINT)),
               (h, c) -> (h * 31 + c) % 1099511627776) % 10007) AS feats
         FROM toks t JOIN documents d USING (doc_id)),
       vord AS MATERIALIZED (
         SELECT f AS feature, row_number() OVER (ORDER BY f) AS idx
         FROM (SELECT DISTINCT unnest(feats) AS f FROM inst)),
       dv AS MATERIALIZED (
         SELECT i.doc_id, any_value(i.label) AS label,
                list(coalesce(c.cnt, 0.0) ORDER BY v.idx) AS cv
         FROM inst i CROSS JOIN vord v
         LEFT JOIN (SELECT doc_id, f, count(*)::DOUBLE AS cnt
                    FROM (SELECT doc_id, unnest(feats) AS f FROM inst)
                    GROUP BY doc_id, f) c
           ON c.doc_id = i.doc_id AND c.f = v.feature
         GROUP BY i.doc_id),
       gs AS MATERIALIZED (
         SELECT list_transform(range(1, (SELECT count(*)::INT FROM vord) + 1),
                               x -> x::BIGINT) AS l),
       w0 AS (SELECT list_transform((SELECT l FROM gs), x -> 0.0::DOUBLE) AS w)"""

  /** Per-model score of every document against a fold's final weights. */
  private def sgdScoreExpr(w: String): String =
    s"list_sum(list_transform(g.l, j -> $w.w[j] * d.cv[j]))"

  /** k-fold CV (W239): per fold, a recursive-CTE training on
    * `doc_id % folds <> f` and the rank-sum AUC of the held-out slice —
    * the `sgd_train` + `sgd_auc` machinery, parameterized by fold.
    */
  private def cvMetricsSql(folds: Int = 3): String = {
    val blocks = (0 until folds).map { f =>
      s"""steps_tr$f AS MATERIALIZED (
           SELECT row_number() OVER (ORDER BY doc_id) AS step, label, cv
           FROM dv WHERE doc_id % $folds <> $f),
         ${sgdFoldCte(s"fold$f", s"steps_tr$f")},
         wf$f AS (SELECT w FROM fold$f ORDER BY step DESC LIMIT 1),
         sc$f AS MATERIALIZED (
           SELECT round(${sgdScoreExpr(s"wf$f")}, 6) AS s,
             CASE WHEN d.label = 1 THEN 1 ELSE 0 END AS y
           FROM dv d CROSS JOIN wf$f CROSS JOIN gs g
           WHERE d.doc_id % $folds = $f),
         g$f AS (SELECT s, sum(y) AS p, sum(1 - y) AS n
                 FROM sc$f GROUP BY s),
         c$f AS (SELECT s, p, n,
             coalesce(sum(n) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED
               PRECEDING AND 1 PRECEDING), 0) AS cumn FROM g$f)"""
    }.mkString(",\n       ")
    val sels = (0 until folds).map { f =>
      s"""SELECT $f AS fold,
           (SELECT count(*) FROM sc$f)::BIGINT AS n_test,
           (SELECT sum(y) FROM sc$f)::BIGINT AS n_pos,
           round(sum(p * (cumn + n / 2.0)) / (sum(p) * sum(n)), 6) AS auc
         FROM c$f"""
    }.mkString(" UNION ALL ")
    s"$sgdCommonCte,\n       $blocks\n       $sels ORDER BY fold"
  }

  /** Unrolled Lloyd's k-means (mirrors `Similarity.kmeans`): `iters`
    * assignment CTEs with a centroid re-estimation CTE between each.
    * `list_distance` (sqrt'd Euclidean) vs Spark's squared sum is
    * argmin-invariant; ties break to the lower cid on both sides.
    */
  private def kmeansOracleSql(k: Int = 4, iters: Int = 3): String = {
    def assign(i: Int) = {
      val prev = s"c${i - 1}"
      s"""a$i AS (SELECT vec_id, v, cid AS cluster FROM (
           SELECT vecs.vec_id, vecs.v, $prev.cid,
             row_number() OVER (PARTITION BY vecs.vec_id
               ORDER BY list_distance(vecs.v, $prev.c), $prev.cid) AS rn
           FROM vecs CROSS JOIN $prev) WHERE rn = 1)"""
    }
    def cent(i: Int) =
      s"""c$i AS (SELECT cluster AS cid, list(av ORDER BY pos) AS c FROM (
           SELECT cluster, e.pos AS pos, avg(e.val) AS av FROM (
             SELECT cluster, unnest(list_transform(range(1, len(v) + 1),
               i -> {'pos': i, 'val': v[i]})) AS e FROM a$i)
           GROUP BY cluster, e.pos) GROUP BY cluster)"""
    val chain = (1 to iters).flatMap(i =>
      Seq(assign(i)) ++ (if (i < iters) Seq(cent(i)) else Nil)).mkString(",\n")
    s"""WITH vecs AS MATERIALIZED (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        c0 AS (SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cid,
                      v AS c
               FROM (SELECT vec_id, v FROM vecs ORDER BY vec_id LIMIT $k)),
        $chain
        SELECT vec_id, cluster FROM a$iters"""
  }

  /** Unrolled per-subspace PQ build (mirrors `Similarity.pqCodebook`):
    * 1e-6-grid components make every distance fold exact integer
    * arithmetic; one Lloyd round re-estimates centroids ONTO the grid
    * (floor(Σ/n + 0.5)); MSE from exact per-row squared errors.
    */
  private def pqOracleSql(m: Int = 2, k: Int = 4): String = {
    val dim = 64
    val sw = dim / m
    def dist(wExpr: String, cExpr: String) =
      s"""list_reduce(list_prepend(0.0, list_transform(range(1,
         ${sw + 1}), i -> ($wExpr[i] - $cExpr[i]) *
         ($wExpr[i] - $cExpr[i]))), (a, b) -> a + b)"""
    val subs = (0 until m).map { sub =>
      val lo = sub * sw + 1
      val hi = sub * sw + sw
      s"""vs$sub AS (SELECT vec_id, v[$lo:$hi] AS w FROM vq),
         cb0_$sub AS (
           SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cid,
                  w AS c
           FROM (SELECT vec_id, w FROM vs$sub ORDER BY vec_id LIMIT $k)),
         a0_$sub AS (
           SELECT vec_id, w, cid AS code FROM (
             SELECT vec_id, w, cid,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY dist, cid) AS rn
             FROM (SELECT vecs.vec_id, vecs.w, cb.cid,
                     ${dist("vecs.w", "cb.c")} AS dist
                   FROM vs$sub vecs CROSS JOIN cb0_$sub cb))
           WHERE rn = 1),
         cb1_$sub AS (
           SELECT code AS cid, list(mq ORDER BY pos) AS c FROM (
             SELECT code, pos, floor(sum(x) / count(*) + 0.5) AS mq
             FROM (SELECT code, unnest(w) AS x,
                     generate_subscripts(w, 1) AS pos
                   FROM a0_$sub)
             GROUP BY code, pos)
           GROUP BY code),
         r_$sub AS (
           SELECT $sub AS subspace, code, count(*)::BIGINT AS n_vectors,
             floor(sum(d2)::DOUBLE / count(*) / 1e12 * 1e6 + 0.5) / 1e6
               AS recon_mse
           FROM (
             SELECT vec_id, cid AS code, CAST(dist AS BIGINT) AS d2 FROM (
               SELECT vec_id, cid, dist,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY dist, cid) AS rn
               FROM (SELECT vecs.vec_id, cb.cid,
                       ${dist("vecs.w", "cb.c")} AS dist
                     FROM vs$sub vecs CROSS JOIN cb1_$sub cb))
             WHERE rn = 1)
           GROUP BY code)"""
    }.mkString(",\n         ")
    val union = (0 until m)
      .map(sub => s"SELECT * FROM r_$sub").mkString(" UNION ALL ")
    s"""WITH vq AS MATERIALIZED (
          SELECT vec_id, list_transform(embedding::DOUBLE[],
            x -> floor(x * 1e6 + 0.5)) AS v
          FROM embeddings),
        $subs
        SELECT subspace::BIGINT AS subspace, code::BIGINT AS code,
               n_vectors, recon_mse
        FROM ($union) ORDER BY subspace, code"""
  }

  /** IVF centroid-count sweep (mirrors `Similarity.centroidSweep`):
    * shared exact-truth CTE, one assigned/plist/cand block per C with
    * C-suffixed names, per-C recall at the fixed probe budget. */
  private def centroidSweepOracleSql(cs: Seq[Int] = Seq(8, 16, 32),
                                     nq: Int = 10, k: Int = 10,
                                     nprobe: Int = 4): String = {
    val blocks = cs.map { c =>
      s"""cent_c$c AS (SELECT vec_id AS centroid_id, v AS cv FROM e
             WHERE vec_id < $c),
         assigned_c$c AS (SELECT vec_id, v, centroid_id FROM (
             SELECT e.vec_id, e.v, cc.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.v, cc.cv) DESC,
                          cc.centroid_id) AS rn
             FROM e CROSS JOIN cent_c$c cc) WHERE rn = 1),
         plist_c$c AS (SELECT query_id, qv, centroid_id FROM (
             SELECT q.vec_id AS query_id, q.v AS qv, cc.centroid_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.v, cc.cv) DESC,
                          cc.centroid_id) AS pr
             FROM e q CROSS JOIN cent_c$c cc WHERE q.vec_id < $nq)
           WHERE pr <= $nprobe),
         cand_c$c AS (SELECT p.query_id, a.vec_id,
             list_cosine_similarity(a.v, p.qv) AS sim
           FROM assigned_c$c a JOIN plist_c$c p USING (centroid_id)
           WHERE a.vec_id <> p.query_id),
         approx_c$c AS (SELECT query_id, vec_id FROM (
             SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY sim DESC, vec_id) AS ra
             FROM cand_c$c) WHERE ra <= $k),
         r_c$c AS (SELECT ${c}::BIGINT AS n_centroids,
             (SELECT count(*) FROM cand_c$c)::BIGINT AS n_candidates,
             (SELECT count(*) FROM approx_c$c
              JOIN truth USING (query_id, vec_id))::BIGINT AS hits)"""
    }
    val un = cs.map(c => s"SELECT * FROM r_c$c").mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                   FROM embeddings),
       truth AS (SELECT query_id, vec_id FROM (
           SELECT q.vec_id AS query_id, e2.vec_id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(e2.v, q.v) DESC,
                        e2.vec_id) AS rt
           FROM e q CROSS JOIN e e2
           WHERE q.vec_id < $nq AND e2.vec_id <> q.vec_id)
         WHERE rt <= $k),
       ${blocks.mkString(",\n       ")}
       SELECT n_centroids, n_candidates, hits,
         floor(hits::DOUBLE / ${nq * k}.0 * 1e6 + 0.5) / 1e6 AS recall
       FROM ($un) ORDER BY n_centroids"""
  }

  /** tail_token_mass oracle generated from the operator's own default
    * head size (ADVICE r7: hardcoded sweep literals drift silently when
    * the op is invoked with non-default parameters). */
  private def tailTokenMassOracleSql(
      topN: Int = graft.operators.TextStats.TailTopN): String =
    s"""WITH toksl AS (
           SELECT lang,
             list_filter(list_transform(
               string_split_regex(lower(text), '\\s+'),
               t -> regexp_replace(t, '(^[^a-z]+|[^a-z]+$$)', '', 'g')),
               t -> len(t) > 0) AS ts
           FROM documents),
         tok AS (SELECT lang, unnest(ts) AS t FROM toksl),
         cnt AS (SELECT t, count(*)::BIGINT AS c FROM tok GROUP BY 1),
         top AS (SELECT t FROM cnt ORDER BY c DESC, t LIMIT $topN),
         g AS (SELECT lang, count(*)::BIGINT AS n_tokens,
                 sum(CASE WHEN top.t IS NULL THEN 1 ELSE 0 END)::BIGINT
                   AS n_tail
               FROM tok LEFT JOIN top ON tok.t = top.t GROUP BY 1)
         SELECT lang, n_tokens, n_tail,
           floor(n_tail::DOUBLE / n_tokens::DOUBLE * 1e6 + 0.5) / 1e6
             AS tail_share
         FROM g ORDER BY lang"""

  /** recall_at_k_sweep oracle with the sweep axes interpolated from the
    * same defaults as [[graft.operators.Similarity.recallAtKSweep]]. */
  private def recallAtKSweepOracleSql(nq: Int = 10, nc: Int = 16,
                                      nprobe: Int = 4,
                                      ks: Seq[Int] = Seq(1, 5, 10)): String = {
    val kmax = ks.max
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                    FROM embeddings),
         cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e
                  WHERE vec_id < $nc),
         assigned AS (SELECT vec_id, v, centroid_id FROM (
             SELECT e.vec_id, e.v, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
                          c.centroid_id) AS rn
             FROM e CROSS JOIN cent c) WHERE rn = 1),
         plist AS (SELECT query_id, qv, centroid_id FROM (
             SELECT q.vec_id AS query_id, q.v AS qv, c.centroid_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.v, c.cv) DESC,
                          c.centroid_id) AS pr
             FROM e q CROSS JOIN cent c WHERE q.vec_id < $nq)
           WHERE pr <= $nprobe),
         cand AS (SELECT p.query_id, a.vec_id,
             list_cosine_similarity(a.v, p.qv) AS sim
           FROM assigned a JOIN plist p USING (centroid_id)
           WHERE a.vec_id <> p.query_id),
         approx AS (SELECT query_id, vec_id, ra FROM (
             SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY sim DESC, vec_id) AS ra
             FROM cand) WHERE ra <= $kmax),
         truth AS (SELECT query_id, vec_id, rt FROM (
             SELECT q.vec_id AS query_id, e2.vec_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(e2.v, q.v) DESC,
                          e2.vec_id) AS rt
             FROM e q CROSS JOIN e e2
             WHERE q.vec_id < $nq AND e2.vec_id <> q.vec_id)
           WHERE rt <= $kmax),
         nc AS (SELECT count(*)::BIGINT AS n_candidates FROM cand),
         ks AS (SELECT unnest([${ks.mkString(", ")}])::BIGINT AS k),
         h AS (SELECT k, count(*)::BIGINT AS hits
               FROM approx JOIN truth USING (query_id, vec_id)
               CROSS JOIN ks
               WHERE ra <= k AND rt <= k GROUP BY 1)
         SELECT ks.k AS k, n_candidates,
           coalesce(hits, 0)::BIGINT AS hits,
           floor(coalesce(hits, 0)::DOUBLE / ($nq.0 * ks.k::DOUBLE)
             * 1e6 + 0.5) / 1e6 AS recall
         FROM ks LEFT JOIN h ON ks.k = h.k CROSS JOIN nc
         ORDER BY k"""
  }

  /** `pqOracleSql`'s construction per m with m-suffixed CTE names,
    * ending in per-m TOTALS (mirrors `Similarity.pqMSweep`: exact
    * LONG d2 sums across all subspaces, one division by the vector
    * count). */
  private def pqSweepOracleSql(ms: Seq[Int] = Seq(2, 4),
                               k: Int = 4): String = {
    val dim = 64
    val log2k = 31 - Integer.numberOfLeadingZeros(k)
    val blocks = ms.map { m =>
      val sw = dim / m
      def dist(wExpr: String, cExpr: String) =
        s"""list_reduce(list_prepend(0.0, list_transform(range(1,
           ${sw + 1}), i -> ($wExpr[i] - $cExpr[i]) *
           ($wExpr[i] - $cExpr[i]))), (a, b) -> a + b)"""
      val subs = (0 until m).map { sub =>
        val p = s"m${m}_$sub"
        val lo = sub * sw + 1
        val hi = sub * sw + sw
        s"""vs$p AS (SELECT vec_id, v[$lo:$hi] AS w FROM vq),
           cb0_$p AS (
             SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT
                      AS cid,
                    w AS c
             FROM (SELECT vec_id, w FROM vs$p ORDER BY vec_id
                   LIMIT $k)),
           a0_$p AS (
             SELECT vec_id, w, cid AS code FROM (
               SELECT vec_id, w, cid,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY dist, cid) AS rn
               FROM (SELECT vecs.vec_id, vecs.w, cb.cid,
                       ${dist("vecs.w", "cb.c")} AS dist
                     FROM vs$p vecs CROSS JOIN cb0_$p cb))
             WHERE rn = 1),
           cb1_$p AS (
             SELECT code AS cid, list(mq ORDER BY pos) AS c FROM (
               SELECT code, pos, floor(sum(x) / count(*) + 0.5) AS mq
               FROM (SELECT code, unnest(w) AS x,
                       generate_subscripts(w, 1) AS pos
                     FROM a0_$p)
               GROUP BY code, pos)
             GROUP BY code),
           r_$p AS (
             SELECT count(*)::BIGINT AS nr, sum(d2)::BIGINT AS sd2
             FROM (
               SELECT vec_id, CAST(dist AS BIGINT) AS d2 FROM (
                 SELECT vec_id, cid, dist,
                   row_number() OVER (PARTITION BY vec_id
                     ORDER BY dist, cid) AS rn
                 FROM (SELECT vecs.vec_id, cb.cid,
                         ${dist("vecs.w", "cb.c")} AS dist
                       FROM vs$p vecs CROSS JOIN cb1_$p cb))
               WHERE rn = 1))"""
      }.mkString(",\n           ")
      val un = (0 until m).map(sub => s"SELECT * FROM r_m${m}_$sub")
        .mkString(" UNION ALL ")
      val total =
        s"""t_m$m AS (
             SELECT ${m}::BIGINT AS m, ${m * log2k}::BIGINT AS code_bits,
               (sum(nr) // $m)::BIGINT AS n_vectors,
               floor(sum(sd2)::DOUBLE / (sum(nr) // $m)::DOUBLE / 1e12
                 * 1e6 + 0.5) / 1e6 AS mean_mse
             FROM ($un))"""
      (s"$subs,\n           $total", s"SELECT * FROM t_m$m")
    }
    s"""WITH vq AS MATERIALIZED (
          SELECT vec_id, list_transform(embedding::DOUBLE[],
            x -> floor(x * 1e6 + 0.5)) AS v
          FROM embeddings),
        ${blocks.map(_._1).mkString(",\n        ")}
        SELECT m, code_bits, n_vectors, mean_mse
        FROM (${blocks.map(_._2).mkString(" UNION ALL ")})
        ORDER BY m"""
  }

  /** Two unrolled Bradley–Terry MM rounds (mirrors `Ml.bradleyTerry`):
    * exact cross-multiplied win decisions, 1e-9-grid strengths,
    * renormalized after every round.
    */
  private def bradleyTerryOracleSql: String = {
    def round(i: Int, prev: String) =
      s"""t$i AS (SELECT n.i,
           sum(n.w)::BIGINT AS wi,
           sum(CAST(floor(n.nij::DOUBLE /
             ((pi.p9 + pj.p9)::DOUBLE / 1e9) * 1e9 + 0.5) AS BIGINT))
             ::BIGINT AS den9
         FROM nij n JOIN $prev pi ON n.i = pi.i
                    JOIN $prev pj ON n.j = pj.i
         GROUP BY n.i),
         u$i AS (SELECT i, CASE WHEN den9 > 0
             THEN CAST(floor(wi::DOUBLE / (den9::DOUBLE / 1e9) * 1e9
               + 0.5) AS BIGINT) ELSE 0 END AS raw9
           FROM t$i),
         s$i AS (SELECT sum(raw9)::BIGINT AS t9 FROM u$i),
         p$i AS (SELECT i, CASE WHEN t9 > 0
             THEN CAST(floor(raw9::DOUBLE / t9 * 1e9 + 0.5) AS BIGINT)
             ELSE 0 END AS p9
           FROM u$i, s$i)"""
    s"""WITH put AS (
          SELECT user_id, event_type AS ty, count(*)::BIGINT AS n,
            sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT))::BIGINT AS sv
          FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        wn AS (SELECT a.ty AS i, b.ty AS j, count(*)::BIGINT AS w
          FROM put a JOIN put b ON a.user_id = b.user_id
            AND a.ty <> b.ty
          WHERE a.sv::HUGEINT * b.n > b.sv::HUGEINT * a.n
          GROUP BY 1, 2),
        pairs AS (SELECT i, j, sum(w)::BIGINT AS w FROM (
            SELECT i, j, w FROM wn
            UNION ALL SELECT j AS i, i AS j, 0::BIGINT AS w FROM wn)
          GROUP BY 1, 2),
        nij AS (SELECT p.i, p.j, p.w, (p.w + q.w)::BIGINT AS nij
          FROM pairs p JOIN pairs q ON p.i = q.j AND p.j = q.i),
        ty AS (SELECT DISTINCT i FROM pairs),
        kk AS (SELECT count(*)::BIGINT AS k FROM ty),
        p0 AS (SELECT i,
            CAST(floor(1e9 / k::DOUBLE + 0.5) AS BIGINT) AS p9
          FROM ty, kk),
        ${round(1, "p0")},
        ${round(2, "p1")},
        wt AS (SELECT i, sum(w)::BIGINT AS wins FROM pairs GROUP BY i)
        SELECT p2.i AS event_type, wins,
          floor(p2.p9::DOUBLE / 1e9 * 1e6 + 0.5) / 1e6 AS strength
        FROM p2 JOIN wt ON p2.i = wt.i ORDER BY event_type"""
  }

  /** Ridge-R² restatement used by `perm_importance` (mirrors
    * `Relational.permImportance`): Cramer 3×3 + SSE with the RAW Gram
    * in the quadratic term, identical operation order per stats CTE.
    */
  private def permImportanceOracleSql(lambda: Double = 0.1): String = {
    def r2Cte(name: String, st: String) =
      s"""${name}_a AS (SELECT
           s11::DOUBLE / 1e12 AS g11, s22::DOUBLE / 1e12 AS g22,
           n::DOUBLE AS g33,
           s11::DOUBLE / 1e12 + $lambda AS a11,
           s12::DOUBLE / 1e12 AS a12, s1::DOUBLE / 1e6 AS a13,
           s22::DOUBLE / 1e12 + $lambda AS a22,
           s2::DOUBLE / 1e6 AS a23, n::DOUBLE + $lambda AS a33,
           s1y::DOUBLE / 1e12 AS b1, s2y::DOUBLE / 1e12 AS b2,
           sy::DOUBLE / 1e6 AS b3, syy::DOUBLE / 1e12 AS yy,
           n::DOUBLE AS nd
         FROM $st),
         ${name}_d AS (SELECT *,
           a11 * (a22 * a33 - a23 * a23)
             - a12 * (a12 * a33 - a23 * a13)
             + a13 * (a12 * a23 - a22 * a13) AS dA,
           b1 * (a22 * a33 - a23 * a23)
             - a12 * (b2 * a33 - a23 * b3)
             + a13 * (b2 * a23 - a22 * b3) AS d1,
           a11 * (b2 * a33 - a23 * b3)
             - b1 * (a12 * a33 - a23 * a13)
             + a13 * (a12 * b3 - b2 * a13) AS d2,
           a11 * (a22 * b3 - b2 * a23)
             - a12 * (a12 * b3 - b2 * a13)
             + b1 * (a12 * a23 - a22 * a13) AS d3
         FROM ${name}_a),
         $name AS (SELECT 1.0 - (yy - 2.0 *
             ((d1 / dA) * b1 + (d2 / dA) * b2 + (d3 / dA) * b3) +
             ((d1 / dA) * (g11 * (d1 / dA) + a12 * (d2 / dA)
                + a13 * (d3 / dA)) +
              (d2 / dA) * (a12 * (d1 / dA) + g22 * (d2 / dA)
                + a23 * (d3 / dA)) +
              (d3 / dA) * (a13 * (d1 / dA) + a23 * (d2 / dA)
                + g33 * (d3 / dA))))
           / (yy - b3 * b3 / nd) AS r2
         FROM ${name}_d)"""
    def statsCte(name: String, src: String, c1: String, c2: String) =
      s"""$name AS (SELECT count(*)::BIGINT AS n,
           sum($c1)::HUGEINT AS s1, sum($c2)::HUGEINT AS s2,
           sum(y)::HUGEINT AS sy,
           sum($c1::HUGEINT * $c1) AS s11,
           sum($c1::HUGEINT * $c2) AS s12,
           sum($c2::HUGEINT * $c2) AS s22,
           sum($c1::HUGEINT * y) AS s1y,
           sum($c2::HUGEINT * y) AS s2y,
           sum(y::HUGEINT * y) AS syy
         FROM $src)"""
    s"""WITH base AS MATERIALIZED (
          SELECT row_number() OVER (ORDER BY l_orderkey, l_linenumber)
              ::BIGINT AS r,
            CAST(floor(l_quantity * 1e6 + 0.5) AS BIGINT) AS x1,
            CAST(floor(l_discount * 1e6 + 0.5) AS BIGINT) AS x2,
            CAST(floor(l_extendedprice * 1e6 + 0.5) AS BIGINT) AS y
          FROM lineitem),
        nn AS (SELECT count(*)::BIGINT AS n FROM base),
        sh1 AS (SELECT ((r - 1 + n // 2) % n) + 1 AS r, x1 AS x1p
                FROM base, nn),
        sh2 AS (SELECT ((r - 1 + n // 2) % n) + 1 AS r, x2 AS x2p
                FROM base, nn),
        pm1 AS (SELECT b.r, s.x1p, b.x2, b.y
                FROM base b JOIN sh1 s USING (r)),
        pm2 AS (SELECT b.r, b.x1, s.x2p, b.y
                FROM base b JOIN sh2 s USING (r)),
        ${statsCte("st0", "base", "x1", "x2")},
        ${statsCte("st1", "pm1", "x1p", "x2")},
        ${statsCte("st2", "pm2", "x1", "x2p")},
        ${r2Cte("r0", "st0")},
        ${r2Cte("r1", "st1")},
        ${r2Cte("r2x", "st2")}
        SELECT
          floor(r0.r2 * 1e6 + 0.5) / 1e6 AS r2_full,
          floor(r1.r2 * 1e6 + 0.5) / 1e6 AS r2_perm_quantity,
          floor(r2x.r2 * 1e6 + 0.5) / 1e6 AS r2_perm_discount,
          floor((r0.r2 - r1.r2) * 1e6 + 0.5) / 1e6 AS imp_quantity,
          floor((r0.r2 - r2x.r2) * 1e6 + 0.5) / 1e6 AS imp_discount
        FROM r0, r1, r2x"""
  }

  /** Unrolled power iteration (mirrors `Similarity.pcaPower`): the
    * 1e-9-grid covariance matrix, `iters` exact-integer mat-vec +
    * max-norm requantize rounds, then the BigInt/HUGEINT Rayleigh
    * share — every double op runs over exact integers in the same
    * order as the Scala driver loop.
    */
  private def pcaPowerOracleSql(d: Int = 8, iters: Int = 10): String = {
    val vinit = math.floor(1.0 / math.sqrt(d) * 1e6 + 0.5).toLong
    val rounds = (1 to iters).map { k =>
      s"""t$k AS MATERIALIZED (SELECT c.i AS pos, sum(c.cq * v.v) AS t
           FROM cov c JOIN v${k - 1} v ON c.j = v.pos GROUP BY c.i),
         m$k AS MATERIALIZED (SELECT max(abs(t)) AS ma FROM t$k),
         v$k AS MATERIALIZED (SELECT pos, CASE WHEN ma > 0
             THEN CAST(floor(t::DOUBLE / ma::DOUBLE * 1e6 + 0.5) AS BIGINT)
             ELSE 0 END AS v
           FROM t$k, m$k)"""
    }.mkString(",\n         ")
    s"""WITH ex AS MATERIALIZED (
           SELECT vec_id, (pos - 1)::INT AS pos,
                  CAST(round(x::DOUBLE * 1000000.0) AS BIGINT) AS xi
           FROM (SELECT vec_id, unnest(embedding) AS x,
                        generate_subscripts(embedding, 1) AS pos
                 FROM embeddings)
           WHERE pos <= $d),
         cov AS MATERIALIZED (
           SELECT a.pos AS i, b.pos AS j,
                  CAST(floor((sum(a.xi * b.xi)::DOUBLE / count(*) -
                      (sum(a.xi)::DOUBLE / count(*)) *
                        (sum(b.xi)::DOUBLE / count(*))) / 1e12 * 1e9
                    + 0.5) AS BIGINT) AS cq
           FROM ex a JOIN ex b ON a.vec_id = b.vec_id
           GROUP BY a.pos, b.pos),
         v0 AS (SELECT i::INT AS pos, $vinit::BIGINT AS v
                FROM range($d) t(i)),
         $rounds,
         tf AS (SELECT c.i AS pos, sum(c.cq * v.v) AS t
                FROM cov c JOIN v$iters v ON c.j = v.pos GROUP BY c.i),
         sv AS (SELECT sum(v * v) AS svv FROM v$iters),
         nm AS (SELECT sum(v.v::HUGEINT * tf.t) AS num
                FROM v$iters v JOIN tf ON v.pos = tf.pos),
         trc AS (SELECT sum(cq) AS tr FROM cov WHERE i = j),
         sh AS (SELECT CASE WHEN svv > 0 AND tr <> 0
             THEN floor(num::DOUBLE / (svv::DOUBLE * tr::DOUBLE) * 1e6
               + 0.5) / 1e6
             ELSE 0.0 END AS ev_share
           FROM sv, nm, trc)
         SELECT v.pos::BIGINT AS pos,
                floor(v.v::DOUBLE / sqrt(svv::DOUBLE) * 1e6 + 0.5) / 1e6
                  AS loading,
                ev_share
         FROM v$iters v, sv, sh ORDER BY pos"""
  }

  /** Unrolled weighted PageRank over the adjacent-token graph (mirrors
    * `Cooccur.textrank`): same scatter expression per round, 9-dp
    * round before the top-k cut (gather-order sub-ulp noise rounds
    * away — the `pagerank_global` contract).
    */
  private def textrankOracleSql(rounds: Int = 8, k: Int = 20): String = {
    val blocks = (1 to rounds).map { i =>
      s"""r$i AS MATERIALIZED (
           SELECT id, (1 - 0.85) / n + 0.85 * recv AS r FROM (
             SELECT st.dst AS id, sum(r.r * st.w / st.wout) AS recv
             FROM st JOIN r${i - 1} r ON st.src = r.id
             GROUP BY st.dst), nn)"""
    }.mkString(",\n         ")
    s"""$TokCte,
         bp AS (
           SELECT unnest(list_transform(range(1, len(ts)), i ->
             {'a': ts[i], 'b': ts[i + 1]})) AS p
           FROM toks WHERE len(ts) >= 2),
         pp AS (SELECT p.a AS a, p.b AS b FROM bp WHERE p.a <> p.b),
         e AS MATERIALIZED (
           SELECT src, dst, count(*)::BIGINT AS w FROM (
             SELECT a AS src, b AS dst FROM pp
             UNION ALL SELECT b AS src, a AS dst FROM pp)
           GROUP BY src, dst),
         ow AS MATERIALIZED (SELECT src, sum(w) AS wout FROM e
           GROUP BY src),
         st AS MATERIALIZED (
           SELECT e.src, e.dst, e.w, ow.wout FROM e JOIN ow USING (src)),
         nn AS MATERIALIZED (SELECT count(DISTINCT src)::BIGINT AS n
           FROM e),
         r0 AS MATERIALIZED (
           SELECT DISTINCT src AS id, 1.0 / n AS r FROM e, nn),
         $blocks
         SELECT id AS token, round(r, 9) AS rank FROM r$rounds
         ORDER BY round(r, 9) DESC, id LIMIT $k"""
  }

  private def sgdTrainOracle(order: String = "doc_id"): String =
    s"""$sgdCommonCte,
       steps AS MATERIALIZED (
         SELECT row_number() OVER (ORDER BY $order) AS step, label, cv FROM dv),
       ${sgdFoldCte("fold", "steps")}
       SELECT v.feature AS feature, round(fw.w[v.idx], 6) AS weight
       FROM (SELECT w FROM fold ORDER BY step DESC LIMIT 1) fw
       CROSS JOIN vord v"""

  /** The shuffled trainer's permutation is the seeded multiplicative
    * hash from `Ml.trainSgd` (seed 42), replayed verbatim. */
  private def sgdShuffledOrder(seed: Long): String =
    s"(doc_id * ${graft.operators.Ml.ShuffleMultiplier + seed}) % " +
      s"${graft.operators.Ml.ShuffleModulus}, doc_id"

  private def sgdApplyOracle: String =
    s"""$sgdCommonCte,
       steps AS MATERIALIZED (
         SELECT row_number() OVER (ORDER BY doc_id) AS step, label, cv FROM dv),
       ${sgdFoldCte("fold", "steps")},
       wf AS (SELECT w FROM fold ORDER BY step DESC LIMIT 1)
       SELECT d.doc_id AS docid, d.label AS label,
         round(${sgdScoreExpr("wf")}, 6) AS score,
         CASE WHEN ${sgdScoreExpr("wf")} > 0 THEN 'spam' ELSE 'ham' END AS pred
       FROM dv d CROSS JOIN wf CROSS JOIN gs g"""

  /** Closed-form PAV (mirrors `Ml.isotonicCalibration`): interval
    * means on the 1e-12 LONG grid, then the min/max window lattice —
    * no recursion, bit-exact against the engine's two window passes.
    */
  private def isotonicOracleSql(bins: Int = 12): String =
    s"""$sgdCommonCte,
       steps AS MATERIALIZED (
         SELECT row_number() OVER (ORDER BY doc_id) AS step, label, cv
         FROM dv),
       ${sgdFoldCte("fold", "steps")},
       wf AS (SELECT w FROM fold ORDER BY step DESC LIMIT 1),
       sc AS MATERIALIZED (
         SELECT round(${sgdScoreExpr("wf")}, 6) AS s,
           CASE WHEN d.label = 1 THEN 1 ELSE 0 END AS y
         FROM dv d CROSS JOIN wf CROSS JOIN gs g),
       bnd AS (SELECT min(s) AS smin, max(s) AS smax FROM sc),
       binned AS (
         SELECT CASE WHEN smax = smin THEN 0
           ELSE least(floor((s - smin) / (smax - smin) * $bins),
                      ${bins - 1})::INT END AS bin, y
         FROM sc, bnd),
       bs AS MATERIALIZED (
         SELECT bin, count(*)::BIGINT AS n, sum(y)::BIGINT AS sy
         FROM binned GROUP BY bin),
       cums AS (SELECT bin, n, sy,
         sum(n) OVER (ORDER BY bin) AS cn,
         sum(sy) OVER (ORDER BY bin) AS cy FROM bs),
       pr AS (SELECT j.bin AS j, k.bin AS k,
         CAST(floor((k.cy - j.cy + j.sy)::DOUBLE /
             (k.cn - j.cn + j.n)::DOUBLE * 1e12 + 0.5) AS BIGINT) AS aq
         FROM cums j JOIN cums k ON j.bin <= k.bin),
       mn AS (SELECT j, k, min(aq) OVER (PARTITION BY j ORDER BY k DESC
         ROWS UNBOUNDED PRECEDING) AS m FROM pr),
       iso AS (SELECT k AS bin, max(m) AS isoq FROM mn GROUP BY k)
       SELECT b.bin::BIGINT AS bin, b.n,
         floor(b.sy::DOUBLE / b.n * 1e6 + 0.5) / 1e6 AS pos_rate,
         floor(i.isoq::DOUBLE / 1e12 * 1e6 + 0.5) / 1e6 AS iso_p
       FROM bs b JOIN iso i USING (bin) ORDER BY bin"""

  /** Shared Holt recursion CTEs (`daily`/`ord`/`r`) for
    * `holt_forecast` and `forecast_backtest`: the recursive fold
    * replays the engine's aggregate lambda in identical IEEE op order;
    * smoothing constants appear as (1 - a) expressions so both engines
    * derive the identical double.
    */
  private lazy val HoltCte: String =
    """daily AS MATERIALIZED (
           SELECT date_diff('day', DATE '2024-01-01', ts::DATE) AS day,
                  sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS x6,
                  sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT))::DOUBLE
                    / 1e6 AS x
           FROM events GROUP BY 1),
         ord AS MATERIALIZED (
           SELECT day, x, row_number() OVER (ORDER BY day) AS rn
           FROM daily),
         r AS (
           SELECT day, x, rn, x AS level, 0.0::DOUBLE AS trend,
                  x AS fitted
           FROM ord WHERE rn = 1
           UNION ALL
           SELECT o.day, o.x, o.rn,
             CASE WHEN o.rn = 2 THEN o.x
                  ELSE 0.3 * o.x + (1 - 0.3) * (r.level + r.trend) END,
             CASE WHEN o.rn = 2 THEN o.x - r.x
                  ELSE 0.1 * ((0.3 * o.x + (1 - 0.3) *
                      (r.level + r.trend)) - r.level)
                    + (1 - 0.1) * r.trend END,
             CASE WHEN o.rn = 2 THEN r.level
                  ELSE r.level + r.trend END
           FROM ord o JOIN r ON o.rn = r.rn + 1)"""

  /** HLL audit (mirrors `Events.hllErrorAudit`): rank via an exact
    * comparison chain, harmonic sum of exact powers of two, same
    * deterministic linear-counting branch.
    */
  private def hllOracleSql: String = hllOracleSqlImpl(full = true)
  /** The streaming replay grades the same estimate without the exact
    * columns (the stream never sees the exact-count side). */
  private def streamHllOracleSql: String = hllOracleSqlImpl(full = false)
  private def hllOracleSqlImpl(full: Boolean): String = {
    val chain = (35 to 0 by -1).map(k =>
      s"WHEN suffix >= ${1L << k} THEN ${k + 1}").mkString(" ")
    s"""WITH pairs AS MATERIALIZED (
           SELECT DISTINCT event_type, user_id FROM events),
         h0s AS (SELECT event_type,
                   (list_reduce(list_prepend(0::BIGINT,
                      list_transform(
                        string_split(user_id::VARCHAR, ''),
                        c -> ord(c)::BIGINT)),
                      (h, c) -> (h * 31 + c) % 1099511627776)) AS h
                 FROM pairs),
         ${(0 until 4).map(i =>
            s"""mx$i AS (SELECT event_type, xor(hm, hm // 1048576) AS h
               FROM (SELECT event_type,
                 (h * 8388593) % 1099511627776 AS hm
                 FROM ${if (i == 0) "h0s" else s"mx${i - 1}"}))""")
           .mkString(",\n         ")},
         hx AS (SELECT event_type, h FROM mx3),
         rk AS (SELECT event_type, h % 16 AS bucket,
                  37 - (CASE $chain ELSE 0 END) AS rank
                FROM (SELECT event_type, h, h >> 4 AS suffix
                      FROM hx)),
         regs AS (SELECT event_type, bucket, max(rank)::BIGINT AS mj
                  FROM rk GROUP BY 1, 2),
         grid AS (SELECT event_type, unnest(range(0, 16)) AS bucket
                  FROM (SELECT DISTINCT event_type FROM pairs)),
         dense AS (SELECT g.event_type, g.bucket,
                     coalesce(r.mj, 0) AS mj
                   FROM grid g
                   LEFT JOIN regs r USING (event_type, bucket)),
         es AS (SELECT event_type,
                  sum(pow(2.0, -mj::DOUBLE)) AS ssum,
                  sum(CASE WHEN mj = 0 THEN 1 ELSE 0 END)::BIGINT AS v
                FROM dense GROUP BY event_type),
         ec AS (SELECT event_type,
                  CASE WHEN 0.673 * 256.0 / ssum <= 40.0 AND v > 0
                    THEN 16.0 * ln(16.0 / v)
                    ELSE 0.673 * 256.0 / ssum END AS e
                FROM es),
         ex AS (SELECT event_type, count(*)::BIGINT AS exact_distinct
                FROM pairs GROUP BY event_type)
         ${if (full)
        """SELECT event_type, exact_distinct,
           floor(e * 1e4 + 0.5) / 1e4 AS hll_est,
           floor((e - exact_distinct) / exact_distinct * 1e6 + 0.5)
             / 1e6 AS rel_err
         FROM ex JOIN ec USING (event_type) ORDER BY event_type"""
      else
        """SELECT event_type, floor(e * 1e4 + 0.5) / 1e4 AS hll_est
         FROM ec ORDER BY event_type"""}"""
  }

  /** KMV audit (mirrors `Events.kmvErrorAudit`): same scrambled poly
    * hash as the HLL oracle; k-th smallest DISTINCT hash by
    * row_number; (k−1)·2⁴⁰/h₍ₖ₎ with the exact-set branch under k.
    */
  private def kmvOracleSql: String =
    s"""WITH pairs AS MATERIALIZED (
           SELECT DISTINCT event_type, user_id FROM events),
         h0s AS (SELECT event_type,
                   (list_reduce(list_prepend(0::BIGINT,
                      list_transform(
                        string_split(user_id::VARCHAR, ''),
                        c -> ord(c)::BIGINT)),
                      (h, c) -> (h * 31 + c) % 1099511627776)) AS h
                 FROM pairs),
         ${(0 until 4).map(i =>
            s"""mx$i AS (SELECT event_type, xor(hm, hm // 1048576) AS h
               FROM (SELECT event_type,
                 (h * 8388593) % 1099511627776 AS hm
                 FROM ${if (i == 0) "h0s" else s"mx${i - 1}"}))""")
           .mkString(",\n         ")},
         hs AS (SELECT DISTINCT event_type, h FROM mx3),
         kth AS (SELECT event_type, h AS hk FROM (
                   SELECT event_type, h, row_number() OVER (
                     PARTITION BY event_type ORDER BY h) AS rn
                   FROM hs) WHERE rn = 64),
         nh AS (SELECT event_type, count(*)::BIGINT AS n_hashes
                FROM hs GROUP BY 1),
         ex AS (SELECT event_type, count(*)::BIGINT AS exact_distinct
                FROM pairs GROUP BY 1),
         es AS (SELECT ex.event_type, exact_distinct,
                  CASE WHEN hk IS NULL THEN n_hashes::DOUBLE
                       ELSE 63.0 * 1099511627776.0 / hk::DOUBLE
                  END AS est
                FROM ex JOIN nh USING (event_type)
                LEFT JOIN kth USING (event_type))
         SELECT event_type, exact_distinct,
           floor(est * 1e4 + 0.5) / 1e4 AS kmv_est,
           floor((est - exact_distinct) / exact_distinct * 1e6 + 0.5)
             / 1e6 AS rel_err
         FROM es ORDER BY event_type"""

  /** KMV set-operations oracle (mirrors `Events.kmvSetOps`): same
    * 4-round scrambled poly hash, per-type k-minimum sketches, merged
    * union sketch, Jaccard-share intersection estimate; exact truth by
    * the user-keyed self-join. */
  private def kmvSetOpsOracleSql(k: Int = 64): String =
    s"""WITH pairs AS MATERIALIZED (
           SELECT DISTINCT event_type, user_id FROM events),
         h0s AS (SELECT event_type,
                   (list_reduce(list_prepend(0::BIGINT,
                      list_transform(
                        string_split(user_id::VARCHAR, ''),
                        c -> ord(c)::BIGINT)),
                      (h, c) -> (h * 31 + c) % 1099511627776)) AS h
                 FROM pairs),
         ${(0 until 4).map(i =>
            s"""mx$i AS (SELECT event_type, xor(hm, hm // 1048576) AS h
               FROM (SELECT event_type,
                 (h * 8388593) % 1099511627776 AS hm
                 FROM ${if (i == 0) "h0s" else s"mx${i - 1}"}))""")
           .mkString(",\n         ")},
         hs AS (SELECT DISTINCT event_type, h FROM mx3),
         sk AS MATERIALIZED (
           SELECT event_type, h FROM (
             SELECT event_type, h, row_number() OVER (
               PARTITION BY event_type ORDER BY h) AS rn
             FROM hs) WHERE rn <= $k),
         tys AS (SELECT DISTINCT event_type FROM sk),
         tp AS (SELECT a.event_type AS ta, b.event_type AS tb
                FROM tys a JOIN tys b ON a.event_type < b.event_type),
         merged AS (
           SELECT DISTINCT ta, tb, h FROM (
             SELECT tp.ta, tp.tb, s.h FROM tp
               JOIN sk s ON s.event_type = tp.ta
             UNION ALL
             SELECT tp.ta, tp.tb, s.h FROM tp
               JOIN sk s ON s.event_type = tp.tb)),
         mk AS (SELECT ta, tb, h FROM (
                  SELECT ta, tb, h, row_number() OVER (
                    PARTITION BY ta, tb ORDER BY h) AS rn
                  FROM merged) WHERE rn <= $k),
         ann AS (
           SELECT mk.ta, mk.tb, count(*)::BIGINT AS n_mk,
                  max(mk.h) AS hk,
                  sum(CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL
                      THEN 1 ELSE 0 END)::BIGINT AS cb
           FROM mk
           LEFT JOIN sk sa ON sa.event_type = mk.ta AND sa.h = mk.h
           LEFT JOIN sk sb ON sb.event_type = mk.tb AND sb.h = mk.h
           GROUP BY 1, 2),
         es AS (
           SELECT ta, tb, n_mk, cb,
                  CASE WHEN n_mk < $k THEN n_mk::DOUBLE
                       ELSE ${k - 1}.0 * 1099511627776.0 / hk::DOUBLE
                  END AS est
           FROM ann),
         ex AS (
           SELECT a.event_type AS ta, b.event_type AS tb,
                  count(*)::BIGINT AS exact_inter
           FROM pairs a JOIN pairs b ON a.user_id = b.user_id
             AND a.event_type < b.event_type
           GROUP BY 1, 2),
         cnts AS (SELECT event_type, count(*)::BIGINT AS n
                  FROM pairs GROUP BY 1)
         SELECT t.ta, t.tb,
                (ca.n + cb2.n - coalesce(ex.exact_inter, 0))::BIGINT
                  AS exact_union,
                coalesce(ex.exact_inter, 0)::BIGINT AS exact_inter,
                floor(es.est * 1e4 + 0.5) / 1e4 AS kmv_union,
                floor(es.cb::DOUBLE / es.n_mk * es.est * 1e4 + 0.5) / 1e4
                  AS kmv_inter
         FROM tp t
         JOIN cnts ca ON ca.event_type = t.ta
         JOIN cnts cb2 ON cb2.event_type = t.tb
         LEFT JOIN ex ON ex.ta = t.ta AND ex.tb = t.tb
         JOIN es ON es.ta = t.ta AND es.tb = t.tb
         ORDER BY t.ta, t.tb"""

  /** Unrolled MMR greedy selection (mirrors `Similarity.mmrSelect`:
    * λ=1/2 so each round's objective is the exact LONG 2·rel9 −
    * maxsim9; k argmax rounds as chained CTEs, vec-id tiebreak). */
  private def mmrOracleSql(k: Int = 8): String = {
    val sim = "CAST(floor(list_cosine_similarity(c.v, sv.v) * 1e9 + 0.5)" +
      " AS BIGINT)"
    val blocks = (1 to k).flatMap { i =>
      val pick =
        if (i == 1)
          s"""s1 AS MATERIALIZED (
             SELECT vec_id, label, 2 * rel9 AS score2, 1 AS rank
             FROM scored ORDER BY 2 * rel9 DESC, vec_id LIMIT 1)"""
        else
          s"""s$i AS MATERIALIZED (
             SELECT vec_id, label, score2, $i AS rank FROM (
               SELECT c.vec_id, c.label,
                      2 * c.rel9 - max($sim) AS score2
               FROM scored c JOIN scored sv
                 ON sv.vec_id IN (SELECT vec_id FROM sel${i - 1})
               WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})
               GROUP BY c.vec_id, c.label, c.rel9)
             ORDER BY score2 DESC, vec_id LIMIT 1)"""
      val acc =
        if (i == k) Nil
        else if (i == 1)
          Seq("sel1 AS MATERIALIZED (SELECT vec_id FROM s1)")
        else Seq(s"sel$i AS MATERIALIZED (SELECT vec_id FROM sel${i - 1}" +
          s" UNION ALL SELECT vec_id FROM s$i)")
      pick +: acc
    }
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
           FROM embeddings),
         ps AS (SELECT pos, sum(vi)::BIGINT AS sv FROM (
           SELECT unnest(list_transform(v, c ->
             CAST(floor(c * 1e9 + 0.5) AS BIGINT))) AS vi,
             generate_subscripts(v, 1) AS pos
           FROM e) GROUP BY pos),
         proto AS (SELECT list(sv::DOUBLE ORDER BY pos) AS pv FROM ps),
         scored AS MATERIALIZED (
           SELECT e.vec_id, e.label, e.v,
             CAST(floor(list_cosine_similarity(e.v, p.pv) * 1e9 + 0.5)
               AS BIGINT) AS rel9
           FROM e CROSS JOIN proto p),
         ${blocks.mkString(",\n         ")}
         SELECT rank, vec_id, label,
                floor(score2::DOUBLE / 2e9 * 1e6 + 0.5) / 1e6
                  AS mmr_score
         FROM (${(1 to k).map(i => s"SELECT * FROM s$i")
        .mkString(" UNION ALL ")})
         ORDER BY rank"""
  }

  /** KS separation (mirrors `Ml.ksStatistic`): cross-multiplied CDF
    * gap |cp·NN − cn·NP| in LONGs; one double division at the end.
    */
  private def ksOracleSql: String =
    s"""$sgdCommonCte,
       steps AS MATERIALIZED (
         SELECT row_number() OVER (ORDER BY doc_id) AS step, label, cv
         FROM dv),
       ${sgdFoldCte("fold", "steps")},
       wf AS (SELECT w FROM fold ORDER BY step DESC LIMIT 1),
       sc AS MATERIALIZED (
         SELECT round(${sgdScoreExpr("wf")}, 6) AS s,
           CASE WHEN d.label = 1 THEN 1 ELSE 0 END AS y
         FROM dv d CROSS JOIN wf CROSS JOIN gs g),
       g AS (SELECT s, sum(y)::BIGINT AS p, sum(1 - y)::BIGINT AS n
             FROM sc GROUP BY s),
       tot AS (SELECT sum(p)::BIGINT AS np, sum(n)::BIGINT AS nn FROM g),
       c AS (SELECT s,
               abs((sum(p) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING))
                     * nn -
                   (sum(n) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING))
                     * np) AS gap
             FROM g, tot),
       mx AS (SELECT max(gap) AS mx FROM c),
       at AS (SELECT min(s) AS threshold FROM c, mx WHERE gap = mx)
       SELECT floor(mx::DOUBLE / (np::DOUBLE * nn) * 1e6 + 0.5) / 1e6
                AS ks,
              threshold, np AS n_pos, nn AS n_neg
       FROM tot, mx, at"""

  /** Gains/lift deciles (mirrors `Ml.gainsTable`): ntile under the
    * full (score desc, docid) tiebreak, exact-integer counts after.
    */
  private def gainsOracleSql(deciles: Int = 10): String =
    s"""$sgdCommonCte,
       steps AS MATERIALIZED (
         SELECT row_number() OVER (ORDER BY doc_id) AS step, label, cv
         FROM dv),
       ${sgdFoldCte("fold", "steps")},
       wf AS (SELECT w FROM fold ORDER BY step DESC LIMIT 1),
       sc AS MATERIALIZED (
         SELECT d.doc_id AS docid, round(${sgdScoreExpr("wf")}, 6) AS s,
           CASE WHEN d.label = 1 THEN 1 ELSE 0 END AS y
         FROM dv d CROSS JOIN wf CROSS JOIN gs g),
       dd AS (SELECT y, ntile($deciles) OVER (ORDER BY s DESC, docid)
                AS dec FROM sc),
       g2 AS (SELECT dec, count(*)::BIGINT AS n, sum(y)::BIGINT AS pos
              FROM dd GROUP BY dec),
       tot AS (SELECT sum(pos)::BIGINT AS tp, sum(n)::BIGINT AS tn
               FROM g2),
       cc AS (SELECT dec, n, pos,
                sum(pos) OVER (ORDER BY dec ROWS UNBOUNDED PRECEDING)
                  AS cpos,
                sum(n) OVER (ORDER BY dec ROWS UNBOUNDED PRECEDING)
                  AS cn
              FROM g2)
       SELECT dec::BIGINT AS decile, n, pos,
         floor(cpos::DOUBLE / tp * 1e6 + 0.5) / 1e6 AS capture,
         floor((cpos::DOUBLE / cn) / (tp::DOUBLE / tn) * 1e6 + 0.5)
           / 1e6 AS lift
       FROM cc, tot ORDER BY decile"""

  /** Three folds over the doc_id % 3 training splits (global vocab: a
    * feature unseen in a split keeps weight 0, which scores identically
    * to the engine's left-join-with-coalesce). */
  private def sgdEnsembleCte: String =
    s"""$sgdCommonCte,
       steps0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY doc_id)
         AS step, label, cv FROM dv WHERE doc_id % 3 = 0),
       steps1 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY doc_id)
         AS step, label, cv FROM dv WHERE doc_id % 3 = 1),
       steps2 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY doc_id)
         AS step, label, cv FROM dv WHERE doc_id % 3 = 2),
       ${sgdFoldCte("fold0", "steps0")},
       ${sgdFoldCte("fold1", "steps1")},
       ${sgdFoldCte("fold2", "steps2")},
       wa AS (SELECT w FROM fold0 ORDER BY step DESC LIMIT 1),
       wb AS (SELECT w FROM fold1 ORDER BY step DESC LIMIT 1),
       wc AS (SELECT w FROM fold2 ORDER BY step DESC LIMIT 1),
       scored AS (
         SELECT d.doc_id AS docid, d.label AS label,
           ${sgdScoreExpr("wa")} AS s0,
           ${sgdScoreExpr("wb")} AS s1,
           ${sgdScoreExpr("wc")} AS s2
         FROM dv d CROSS JOIN wa CROSS JOIN wb CROSS JOIN wc CROSS JOIN gs g)"""

  def oracleSql: Map[String, String] = Map(
    // ---- round 3: subquery surface + curation tier ----
    "date_spine_fill" ->
      """WITH spine AS (
           SELECT strftime(('1995-01-01'::DATE + INTERVAL (i) MONTH),
                    '%Y-%m') AS ship_month
           FROM range(0, 84) r(i)),
         nat AS (SELECT n_name FROM nation
                 WHERE n_name IN ('NATION_3', 'NATION_24')),
         counts AS (
           SELECT n_name, strftime(l_shipdate, '%Y-%m') AS ship_month,
                  count(*) AS cnt
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           WHERE n_name IN ('NATION_3', 'NATION_24')
           GROUP BY n_name, ship_month)
         SELECT nat.n_name, spine.ship_month, coalesce(cnt, 0) AS cnt
         FROM nat CROSS JOIN spine
         LEFT JOIN counts ON counts.n_name = nat.n_name
           AND counts.ship_month = spine.ship_month""",
    "event_transitions" ->
      """WITH nxt AS (
           SELECT event_type,
                  lead(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS next_type
           FROM events),
         pc AS (SELECT event_type, next_type, count(*) AS cnt
                FROM nxt WHERE next_type IS NOT NULL
                GROUP BY event_type, next_type)
         SELECT event_type, next_type, cnt,
                round(cnt / sum(cnt) OVER (PARTITION BY event_type), 6)
                  AS prob
         FROM pc""",
    "value_streaks" ->
      """WITH brk AS (
           SELECT user_id, ts, event_id, value,
             CASE WHEN lag(value) OVER w IS NULL
                    OR value <= lag(value) OVER w THEN 1 ELSE 0 END AS brk
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         isl AS (
           SELECT user_id,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
           FROM brk),
         lens AS (SELECT user_id, island, count(*) AS len
                  FROM isl GROUP BY user_id, island)
         SELECT user_id, max(len) AS longest_streak
         FROM lens GROUP BY user_id""",
    "jaro_winkler_pairs" ->
      """WITH p AS (SELECT p_partkey AS k, p_name AS n FROM part
                    WHERE p_partkey % 7 = 0)
         SELECT a.k AS k1, b.k AS k2,
                round(jaro_winkler_similarity(a.n, b.n), 6) AS sim
         FROM p a JOIN p b
           ON substr(a.n, 1, 2) = substr(b.n, 1, 2)
           AND length(a.n) // 4 = length(b.n) // 4 AND a.k < b.k
         WHERE jaro_winkler_similarity(a.n, b.n) > 0.8999""",
    // order-dependent recurrence replayed as a per-user lockstep
    // recursive CTE; 1-alpha spelled (1 - 0.2) so both engines fold the
    // identical double constant and the recurrence matches bit-for-bit
    "ema_smooth" ->
      """WITH RECURSIVE ordered AS MATERIALIZED (
           SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS rn
           FROM events),
         r AS (
           SELECT user_id, event_id, value, rn, value AS ema
           FROM ordered WHERE rn = 1
           UNION ALL
           SELECT o.user_id, o.event_id, o.value, o.rn,
                  0.2 * o.value + (1 - 0.2) * r.ema
           FROM ordered o JOIN r ON o.user_id = r.user_id
             AND o.rn = r.rn + 1)
       SELECT user_id, event_id, value, round(ema, 6) AS ema FROM r""",
    "interpolate_hourly" ->
      """WITH hourly AS (
           SELECT user_id, epoch(date_trunc('hour', ts))::BIGINT AS hour_epoch,
                  avg(value) AS v
           FROM events GROUP BY 1, 2),
         spans AS (SELECT user_id, min(hour_epoch) AS lo,
                          max(hour_epoch) AS hi
                   FROM hourly GROUP BY user_id),
         spine AS (SELECT user_id,
                          unnest(range(lo, hi + 1, 3600)) AS hour_epoch
                   FROM spans),
         j AS (
           SELECT s.user_id, s.hour_epoch, h.v,
             last_value(h.v IGNORE NULLS) OVER w AS pv,
             last_value(CASE WHEN h.v IS NOT NULL THEN s.hour_epoch END
               IGNORE NULLS) OVER w AS ph,
             first_value(h.v IGNORE NULLS) OVER w2 AS nv,
             first_value(CASE WHEN h.v IS NOT NULL THEN s.hour_epoch END
               IGNORE NULLS) OVER w2 AS nh
           FROM spine s LEFT JOIN hourly h USING (user_id, hour_epoch)
           WINDOW w AS (PARTITION BY s.user_id ORDER BY s.hour_epoch
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  w2 AS (PARTITION BY s.user_id ORDER BY s.hour_epoch
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
       SELECT user_id, hour_epoch,
         CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS observed,
         floor((CASE WHEN v IS NOT NULL THEN v
                ELSE pv + (nv - pv) *
                  ((hour_epoch - ph)::DOUBLE / (nh - ph)) END)
               * 1000000.0 + 0.5) / 1000000.0 AS value
       FROM j""",
    "token_entropy" -> s"""$TokCte,
         tok AS (SELECT doc_id, unnest(ts) AS t FROM toks),
         cnts AS (SELECT doc_id, t, count(*) AS c FROM tok
                  GROUP BY doc_id, t)
       SELECT doc_id, cast(sum(c) AS bigint) AS n_tokens,
              count(*) AS n_types,
              round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy,
              round(cast(count(*) AS double) / sum(c), 6) AS ttr
       FROM cnts GROUP BY doc_id""",
    "numeric_hist" ->
      """WITH b AS (SELECT min(l_extendedprice) AS lo,
                           max(l_extendedprice) AS hi FROM lineitem)
         SELECT cast(least(floor((l_extendedprice - lo) * 20 / (hi - lo)),
                           19) AS int) AS bucket,
                count(*) AS cnt, round(sum(l_extendedprice), 4) AS mass
         FROM lineitem, b
         GROUP BY 1""",
    "weighted_sample" ->
      """WITH keyed AS (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
             -ln((((o_orderkey % 2147483648) * 8388593) % 1048576 + 0.5)
                 / 1048576.0) / o_totalprice AS es_key
           FROM orders),
         rnk AS (
           SELECT *, row_number() OVER (PARTITION BY o_orderpriority
                     ORDER BY es_key, o_orderkey) AS rn
           FROM keyed)
       SELECT o_orderpriority, o_orderkey, o_totalprice
       FROM rnk WHERE rn <= 10""",
    "multiset_ops" ->
      """WITH a AS (SELECT l_suppkey FROM lineitem
                    WHERE year(l_shipdate) = 1996 AND month(l_shipdate) = 3),
         b AS (SELECT l_suppkey FROM lineitem
               WHERE year(l_shipdate) = 1996 AND month(l_shipdate) = 4),
         tagged AS (
           SELECT 'except_all' AS op, l_suppkey
           FROM (SELECT l_suppkey FROM a EXCEPT ALL SELECT l_suppkey FROM b)
           UNION ALL
           SELECT 'intersect_all', l_suppkey
           FROM (SELECT l_suppkey FROM a INTERSECT ALL
                 SELECT l_suppkey FROM b))
         SELECT op, l_suppkey, count(*) AS multiplicity
         FROM tagged GROUP BY op, l_suppkey""",
    "zorder_cluster" ->
      """WITH z AS (
           SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber,
             list_sum(list_transform(range(0, 16), i ->
               (((l_partkey >> i) & 1) << (2 * i)) +
               (((l_suppkey >> i) & 1) << (2 * i + 1)))) AS z
           FROM lineitem),
         b AS (
           SELECT l_partkey, l_suppkey,
             ntile(64) OVER (ORDER BY z, l_orderkey, l_linenumber)
               AS bucket
           FROM z)
         SELECT bucket, count(*) AS n_rows,
                min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
                min(l_suppkey) AS min_sk, max(l_suppkey) AS max_sk
         FROM b GROUP BY bucket""",
    "regression_agg" ->
      """SELECT l_returnflag,
             round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
             round(regr_intercept(l_extendedprice, l_quantity), 4)
               AS intercept,
             round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
             regr_count(l_extendedprice, l_quantity) AS n_pairs
         FROM lineitem GROUP BY l_returnflag""",
    "argmax_agg" ->
      """SELECT o_orderstatus,
             max_by(o_orderpriority,
                    CAST(round(o_totalprice * 100) AS BIGINT) * 10000000
                      + o_orderkey) AS priciest_priority,
             strftime(min_by(o_orderdate,
                    CAST(round(o_totalprice * 100) AS BIGINT) * 10000000
                      + o_orderkey), '%Y-%m-%d') AS cheapest_date,
             count(*) FILTER (WHERE o_totalprice > 100000) AS n_big,
             bool_or(o_totalprice > 400000) AS any_jumbo,
             bool_and(o_totalprice > 1000) AS all_above_1k
         FROM orders
         GROUP BY o_orderstatus""",
    "media_features" ->
      """WITH ch AS (
           SELECT doc_id,
             CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
               ELSE 'video' END AS kind,
             unnest(list_transform(string_split(text, ''),
               c -> ord(c) % 16)) AS bin
           FROM documents)
         SELECT doc_id, kind, bin, count(*) AS cnt
         FROM ch GROUP BY doc_id, kind, bin""",
    "upsert_merge" ->
      """WITH latest_base AS (
           SELECT o_custkey, o_orderdate AS b_date, o_orderstatus AS b_status
           FROM (SELECT o_custkey, o_orderdate, o_orderstatus,
                   row_number() OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
                 FROM orders
                 WHERE o_orderdate < TIMESTAMP '1998-01-01') b WHERE rn = 1),
         latest_delta AS (
           SELECT o_custkey, o_orderdate AS d_date, o_orderstatus AS d_status
           FROM (SELECT o_custkey, o_orderdate, o_orderstatus,
                   row_number() OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
                 FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1998-01-01') d WHERE rn = 1)
         SELECT coalesce(b.o_custkey, d.o_custkey) AS o_custkey,
                strftime(coalesce(d_date, b_date), '%Y-%m-%d')
                  AS last_orderdate,
                coalesce(d_status, b_status) AS last_status,
                CASE WHEN d_date IS NOT NULL THEN 'delta' ELSE 'base' END
                  AS src
         FROM latest_base b FULL OUTER JOIN latest_delta d
           ON b.o_custkey = d.o_custkey""",
    "unpivot_measures" ->
      """WITH wide AS (
           SELECT l_returnflag, round(sum(l_quantity), 4) AS sum_qty,
                  round(sum(l_extendedprice), 4) AS sum_price,
                  round(sum(l_discount), 4) AS sum_disc
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM wide
         UNION ALL
         SELECT l_returnflag, 'sum_price', sum_price FROM wide
         UNION ALL
         SELECT l_returnflag, 'sum_disc', sum_disc FROM wide""",
    "embedding_centroids" ->
      """WITH ex AS (
           SELECT label,
             unnest(list_transform(range(0, len(embedding)),
               i -> {'pos': i, 'v': embedding[i + 1]})) AS e
           FROM embeddings)
         SELECT label, e.pos AS pos,
                round(avg(e.v::DOUBLE), 6) AS centroid,
                count(*) AS n_vecs
         FROM ex GROUP BY label, e.pos""",
    "funnel_conversion" ->
      """WITH ev AS (SELECT user_id, event_type,
                       epoch_ms(ts) // 1000 AS ep FROM events),
         v AS (SELECT user_id, min(ep) AS t1 FROM ev
               WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, min(ep) AS t2 FROM ev e
               JOIN v USING (user_id)
               WHERE event_type = 'click' AND e.ep > v.t1 GROUP BY e.user_id),
         p AS (SELECT e.user_id, min(ep) AS t3 FROM ev e
               JOIN c USING (user_id)
               WHERE event_type = 'purchase' AND e.ep > c.t2
               GROUP BY e.user_id)
         SELECT v.user_id,
                1 + CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END
                  + CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END AS stage
         FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""",
    "exists_subquery" ->
      """SELECT o_orderpriority, count(*) AS cnt
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate <  TIMESTAMP '1996-07-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
         GROUP BY o_orderpriority""",
    "not_in_subquery" ->
      """SELECT p_brand, count(*) AS n_parts
         FROM part
         WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem
                                 WHERE l_shipdate >= TIMESTAMP '2000-06-01'
                                   AND l_shipdate <  TIMESTAMP '2000-07-01')
         GROUP BY p_brand""",
    "scalar_subquery" ->
      """SELECT p_brand, round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE l_quantity < (SELECT 0.2 * avg(l_quantity)
                             FROM lineitem l2
                             WHERE l2.l_partkey = part.p_partkey)
         GROUP BY p_brand""",
    "outer_join_hist" ->
      """SELECT c_count, count(*) AS custdist FROM (
           SELECT c.c_custkey, count(o.o_orderkey) AS c_count
           FROM customer c LEFT OUTER JOIN orders o
             ON c.c_custkey = o.o_custkey
             AND o.o_orderpriority <> '1-URGENT'
           GROUP BY c.c_custkey) cc
         GROUP BY c_count""",
    "nullsafe_join" ->
      """WITH ev AS (
           SELECT event_type,
             CASE WHEN value >= 5 THEN (props->>'k')::INT % 10 END AS bucket
           FROM events),
         c AS (SELECT bucket, count(*) AS n_click FROM ev
               WHERE event_type = 'click' GROUP BY bucket),
         p AS (SELECT bucket, count(*) AS n_purchase FROM ev
               WHERE event_type = 'purchase' GROUP BY bucket)
         SELECT c.bucket, n_click, n_purchase
         FROM c JOIN p ON c.bucket IS NOT DISTINCT FROM p.bucket""",
    "first_last_window" ->
      """WITH wv AS (
           SELECT user_id,
             first_value(event_type) OVER w AS first_et,
             last_value(event_type) OVER w AS last_et,
             nth_value(event_type, 2) OVER w AS second_et
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
         SELECT user_id, max(first_et) AS first_et, max(last_et) AS last_et,
                max(second_et) AS second_et
         FROM wv GROUP BY user_id""",
    "leading_tokens" -> s"""$TokCte,
         lead AS (SELECT unnest(list_transform(
                    range(1, least(3, len(ts)) + 1),
                    i -> {'pos': i, 'token': ts[i]})) AS e
                  FROM toks WHERE len(ts) > 0),
         counts AS (SELECT e.pos AS pos, e.token AS token, count(*) AS cnt
                    FROM lead GROUP BY e.pos, e.token)
         SELECT pos, token, cnt, rnk FROM (
           SELECT pos, token, cnt,
                  row_number() OVER (PARTITION BY pos
                    ORDER BY cnt DESC, token) AS rnk
           FROM counts) WHERE rnk <= 3""",
    "pattern_scrub" ->
      """SELECT doc_id,
           len(regexp_extract_all(text, '\b(customer|key|value)\b'))
             AS n_matches,
           length(regexp_replace(text, '\b(customer|key|value)\b', '<X>', 'g'))
             AS scrubbed_len
         FROM documents""",
    "repetition_frac" -> s"""$TokCte,
         sh AS (SELECT doc_id,
                  list_transform(range(1, len(ts) - 1),
                    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) AS shs
                FROM toks WHERE len(ts) >= 3)
         SELECT doc_id, len(shs) AS total,
                round(1.0 - len(list_distinct(shs))::DOUBLE / len(shs), 6)
                  AS rep_frac
         FROM sh""",
    "stratified_sample" ->
      """SELECT doc_id, lang FROM documents
         WHERE ((doc_id % 2147483648) * 8388593) % 100 <
           CASE WHEN lang = 'en' THEN 10 ELSE 40 END""",
    "train_test_split" ->
      """SELECT split, lang, count(*) AS n_docs FROM (
           SELECT lang,
             CASE WHEN h < 80 THEN 'train'
                  WHEN h < 90 THEN 'valid'
                  ELSE 'test' END AS split
           FROM (SELECT lang,
                   ((doc_id % 2147483648) * 8388593) % 100 AS h
                 FROM documents)) s
         GROUP BY split, lang""",
    "seq_packing" -> s"""${TokCte.replace("WITH toks", "WITH RECURSIVE toks")},
         counts AS MATERIALIZED (
           SELECT doc_id, doc_id % 8 AS bucket, len(ts) AS n_tokens,
                  row_number() OVER (PARTITION BY doc_id % 8
                    ORDER BY doc_id) AS rn
           FROM toks),
         packed AS (
           SELECT bucket, rn, doc_id, n_tokens,
                  0::BIGINT AS bin, n_tokens AS fill
           FROM counts WHERE rn = 1
           UNION ALL
           SELECT c.bucket, c.rn, c.doc_id, c.n_tokens,
             CASE WHEN p.fill + c.n_tokens > 256
               THEN p.bin + 1 ELSE p.bin END,
             CASE WHEN p.fill + c.n_tokens > 256
               THEN c.n_tokens ELSE p.fill + c.n_tokens END
           FROM packed p JOIN counts c
             ON c.bucket = p.bucket AND c.rn = p.rn + 1)
         SELECT doc_id, bucket, bin, fill FROM packed""",
    "contamination" -> s"""$TokCte,
         sh AS MATERIALIZED (
           SELECT doc_id, list_distinct(
             CASE WHEN len(ts) >= 4
               THEN list_transform(range(1, len(ts) - 2),
                 i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' ||
                      ts[i+3])
               ELSE [array_to_string(ts, ' ')] END) AS shs
           FROM toks),
         ex AS MATERIALIZED (SELECT doc_id, unnest(shs) AS sh FROM sh),
         ev AS (SELECT DISTINCT sh FROM ex WHERE doc_id % 50 = 0)
         SELECT a.doc_id, count(*) AS n_shared
         FROM ex a JOIN ev ON a.sh = ev.sh
         WHERE a.doc_id % 50 <> 0
         GROUP BY a.doc_id""",
    "sgd_train" -> sgdTrainOracle(),
    "sgd_train_shuffled" -> sgdTrainOracle(sgdShuffledOrder(42L)),
    "sgd_apply" -> sgdApplyOracle,
    "sgd_ensemble_avg" -> s"""$sgdEnsembleCte
         SELECT docid, label, round((s0 + s1 + s2) / 3, 6) AS score,
           CASE WHEN (s0 + s1 + s2) / 3 > 0 THEN 'spam' ELSE 'ham' END AS pred
         FROM scored""",
    "sgd_ensemble_vote" -> s"""$sgdEnsembleCte
         SELECT docid, label,
           (CASE WHEN s0 > 0 THEN 1 ELSE -1 END) +
           (CASE WHEN s1 > 0 THEN 1 ELSE -1 END) +
           (CASE WHEN s2 > 0 THEN 1 ELSE -1 END) AS votes,
           CASE WHEN (CASE WHEN s0 > 0 THEN 1 ELSE -1 END) +
                     (CASE WHEN s1 > 0 THEN 1 ELSE -1 END) +
                     (CASE WHEN s2 > 0 THEN 1 ELSE -1 END) > 0
                THEN 'spam' ELSE 'ham' END AS pred
         FROM scored""",
    "ppr_top10" -> pprOracleSql(Seq(1L, 2L), 8, 10, danglingFree = true),
    "k_core" -> kCoreOracleSql(3, 6),
    "k_truss" -> kTrussOracleSql(3, 2, 0.9),
    // rich-club φ(k) ladder over the same projection; exact counts,
    // one division per k
    "rich_club" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
         co AS (SELECT a.l_suppkey AS s1, b.l_suppkey AS s2,
                       count(*) AS c
                FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                  AND a.l_suppkey < b.l_suppkey
                GROUP BY 1, 2),
         thr AS (SELECT quantile_cont(c, 0.9) AS t FROM co),
         e AS (SELECT s1 AS u, s2 AS v FROM co, thr WHERE c >= t),
         deg AS (SELECT x, count(*)::BIGINT AS d FROM
                   (SELECT u AS x FROM e UNION ALL SELECT v FROM e)
                 GROUP BY x),
         md AS (SELECT least(du.d, dv.d) AS md
                FROM e JOIN deg du ON du.x = e.u
                       JOIN deg dv ON dv.x = e.v),
         ks AS (SELECT unnest([4, 8, 16, 32, 64, 128]) AS k),
         nk AS (SELECT k, sum(CASE WHEN d > k THEN 1 ELSE 0 END)::BIGINT
                    AS n_rich
                FROM deg CROSS JOIN ks GROUP BY k),
         ek AS (SELECT k, sum(CASE WHEN md > k THEN 1 ELSE 0 END)::BIGINT
                    AS e_rich
                FROM md CROSS JOIN ks GROUP BY k)
         SELECT nk.k, n_rich, e_rich,
                CASE WHEN n_rich > 1 THEN
                  floor(2.0 * e_rich / (n_rich * (n_rich - 1)) * 1e6
                        + 0.5) / 1e6
                ELSE 0.0 END AS phi
         FROM nk JOIN ek USING (k) ORDER BY k""",
    // Flesch over the shared tokenizer; per-doc scores on the 1e-4
    // grid before the per-source mean; corpus-ratio wps/spw
    "readability" ->
      """WITH d AS (
           SELECT source,
             len(list_filter(list_transform(
               string_split_regex(lower(text), '\s+'),
               t -> regexp_replace(t, '(^[^a-z]+|[^a-z]+$)', '', 'g')),
               t -> len(t) > 0))::BIGINT AS w,
             greatest(1, len(regexp_extract_all(text, '[.!?]+')))::BIGINT
               AS sn,
             len(regexp_extract_all(lower(text), '[aeiouy]+'))::BIGINT
               AS y
           FROM documents),
         f AS (
           SELECT source, w, sn, y,
             CAST(floor((206.835 - 1.015 * (w::DOUBLE / sn)
                         - 84.6 * (y::DOUBLE / w)) * 1e4 + 0.5) AS BIGINT)
               AS fi
           FROM d WHERE w > 0)
         SELECT source, count(*)::BIGINT AS n_docs,
                floor(sum(w)::DOUBLE / sum(sn) * 1e6 + 0.5) / 1e6
                  AS words_per_sent,
                floor(sum(y)::DOUBLE / sum(w) * 1e6 + 0.5) / 1e6
                  AS syll_per_word,
                floor(sum(fi)::DOUBLE / count(*) / 1e4 * 1e6 + 0.5) / 1e6
                  AS mean_flesch
         FROM f GROUP BY source ORDER BY source""",
    // LIX: exact word/sentence/long-word sums, two divisions, no libm
    "lix_readability" ->
      """WITH d AS (
           SELECT source,
             list_filter(list_transform(
               string_split_regex(lower(text), '\s+'),
               t -> regexp_replace(t, '(^[^a-z]+|[^a-z]+$)', '', 'g')),
               t -> len(t) > 0) AS ts,
             greatest(1, len(regexp_extract_all(text, '[.!?]+')))
               ::BIGINT AS sn
           FROM documents),
         f AS (SELECT source, len(ts)::BIGINT AS w,
                 len(list_filter(ts, t -> len(t) > 6))::BIGINT AS lw,
                 sn
               FROM d WHERE len(ts) > 0)
         SELECT source, count(*)::BIGINT AS n_docs,
           sum(w)::BIGINT AS words, sum(sn)::BIGINT AS sentences,
           sum(lw)::BIGINT AS long_words,
           floor((sum(w)::DOUBLE / sum(sn)::DOUBLE +
             100.0 * sum(lw)::DOUBLE / sum(w)::DOUBLE) * 1e4 + 0.5)
             / 1e4 AS lix
         FROM f GROUP BY source ORDER BY source""",
    // MSTTR-25: full 25-token segments, exact distinct counts, one
    // division per source
    "msttr_diversity" ->
      """WITH d AS (
           SELECT doc_id, source,
             list_filter(list_transform(
               string_split_regex(lower(text), '\s+'),
               t -> regexp_replace(t, '(^[^a-z]+|[^a-z]+$)', '', 'g')),
               t -> len(t) > 0) AS ts
           FROM documents),
         ex AS (SELECT source, doc_id,
                  (generate_subscripts(ts, 1) - 1) // 25 AS seg,
                  (generate_subscripts(ts, 1) - 1) AS pos,
                  len(ts) AS lenl, unnest(ts) AS t
                FROM d),
         segs AS (SELECT source, doc_id, seg,
                    count(DISTINCT t)::BIGINT AS nd
                  FROM ex WHERE pos // 25 < lenl // 25
                  GROUP BY 1, 2, 3)
         SELECT source, count(*)::BIGINT AS n_segments,
           floor(sum(nd)::DOUBLE / (25 * count(*))::DOUBLE * 1e6 + 0.5)
             / 1e6 AS msttr
         FROM segs GROUP BY source ORDER BY source""",
    "hits_scores" -> hitsOracleSql(3, 20),
    "mix_weights" ->
      """WITH per AS (
           SELECT source, count(*) AS n_docs,
             sum(len(regexp_extract_all(text, '\S+')))::BIGINT AS n_tokens
           FROM documents GROUP BY source),
         w AS (SELECT source, n_docs, n_tokens,
             round(pow(n_tokens, 0.3), 6) AS wr FROM per),
         tot AS (SELECT sum(wr) AS tw, sum(n_tokens)::BIGINT AS tn FROM w)
         SELECT source, n_docs, n_tokens,
           round(wr / tw, 6) AS weight,
           round(wr / tw * tn / n_tokens, 6) AS sample_factor
         FROM w CROSS JOIN tot""",
    "vocab_coverage" -> s"""$TokCte,
         tok AS (SELECT unnest(ts) AS t FROM toks),
         counts AS MATERIALIZED (SELECT t, count(*) AS c FROM tok GROUP BY t),
         tot AS (SELECT sum(c)::BIGINT AS total, count(*) AS vocab
                 FROM counts),
         ranked AS (SELECT c, row_number() OVER (ORDER BY c DESC, t) AS r
                    FROM counts),
         th AS (SELECT unnest([10, 100, 1000]) AS n_top)
         SELECT n_top, vocab AS vocab_size, sum(c)::BIGINT AS covered,
           round(sum(c)::BIGINT / total, 9) AS coverage
         FROM th JOIN ranked ON r <= n_top CROSS JOIN tot
         GROUP BY n_top, vocab, total""",
    "phrase_query" -> s"""$TokCte,
         pos AS (SELECT doc_id,
             unnest(list_transform(range(1, len(ts) + 1),
               i -> {'p': i, 'term': ts[i]})) AS u
           FROM toks),
         pp AS (SELECT doc_id, u.p AS p, u.term AS term FROM pos
                WHERE u.term IN ('order', 'fast'))
         SELECT a.doc_id AS doc_id, count(*) AS n_occur
         FROM pp a JOIN pp b
           ON a.doc_id = b.doc_id AND b.p = a.p + 1
         WHERE a.term = 'order' AND b.term = 'fast'
         GROUP BY a.doc_id""",
    "adamic_adar" -> s"""WITH $GraphCte,
         deg AS (SELECT c, count(*) AS deg FROM pairs GROUP BY c),
         wb AS (SELECT p.c, p.sup, 1.0 / ln(deg) AS w
                FROM pairs p JOIN deg USING (c)
                WHERE deg BETWEEN 2 AND 64),
         sc AS (SELECT a.sup AS s1, b.sup AS s2,
                  round(sum(a.w), 6) AS aa_score, count(*) AS common
                FROM wb a JOIN wb b ON a.c = b.c AND a.sup < b.sup
                GROUP BY a.sup, b.sup)
         SELECT s1, s2, aa_score, common FROM sc
         ORDER BY aa_score DESC, s1, s2 LIMIT 50""",
    // Jaccard link prediction on the same degree-capped wedges as
    // adamic_adar — integer counts, one division, no ln
    "jaccard_link_pred" -> s"""WITH $GraphCte,
         deg AS (SELECT c, count(*) AS deg FROM pairs GROUP BY c),
         cap AS (SELECT p.c, p.sup FROM pairs p JOIN deg USING (c)
                 WHERE deg BETWEEN 2 AND 64),
         degs AS (SELECT sup, count(*)::BIGINT AS d FROM cap
                  GROUP BY 1),
         com AS (SELECT a.sup AS s1, b.sup AS s2,
                   count(*)::BIGINT AS common
                 FROM cap a JOIN cap b ON a.c = b.c AND a.sup < b.sup
                 GROUP BY 1, 2)
         SELECT s1, s2, common, (d1 + d2 - common)::BIGINT AS union_sz,
           floor(common::DOUBLE / (d1 + d2 - common)::DOUBLE * 1e6
             + 0.5) / 1e6 AS jaccard
         FROM (SELECT com.s1, com.s2, com.common, a.d AS d1, b.d AS d2
               FROM com JOIN degs a ON com.s1 = a.sup
               JOIN degs b ON com.s2 = b.sup)
         ORDER BY jaccard DESC, s1, s2 LIMIT 50""",
    // preferential attachment: exact integer degree products over the
    // same wedge candidates
    "preferential_attachment" -> s"""WITH $GraphCte,
         deg AS (SELECT c, count(*) AS deg FROM pairs GROUP BY c),
         cap AS (SELECT p.c, p.sup FROM pairs p JOIN deg USING (c)
                 WHERE deg BETWEEN 2 AND 64),
         degs AS (SELECT sup, count(*)::BIGINT AS d FROM cap
                  GROUP BY 1),
         cand AS (SELECT DISTINCT a.sup AS s1, b.sup AS s2
                  FROM cap a JOIN cap b ON a.c = b.c
                    AND a.sup < b.sup)
         SELECT s1, s2, a.d AS d1, b.d AS d2,
           (a.d * b.d)::BIGINT AS pa_score
         FROM cand JOIN degs a ON s1 = a.sup JOIN degs b ON s2 = b.sup
         ORDER BY pa_score DESC, s1, s2 LIMIT 50""",
    "top_paths" ->
      """WITH e AS (
           SELECT user_id, event_id, ts, event_type,
                  CASE WHEN lag(epoch_ms(ts) // 1000) OVER w IS NULL
                         OR epoch_ms(ts) // 1000
                            - lag(epoch_ms(ts) // 1000) OVER w > 1800
                       THEN 1 ELSE 0 END AS new_s
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING)::BIGINT AS session_seq FROM e),
         r AS (
           SELECT user_id, session_seq, event_type,
                  row_number() OVER (PARTITION BY user_id, session_seq
                    ORDER BY ts, event_id) AS rn
           FROM s),
         p AS (
           SELECT user_id, session_seq,
                  string_agg(event_type, '>' ORDER BY rn) AS path
           FROM r WHERE rn <= 3 GROUP BY user_id, session_seq)
         SELECT path, count(*) AS n_sessions FROM p GROUP BY path
         ORDER BY n_sessions DESC, path LIMIT 15""",
    "naive_bayes" -> s"""$TokCte,
         docs AS (SELECT d.doc_id, ts, (lang = 'en')::INT AS y
                  FROM documents d JOIN toks USING (doc_id)),
         tok AS (SELECT doc_id, y, unnest(ts) AS tkn FROM docs),
         tc AS (SELECT tkn, sum(y)::BIGINT AS c1,
                  sum(1 - y)::BIGINT AS c0 FROM tok GROUP BY tkn),
         tot AS (SELECT sum(c1)::BIGINT AS n1, sum(c0)::BIGINT AS n0,
                  count(*) AS v FROM tc),
         nd AS (SELECT sum(y)::BIGINT AS d1, count(*) AS d FROM docs),
         sc AS (SELECT doc_id,
                  sum(ln((c1 + 1.0) / (n1 + v))
                      - ln((c0 + 1.0) / (n0 + v))) AS llr_tok
                FROM tok JOIN tc USING (tkn) CROSS JOIN tot
                GROUP BY doc_id),
         fin AS (SELECT ds.doc_id,
                  round(coalesce(llr_tok, 0.0)
                        + ln(d1 / (d - d1)), 6) AS llr
                 FROM docs ds LEFT JOIN sc USING (doc_id) CROSS JOIN nd)
         SELECT doc_id, llr,
                CASE WHEN llr > 0 THEN 'en' ELSE 'other' END AS pred
         FROM fin""",
    "prf_metrics" -> s"""SELECT tp, fp, fn, tn,
           round(tp / (tp + fp), 6) AS prec,
           round(tp / (tp + fn), 6) AS rec,
           round((tp + tp) / (tp + tp + fp + fn), 6) AS f1,
           round((tp + tn) / (tp + fp + fn + tn), 6) AS accuracy
         FROM (SELECT
           sum(CASE WHEN label = 1.0 AND pred = 'spam' THEN 1 ELSE 0 END)
             ::BIGINT AS tp,
           sum(CASE WHEN label = 0.0 AND pred = 'spam' THEN 1 ELSE 0 END)
             ::BIGINT AS fp,
           sum(CASE WHEN label = 1.0 AND pred = 'ham' THEN 1 ELSE 0 END)
             ::BIGINT AS fn,
           sum(CASE WHEN label = 0.0 AND pred = 'ham' THEN 1 ELSE 0 END)
             ::BIGINT AS tn
          FROM ($sgdApplyOracle))""",
    // MCC over the same confusion cells; margin products as one
    // pinned-order double chain
    "mcc_threshold" -> s"""SELECT tp, fp, fn, tn,
           CASE WHEN sqrt((tp + fp)::DOUBLE * (tp + fn)::DOUBLE *
               (tn + fp)::DOUBLE * (tn + fn)::DOUBLE) > 0
             THEN floor((tp::DOUBLE * tn::DOUBLE -
               fp::DOUBLE * fn::DOUBLE) /
               sqrt((tp + fp)::DOUBLE * (tp + fn)::DOUBLE *
                 (tn + fp)::DOUBLE * (tn + fn)::DOUBLE) * 1e6 + 0.5)
               / 1e6
             ELSE 0.0 END AS mcc
         FROM (SELECT
           sum(CASE WHEN label = 1.0 AND pred = 'spam' THEN 1 ELSE 0 END)
             ::BIGINT AS tp,
           sum(CASE WHEN label = 0.0 AND pred = 'spam' THEN 1 ELSE 0 END)
             ::BIGINT AS fp,
           sum(CASE WHEN label = 1.0 AND pred = 'ham' THEN 1 ELSE 0 END)
             ::BIGINT AS fn,
           sum(CASE WHEN label = 0.0 AND pred = 'ham' THEN 1 ELSE 0 END)
             ::BIGINT AS tn
          FROM ($sgdApplyOracle))""",
    // nprobe sweep: one assignment pass, probe-rank cutoffs per sweep
    // point, engine brute-force truth
    "nprobe_recall_sweep" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                    FROM embeddings),
         cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e
                  WHERE vec_id < 16),
         assigned AS (SELECT vec_id, v, centroid_id FROM (
             SELECT e.vec_id, e.v, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
                          c.centroid_id) AS rn
             FROM e CROSS JOIN cent c) WHERE rn = 1),
         plist AS (SELECT query_id, qv, centroid_id, pr FROM (
             SELECT q.vec_id AS query_id, q.v AS qv, c.centroid_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.v, c.cv) DESC,
                          c.centroid_id) AS pr
             FROM e q CROSS JOIN cent c WHERE q.vec_id < 10)
           WHERE pr <= 8),
         swept AS (SELECT p.query_id, a.vec_id,
             list_cosine_similarity(a.v, p.qv) AS sim, p.pr, np.nprobe
           FROM assigned a JOIN plist p USING (centroid_id)
           CROSS JOIN (SELECT unnest([1, 2, 4, 8])::BIGINT AS nprobe)
             np
           WHERE a.vec_id <> p.query_id AND p.pr <= np.nprobe),
         approx AS (SELECT nprobe, query_id, vec_id FROM (
             SELECT nprobe, query_id, vec_id,
               row_number() OVER (PARTITION BY nprobe, query_id
                 ORDER BY sim DESC, vec_id) AS rn
             FROM swept) WHERE rn <= 10),
         truth AS (SELECT query_id, vec_id FROM (
             SELECT q.vec_id AS query_id, e2.vec_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(e2.v, q.v) DESC,
                          e2.vec_id) AS rn
             FROM e q CROSS JOIN e e2
             WHERE q.vec_id < 10 AND e2.vec_id <> q.vec_id)
           WHERE rn <= 10),
         ncand AS (SELECT nprobe, count(*)::BIGINT AS n_candidates
                   FROM swept GROUP BY 1),
         hits AS (SELECT nprobe, count(*)::BIGINT AS hits
                  FROM approx JOIN truth USING (query_id, vec_id)
                  GROUP BY 1)
         SELECT nc.nprobe, nc.n_candidates,
           floor(coalesce(hits, 0)::DOUBLE / 100.0 * 1e6 + 0.5) / 1e6
             AS recall
         FROM ncand nc LEFT JOIN hits USING (nprobe)
         ORDER BY nprobe""",
    // inventory policy: exact daily-demand moments, driver-literal
    // constants, pinned sqrt chains
    "inventory_policy" ->
      """WITH daily AS (SELECT p_brand, l_shipdate AS day,
             sum(CAST(l_quantity AS BIGINT))::BIGINT AS dq
           FROM lineitem JOIN part ON l_partkey = p_partkey
           GROUP BY 1, 2),
         g AS (SELECT p_brand, count(*)::BIGINT AS n,
                 sum(dq)::BIGINT AS d, sum(dq * dq)::BIGINT AS q2
               FROM daily GROUP BY 1)
         SELECT p_brand, n AS n_days, d AS total_qty,
           floor(sqrt((2.0 * d::DOUBLE * 100.0) / 2.0) * 1e4 + 0.5)
             / 1e4 AS eoq,
           floor((1.6448536269514722 *
             sqrt((q2::DOUBLE - (d::DOUBLE * d::DOUBLE) / n::DOUBLE)
               / (n::DOUBLE - 1.0)) * sqrt(7.0)) * 1e4 + 0.5) / 1e4
             AS safety_stock,
           floor((d::DOUBLE / n::DOUBLE * 7.0 + 1.6448536269514722 *
             sqrt((q2::DOUBLE - (d::DOUBLE * d::DOUBLE) / n::DOUBLE)
               / (n::DOUBLE - 1.0)) * sqrt(7.0)) * 1e4 + 0.5) / 1e4
             AS reorder_point
         FROM g ORDER BY p_brand""",
    // Pareto front on (length, distinct): sort-and-cummax skyline,
    // integer-only decisions
    "pareto_front" -> s"""$TokCte,
         d AS (SELECT doc_id, len(ts)::BIGINT AS len,
                 len(list_distinct(ts))::BIGINT AS dist
               FROM toks WHERE len(ts) > 0),
         bylen AS (SELECT len, max(dist)::BIGINT AS maxd FROM d
                   GROUP BY 1),
         fl AS (SELECT len, maxd,
                  max(maxd) OVER (ORDER BY len DESC ROWS BETWEEN
                    UNBOUNDED PRECEDING AND 1 PRECEDING) AS m1
                FROM bylen),
         front AS (SELECT len, maxd FROM fl
                   WHERE m1 IS NULL OR maxd > m1)
         SELECT doc_id, d.len AS n_tokens, dist AS n_distinct
         FROM d JOIN front ON d.len = front.len AND d.dist = front.maxd
         ORDER BY n_tokens DESC, doc_id LIMIT 50""",
    "skew_report" ->
      """SELECT n_rows, n_keys, max_cnt,
           round(n_rows / n_keys, 6) AS avg_cnt,
           round(max_cnt * n_keys / n_rows, 6) AS skew_factor
         FROM (SELECT sum(c)::BIGINT AS n_rows, count(*) AS n_keys,
                 max(c) AS max_cnt
               FROM (SELECT count(*) AS c FROM lineitem
                     GROUP BY l_orderkey))""",
    "incremental_agg" ->
      """SELECT event_type, count(*) AS n_events,
           round(sum(value::DECIMAL(18,6))::DOUBLE, 4) AS sum_value,
           min(value) AS min_value, max(value) AS max_value
         FROM events GROUP BY event_type""",
    "table_checksums" ->
      """SELECT doc_id % 64 AS bucket, count(*) AS n_rows,
           sum((doc_id * 8388593 + n_chars * 31) % 2147483648)::BIGINT
             AS checksum
         FROM documents GROUP BY bucket""",
    "label_prop" -> s"""WITH $GraphCte,
         l0 AS (SELECT id, id AS lbl FROM nodes),
         c1 AS (SELECT e.src AS id, l.lbl, count(*) AS cnt
                FROM edges e JOIN l0 l ON e.dst = l.id GROUP BY 1, 2),
         l1 AS (SELECT id, lbl FROM (
                  SELECT id, lbl, row_number() OVER
                    (PARTITION BY id ORDER BY cnt DESC, lbl) AS rn
                  FROM c1) WHERE rn = 1),
         c2 AS (SELECT e.src AS id, l.lbl, count(*) AS cnt
                FROM edges e JOIN l1 l ON e.dst = l.id GROUP BY 1, 2),
         l2 AS (SELECT id, lbl FROM (
                  SELECT id, lbl, row_number() OVER
                    (PARTITION BY id ORDER BY cnt DESC, lbl) AS rn
                  FROM c2) WHERE rn = 1),
         c3 AS (SELECT e.src AS id, l.lbl, count(*) AS cnt
                FROM edges e JOIN l2 l ON e.dst = l.id GROUP BY 1, 2),
         l3 AS (SELECT id, lbl FROM (
                  SELECT id, lbl, row_number() OVER
                    (PARTITION BY id ORDER BY cnt DESC, lbl) AS rn
                  FROM c3) WHERE rn = 1)
         SELECT lbl AS community, count(*) AS members FROM l3
         GROUP BY lbl ORDER BY members DESC, community LIMIT 20""",
    // same 3 label-prop rounds, then Newman Q from exact integer
    // counts, each community term on a 1e-12 LONG grid
    "modularity" -> s"""WITH $GraphCte,
         l0 AS (SELECT id, id AS lbl FROM nodes),
         c1 AS (SELECT e.src AS id, l.lbl, count(*) AS cnt
                FROM edges e JOIN l0 l ON e.dst = l.id GROUP BY 1, 2),
         l1 AS (SELECT id, lbl FROM (
                  SELECT id, lbl, row_number() OVER
                    (PARTITION BY id ORDER BY cnt DESC, lbl) AS rn
                  FROM c1) WHERE rn = 1),
         c2 AS (SELECT e.src AS id, l.lbl, count(*) AS cnt
                FROM edges e JOIN l1 l ON e.dst = l.id GROUP BY 1, 2),
         l2 AS (SELECT id, lbl FROM (
                  SELECT id, lbl, row_number() OVER
                    (PARTITION BY id ORDER BY cnt DESC, lbl) AS rn
                  FROM c2) WHERE rn = 1),
         c3 AS (SELECT e.src AS id, l.lbl, count(*) AS cnt
                FROM edges e JOIN l2 l ON e.dst = l.id GROUP BY 1, 2),
         l3 AS (SELECT id, lbl FROM (
                  SELECT id, lbl, row_number() OVER
                    (PARTITION BY id ORDER BY cnt DESC, lbl) AS rn
                  FROM c3) WHERE rn = 1),
         det AS (SELECT count(*)::BIGINT AS de FROM edges),
         intra AS (SELECT ls.lbl, count(*)::BIGINT AS inc
                   FROM edges e JOIN l3 ls ON e.src = ls.id
                   JOIN l3 ld ON e.dst = ld.id
                   WHERE ls.lbl = ld.lbl GROUP BY ls.lbl),
         degc AS (SELECT l.lbl, count(*)::BIGINT AS dc
                  FROM edges e JOIN l3 l ON e.src = l.id GROUP BY l.lbl),
         per AS (SELECT CAST(floor((coalesce(i.inc, 0)::DOUBLE / de -
                   (d.dc::DOUBLE / de) * (d.dc::DOUBLE / de)) * 1e12
                   + 0.5) AS BIGINT) AS qi
                 FROM degc d LEFT JOIN intra i USING (lbl) CROSS JOIN det)
         SELECT count(*)::BIGINT AS n_communities,
           (SELECT de // 2 FROM det)::BIGINT AS m_edges,
           floor(sum(qi)::DOUBLE / 1e12 * 1e6 + 0.5) / 1e6 AS modularity
         FROM per""",
    "dsir_weights" ->
      """WITH dtoks AS (
           SELECT doc_id, lang,
             list_filter(list_transform(string_split_regex(lower(text), '\s+'),
               t -> regexp_replace(t, '(^[^a-z]+|[^a-z]+$)', '', 'g')),
               t -> len(t) > 0) AS ts
           FROM documents),
         tfc AS (SELECT doc_id, lang, w, count(*)::BIGINT AS c
                 FROM (SELECT doc_id, lang, unnest(ts) AS w FROM dtoks)
                 GROUP BY 1, 2, 3),
         raw AS (SELECT w, sum(c)::BIGINT AS rc FROM tfc GROUP BY w),
         tgt AS (SELECT w, sum(c)::BIGINT AS tc FROM tfc
                 WHERE lang = 'en' GROUP BY w),
         lm AS (SELECT r.w, rc, coalesce(tc, 0)::BIGINT AS tc
                FROM raw r LEFT JOIN tgt USING (w)),
         tot AS (SELECT sum(rc)::BIGINT AS rtot, sum(tc)::BIGINT AS ttot,
                   count(*)::BIGINT AS v FROM lm),
         lr AS (SELECT w, round(
                  ln((tc + 1)::DOUBLE / (ttot + v))
                    - ln((rc + 1)::DOUBLE / (rtot + v)), 9) AS lr
                FROM lm, tot)
         SELECT doc_id, round(sum(c * lr), 6) AS log_weight
         FROM tfc JOIN lr USING (w)
         GROUP BY doc_id ORDER BY log_weight DESC, doc_id LIMIT 50""",
    "source_overlap" ->
      """WITH stoks AS (
           SELECT source,
             list_filter(list_transform(string_split_regex(lower(text), '\s+'),
               t -> regexp_replace(t, '(^[^a-z]+|[^a-z]+$)', '', 'g')),
               t -> len(t) > 0) AS ts
           FROM documents),
         sh AS (
           SELECT source, list_distinct(
             CASE WHEN len(ts) >= 3
               THEN list_transform(range(1, len(ts) - 1),
                      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
               ELSE [array_to_string(ts, ' ')] END) AS shs
           FROM stoks),
         ex AS (SELECT DISTINCT source, sh
                FROM (SELECT source, unnest(shs) AS sh FROM sh)),
         sizes AS (SELECT source, count(*)::BIGINT AS n
                   FROM ex GROUP BY source),
         inter AS (SELECT a.source AS src_a, b.source AS src_b,
                     count(*)::BIGINT AS inter
                   FROM ex a JOIN ex b
                     ON a.sh = b.sh AND a.source < b.source
                   GROUP BY 1, 2)
         SELECT src_a, src_b, inter,
           round(inter / (sa.n + sb.n - inter), 6) AS jaccard
         FROM inter
         JOIN sizes sa ON src_a = sa.source
         JOIN sizes sb ON src_b = sb.source
         ORDER BY src_a, src_b""",
    "ols_trend" ->
      """WITH daily AS (
           SELECT event_type, epoch_ms(ts) // 1000 // 86400 AS day,
             count(*)::BIGINT AS y
           FROM events GROUP BY 1, 2),
         stats AS (
           SELECT event_type, count(*)::BIGINT AS n_days,
             sum(day)::BIGINT AS sx, sum(y)::BIGINT AS sy,
             sum(day * y)::BIGINT AS sxy, sum(day * day)::BIGINT AS sxx
           FROM daily GROUP BY event_type)
         SELECT event_type, n_days,
           round((n_days * sxy - sx * sy)::DOUBLE
             / (n_days * sxx - sx * sx), 6) AS slope,
           round((sy * sxx - sx * sxy)::DOUBLE
             / (n_days * sxx - sx * sx), 6) AS intercept
         FROM stats ORDER BY event_type""",
    "markov_stationary" ->
      """WITH seq AS (
           SELECT event_type, lead(event_type) OVER
             (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
           FROM events),
         tr AS (SELECT event_type AS cur, nxt, count(*)::BIGINT AS c
                FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
         tot AS (SELECT cur, sum(c)::BIGINT AS tc FROM tr GROUP BY cur),
         p AS (SELECT cur, nxt, round(c / tc, 9) AS p
               FROM tr JOIN tot USING (cur)),
         states AS (SELECT DISTINCT cur AS st FROM tr),
         v0 AS (SELECT st,
                  round(1.0 / (SELECT count(*) FROM states), 9) AS vp
                FROM states),
         v1 AS (SELECT nxt AS st, round(sum(vp * p), 9) AS vp
                FROM v0 JOIN p ON st = cur GROUP BY nxt),
         v2 AS (SELECT nxt AS st, round(sum(vp * p), 9) AS vp
                FROM v1 JOIN p ON st = cur GROUP BY nxt),
         v3 AS (SELECT nxt AS st, round(sum(vp * p), 9) AS vp
                FROM v2 JOIN p ON st = cur GROUP BY nxt)
         SELECT st AS state, round(vp, 6) AS prob FROM v3 ORDER BY state""",
    "attribution" ->
      """WITH ev AS (
           SELECT user_id, event_type, epoch_ms(ts) // 1000 AS ep, event_id
           FROM events),
         pur AS (SELECT user_id, ep AS pep, event_id AS pid
                 FROM ev WHERE event_type = 'purchase'),
         tch AS (SELECT * FROM ev WHERE event_type <> 'purchase'),
         r AS (SELECT p.user_id, p.pid, t.event_type,
                 row_number() OVER (PARTITION BY p.user_id, p.pid
                   ORDER BY t.ep, t.event_id) AS rf,
                 row_number() OVER (PARTITION BY p.user_id, p.pid
                   ORDER BY t.ep DESC, t.event_id DESC) AS rl
               FROM pur p JOIN tch t ON p.user_id = t.user_id
                 AND t.ep < p.pep AND t.ep >= p.pep - 7 * 86400),
         ft AS (SELECT event_type AS channel, count(*)::BIGINT AS first_touch
                FROM r WHERE rf = 1 GROUP BY 1),
         lt AS (SELECT event_type AS channel, count(*)::BIGINT AS last_touch
                FROM r WHERE rl = 1 GROUP BY 1)
         SELECT coalesce(f.channel, l.channel) AS channel,
           coalesce(first_touch, 0)::BIGINT AS first_touch,
           coalesce(last_touch, 0)::BIGINT AS last_touch
         FROM ft f FULL JOIN lt l ON f.channel = l.channel
         ORDER BY channel""",
    "scd2_history" ->
      """WITH base AS (
           SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             lag(o_orderpriority) OVER
               (PARTITION BY o_custkey
                ORDER BY o_orderdate, o_orderkey) AS prev
           FROM orders),
         ch AS (SELECT * FROM base
                WHERE prev IS NULL OR prev <> o_orderpriority)
         SELECT o_custkey AS custkey, o_orderpriority AS priority,
           strftime(o_orderdate, '%Y-%m-%d') AS eff_from,
           strftime(lead(o_orderdate) OVER w2, '%Y-%m-%d') AS eff_to,
           row_number() OVER w2 AS version
         FROM ch
         WINDOW w2 AS (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey)""",
    "calibration_bins" -> s"""SELECT
           least(floor(round((1.0 / (1.0 + exp(-score))) * 10, 5))::INT, 9)
             AS bin,
           count(*) AS n,
           round(avg(1.0 / (1.0 + exp(-score))), 6) AS mean_p,
           round(avg(label), 6) AS frac_pos
         FROM ($sgdApplyOracle) GROUP BY bin""",
    "q13_shape" ->
      """SELECT c_count, count(*) AS custdist FROM (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT JOIN orders
             ON c_custkey = o_custkey AND o_orderpriority <> '3-MEDIUM'
           GROUP BY c_custkey)
         GROUP BY c_count""",
    "q17_shape" ->
      """WITH pp AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#13'),
         j AS (SELECT l_partkey, l_quantity, l_extendedprice
               FROM lineitem JOIN pp ON l_partkey = p_partkey),
         th AS (SELECT l_partkey AS pk, 0.2 * avg(l_quantity) AS thresh
                FROM j GROUP BY l_partkey)
         SELECT round(sum(l_extendedprice::DECIMAL(18,2))::DOUBLE / 7.0, 2)
                  AS avg_yearly
         FROM j JOIN th ON l_partkey = pk
         WHERE l_quantity < thresh""",
    "kmeans_embed" -> kmeansOracleSql(4, 3),
    // exact fixpoint of min-label propagation = min reachable id, which
    // a recursive closure computes directly
    "graph_components" -> s"""WITH RECURSIVE $GraphCte,
         walk(id, comp) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.id),
         lab AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id)
         SELECT comp, count(*) AS size FROM lab GROUP BY comp""",
    "q1_filter_count" ->
      """SELECT count(*) AS cnt FROM lineitem
         WHERE year(l_shipdate)=1996 AND month(l_shipdate)=3""",
    "q1_filter_count_year" ->
      """SELECT count(*) AS cnt FROM lineitem
         WHERE year(l_shipdate)=1996""",
    "q1_filter_count_day" ->
      """SELECT count(*) AS cnt FROM lineitem
         WHERE year(l_shipdate)=1996 AND month(l_shipdate)=3
           AND day(l_shipdate)=15""",
    "q2_join_topk" ->
      """SELECT o_orderpriority, l_orderkey FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         WHERE year(l_shipdate)=1996 AND month(l_shipdate)=3
         ORDER BY l_orderkey, o_orderpriority LIMIT 20""",
    "q3_broadcast_join" ->
      """SELECT l_orderkey, l_linenumber, p_name, s_name FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         WHERE year(l_shipdate)=1996 AND month(l_shipdate)=3
         ORDER BY l_orderkey, l_linenumber LIMIT 20""",
    "q4_nation_agg" ->
      """SELECT n_nationkey, n_name, count(*) AS cnt FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE year(l_shipdate)=1996 AND month(l_shipdate)=3
         GROUP BY n_nationkey, n_name ORDER BY n_nationkey""",
    "q5_monthly" ->
      """SELECT n_name, strftime(l_shipdate, '%Y-%m') AS ship_month,
                count(*) AS cnt
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE n_name IN ('NATION_3', 'NATION_24')
         GROUP BY n_name, ship_month ORDER BY n_name, ship_month""",
    "q6_multi_agg" ->
      """SELECT l_returnflag, l_linestatus,
                round(sum(l_quantity), 4) AS sum_qty,
                round(sum(l_extendedprice), 4) AS sum_base_price,
                round(sum(l_extendedprice*(1-l_discount)), 4) AS sum_disc_price,
                round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)), 4) AS sum_charge,
                round(avg(l_quantity), 6) AS avg_qty,
                round(avg(l_extendedprice), 6) AS avg_price,
                round(avg(l_discount), 6) AS avg_disc,
                count(*) AS count_order
         FROM lineitem WHERE year(l_shipdate)=1996
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q7_top_revenue" ->
      """SELECT c_name, l_orderkey,
                strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                o_orderstatus,
                round(sum(l_extendedprice*(1-l_discount)), 4) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE o_orderdate < TIMESTAMP '1998-06-01'
           AND l_shipdate > TIMESTAMP '1998-06-01'
         GROUP BY c_name, l_orderkey, strftime(o_orderdate, '%Y-%m-%d'),
                  o_orderstatus
         ORDER BY sum(l_extendedprice*(1-l_discount)) DESC, l_orderkey
         LIMIT 10""",
    "word_count" -> s"""$TokCte
         SELECT word, count(*) AS cnt
         FROM (SELECT unnest(ts) AS word FROM toks) GROUP BY word""",
    "prefix_count" -> s"""$TokCte
         SELECT substring(word, 1, 2) AS prefix, count(*) AS cnt
         FROM (SELECT unnest(ts) AS word FROM toks)
         WHERE length(word) >= 2 GROUP BY prefix""",
    "bigram_rel_freq" -> s"""$TokCte,
         bg AS (SELECT ts[i] AS w1, ts[i+1] AS w2
                FROM toks, unnest(range(1, len(ts))) AS u(i)
                WHERE len(ts) >= 2)
         SELECT w1, w2, count(*) AS cnt,
                count(*)::DOUBLE / sum(count(*)) OVER (PARTITION BY w1) AS rf
         FROM bg GROUP BY w1, w2""",
    "textrank_keywords" -> textrankOracleSql(),
    "pmi_pairs" -> """WITH toks AS (
           SELECT list_distinct(list_filter(list_transform(
             string_split_regex(lower(text), '\s+'),
             t -> regexp_replace(t, '(^[^a-z]+|[^a-z]+$)', '', 'g')),
             t -> len(t) > 0)[1:100]) AS ts
           FROM documents),
         total AS (SELECT count(*) AS n_lines FROM toks),
         marg AS (SELECT w, count(*) AS cw
                  FROM (SELECT unnest(ts) AS w FROM toks) GROUP BY w),
         prs AS (SELECT w1, unnest(ts) AS w2
                 FROM (SELECT ts, unnest(ts) AS w1 FROM toks)),
         pairs AS (SELECT w1, w2, count(*) AS cnt FROM prs
                   WHERE w1 <> w2 GROUP BY w1, w2 HAVING count(*) >= 10)
         SELECT p.w1, p.w2, p.cnt,
                round(log10(p.cnt * t.n_lines / (m1.cw * m2.cw)), 6) AS pmi
         FROM pairs p
         CROSS JOIN total t
         JOIN marg m1 ON p.w1 = m1.w
         JOIN marg m2 ON p.w2 = m2.w""",
    "inverted_index" -> s"""$TokCte
         SELECT term, doc_id, count(*) AS tf
         FROM (SELECT doc_id, unnest(ts) AS term FROM toks)
         GROUP BY term, doc_id""",
    "term_df" -> s"""$TokCte
         SELECT term, count(DISTINCT doc_id) AS df
         FROM (SELECT doc_id, unnest(ts) AS term FROM toks)
         GROUP BY term""",
    "postings_lists" -> s"""$TokCte,
         p AS (SELECT term, doc_id, count(*) AS tf
               FROM (SELECT doc_id, unnest(ts) AS term FROM toks)
               GROUP BY term, doc_id)
         SELECT term, count(*) AS df,
                string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
         FROM p GROUP BY term""",
    "bool_and" -> s"""$TokCte
         SELECT doc_id FROM (SELECT doc_id, unnest(ts) AS term FROM toks)
           WHERE term = 'hash'
         INTERSECT
         SELECT doc_id FROM (SELECT doc_id, unnest(ts) AS term FROM toks)
           WHERE term = 'join'""",
    "bool_postfix_fetch" -> s"""$TokCte,
         hits AS (
           (SELECT doc_id FROM (SELECT doc_id, unnest(ts) AS term FROM toks)
              WHERE term = 'hash'
            INTERSECT
            SELECT doc_id FROM (SELECT doc_id, unnest(ts) AS term FROM toks)
              WHERE term = 'join')
           UNION
           SELECT doc_id FROM (SELECT doc_id, unnest(ts) AS term FROM toks)
             WHERE term = 'scan')
         SELECT h.doc_id, d.text FROM hits h JOIN documents d USING (doc_id)""",
    "dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents GROUP BY text""",
    "dedup_jaccard" -> JaccardSql,
    // lossless prefix filter ⇒ must reproduce the exact join bit-for-bit
    "jaccard_prefix_filter" -> JaccardSql,
    // MinHash+LSH with 64 hashes / 16 bands has ~0.9998+ recall at
    // j>=0.8 and exact-Jaccard verification of candidates, so on
    // non-adversarial data its result equals the exact operator's.
    "dedup_minhash" -> JaccardSql,
    // band sweep over the oracle-replicable poly-hash minhash: both
    // engines build identical signatures, band keys, and candidates
    "lsh_band_sweep" -> {
      val k = graft.operators.Dedup.MhA.length
      val p = graft.operators.Dedup.MhP
      val mins = graft.operators.Dedup.MhA
        .zip(graft.operators.Dedup.MhB)
        .map { case (a, b) =>
          s"list_min(list_transform(hv, h -> (h * ${a} + ${b}) % ${p}))"
        }
        .mkString("[", ",\n               ", "]")
      val bandSel = Seq(4, 8, 16).map { bc =>
        val r = k / bc
        s"""SELECT ${bc}::BIGINT AS bands, doc_id, b,
              array_to_string(list_transform(
                sig[b * $r + 1 : b * $r + $r], x -> x::VARCHAR), '_')
                AS key
            FROM sig2, (SELECT unnest(range(0, $bc)) AS b)"""
      }.mkString(" UNION ALL ")
      s"""$TokCte,
         sh AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(ts) >= 3
               THEN list_transform(range(1, len(ts) - 1),
                      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
               ELSE [array_to_string(ts, ' ')] END) AS shs
           FROM toks),
         hs AS (
           SELECT doc_id,
             list_transform(shs, s -> list_reduce(
               list_prepend(0::BIGINT,
                 list_transform(string_split(s, ''),
                   c -> ord(c)::BIGINT)),
               (acc, c) -> (acc * 31 + c) % 1099511627776)) AS hv
           FROM sh),
         sig2 AS (SELECT doc_id, $mins AS sig FROM hs),
         banded AS ($bandSel),
         cand AS (SELECT DISTINCT l.bands, l.doc_id AS doc_a,
             r.doc_id AS doc_b
           FROM banded l JOIN banded r
             ON l.bands = r.bands AND l.b = r.b AND l.key = r.key
               AND l.doc_id < r.doc_id),
         ex AS (SELECT doc_id, unnest(shs) AS sh FROM sh),
         szs AS (SELECT doc_id, len(shs)::BIGINT AS nsh FROM sh),
         truth AS (
           SELECT doc_a, doc_b FROM (
             SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               count(*)::BIGINT AS inter
             FROM ex a JOIN ex b ON a.sh = b.sh
               AND a.doc_id < b.doc_id
             GROUP BY 1, 2) i
           JOIN szs sa ON doc_a = sa.doc_id
           JOIN szs sb ON doc_b = sb.doc_id
           WHERE inter * 100 >= (sa.nsh + sb.nsh - inter) * 80),
         nt AS (SELECT count(*)::BIGINT AS n_true FROM truth),
         det AS (SELECT bands, count(*)::BIGINT AS n_detected
                 FROM cand JOIN truth USING (doc_a, doc_b) GROUP BY 1),
         nc AS (SELECT bands, count(*)::BIGINT AS n_candidates
                FROM cand GROUP BY 1)
         SELECT nc.bands, ($k // nc.bands)::BIGINT AS rows_per_band,
           n_candidates, n_true,
           coalesce(n_detected, 0)::BIGINT AS n_detected,
           CASE WHEN n_true > 0
             THEN floor(coalesce(n_detected, 0)::DOUBLE /
               n_true::DOUBLE * 1e6 + 0.5) / 1e6
             ELSE 0.0 END AS recall,
           CASE WHEN n_candidates > 0
             THEN floor(coalesce(n_detected, 0)::DOUBLE /
               n_candidates::DOUBLE * 1e6 + 0.5) / 1e6
             ELSE 0.0 END AS cand_precision
         FROM nc LEFT JOIN det USING (bands) CROSS JOIN nt
         ORDER BY bands"""
    },
    // exact all-pairs containment >= 0.9 (the LSH candidate recall at
    // this threshold is 1 on the fixture — see the dedup_minhash note)
    "doc_containment" -> s"""$TokCte,
         sh AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(ts) >= 3
               THEN list_transform(range(1, len(ts) - 1),
                      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
               ELSE [array_to_string(ts, ' ')] END) AS shs
           FROM toks),
         ex AS (SELECT doc_id, unnest(shs) AS sh FROM sh),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*)::BIGINT AS inter
           FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         f AS (SELECT doc_a, doc_b, inter,
                 least(sa.n, sb.n)::BIGINT AS min_sz
               FROM inter
               JOIN (SELECT doc_id, len(shs) AS n FROM sh) sa
                 ON doc_a = sa.doc_id
               JOIN (SELECT doc_id, len(shs) AS n FROM sh) sb
                 ON doc_b = sb.doc_id),
         c AS (SELECT doc_a, doc_b, inter, min_sz,
                 floor(inter::DOUBLE / min_sz::DOUBLE * 1e6 + 0.5)
                   / 1e6 AS containment
               FROM f)
         SELECT doc_a, doc_b, inter, min_sz, containment,
           (CASE WHEN inter = min_sz THEN 1 ELSE 0 END)::BIGINT
             AS subset_flag
         FROM c WHERE containment >= 0.9
         ORDER BY doc_a, doc_b""",
    // 40-bit simhash restated: per-token poly fold + 2×(mult/xorshift)
    // mixing (all mod 2^40, matching SimHash40), per-bit ±1 votes,
    // 4×10-bit bank join, exact Hamming check
    "dedup_simhash" -> SimhashSql,
    // simhash candidates + exact edit-distance verify (length-difference
    // prefilter mirrors the operator's cheap pre-cut)
    "dedup_fuzzy" -> s"""WITH cand AS ($SimhashSql)
         SELECT c.doc_a, c.doc_b, levenshtein(a.text, b.text) AS edit
         FROM cand c
         JOIN documents a ON c.doc_a = a.doc_id
         JOIN documents b ON c.doc_b = b.doc_id
         WHERE abs(len(a.text) - len(b.text)) <= 40
           AND levenshtein(a.text, b.text) <= 40""",
    // dup clusters are transitive closures over the near-dup pair graph;
    // canonical id = min reachable doc id, singletons keep themselves
    "dedup_assign" -> s"""WITH RECURSIVE prs AS ($JaccardSql),
         edges AS (SELECT doc_a AS s, doc_b AS d FROM prs
                   UNION ALL SELECT doc_b, doc_a FROM prs),
         walk(id, comp) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.d, w.comp FROM walk w JOIN edges e ON e.s = w.id)
         SELECT id AS doc_id, min(comp) AS canonical_id
         FROM walk GROUP BY id""",
    // dup-cluster shape audit: components via the recursive walk
    // (labels only need consistency — only aggregates surface);
    // density as an exact integral division on the 1e-9 grid
    "cluster_density_audit" -> s"""WITH RECURSIVE prs AS ($JaccardSql),
         edges AS (SELECT doc_a AS s, doc_b AS d FROM prs
                   UNION ALL SELECT doc_b, doc_a FROM prs),
         nodes0 AS (SELECT DISTINCT s AS id FROM edges),
         walk(id, comp) AS (
           SELECT id, id FROM nodes0
           UNION
           SELECT e.d, w.comp FROM walk w JOIN edges e ON e.s = w.id),
         cmp AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
         nn AS (SELECT comp, count(*)::BIGINT AS n FROM cmp GROUP BY 1),
         ee AS (SELECT c.comp, count(*)::BIGINT AS e
                FROM prs p JOIN cmp c ON p.doc_a = c.id GROUP BY 1),
         dg AS (SELECT c.comp, max(d.deg)::BIGINT AS md
                FROM (SELECT s AS id, count(*)::BIGINT AS deg
                      FROM edges GROUP BY 1) d
                JOIN cmp c ON d.id = c.id GROUP BY 1),
         cl AS (SELECT nn.comp, n, e, md,
                  ((2000000000 * e) // (n * (n - 1)))::BIGINT AS d9
                FROM nn JOIN ee USING (comp) JOIN dg USING (comp)),
         g AS (SELECT count(*)::BIGINT AS k,
                 coalesce(sum(n), 0)::BIGINT AS n_dup_docs,
                 coalesce(max(n), 0)::BIGINT AS max_cluster_size,
                 coalesce(sum(CASE WHEN e * 2 = n * (n - 1) THEN 1
                   ELSE 0 END), 0)::BIGINT AS n_cliques,
                 coalesce(sum(CASE WHEN e = n - 1 AND n >= 3
                   AND md <= 2 THEN 1
                   ELSE 0 END), 0)::BIGINT AS n_tree_chains,
                 coalesce(sum(d9), 0)::BIGINT AS sd9
               FROM cl)
         SELECT k AS n_clusters, n_dup_docs, max_cluster_size,
           n_cliques, n_tree_chains,
           CASE WHEN k > 0
             THEN floor(sd9::DOUBLE / k::DOUBLE / 1e9 * 1e6 + 0.5)
               / 1e6
             ELSE 0.0 END AS mean_density
         FROM g""",
    // near-dup x quality 2x2: grid median by the cumulative rule,
    // exact cells, pinned odds-ratio chain
    "dup_quality_matrix" -> s"""WITH prs AS ($JaccardSql),
         qual AS ($QualitySql),
         q6t AS (SELECT doc_id,
             CAST(floor(quality * 1e6 + 0.5) AS BIGINT) AS q6
           FROM qual),
         dups AS (SELECT DISTINCT doc_id FROM (
             SELECT doc_a AS doc_id FROM prs
             UNION ALL SELECT doc_b FROM prs)),
         byq AS (SELECT q6, count(*)::BIGINT AS ct FROM q6t GROUP BY 1),
         tot AS (SELECT sum(ct)::BIGINT AS nn FROM byq),
         med AS (SELECT min(q6)::BIGINT AS medq FROM (
             SELECT q6, sum(ct) OVER (ORDER BY q6
               ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
             FROM byq) c CROSS JOIN tot
           WHERE cum * 2 >= nn),
         fl AS (SELECT
             CASE WHEN d.doc_id IS NULL THEN 0 ELSE 1 END AS dup,
             CASE WHEN q6 > medq THEN 1 ELSE 0 END AS above
           FROM q6t q LEFT JOIN dups d USING (doc_id) CROSS JOIN med),
         g AS (SELECT count(*)::BIGINT AS n_docs,
             sum(CASE WHEN dup = 1 AND above = 1 THEN 1 ELSE 0 END)
               ::BIGINT AS dup_above,
             sum(CASE WHEN dup = 1 AND above = 0 THEN 1 ELSE 0 END)
               ::BIGINT AS dup_below,
             sum(CASE WHEN dup = 0 AND above = 1 THEN 1 ELSE 0 END)
               ::BIGINT AS clean_above,
             sum(CASE WHEN dup = 0 AND above = 0 THEN 1 ELSE 0 END)
               ::BIGINT AS clean_below
           FROM fl)
         SELECT n_docs, dup_above, dup_below, clean_above, clean_below,
           CASE WHEN dup_below > 0 AND clean_above > 0
             THEN floor((dup_above::DOUBLE * clean_below::DOUBLE) /
               (dup_below::DOUBLE * clean_above::DOUBLE) * 1e6 + 0.5)
               / 1e6
             ELSE 0.0 END AS odds_ratio,
           CASE WHEN dup_above + clean_above > 0
             THEN floor(dup_above::DOUBLE /
               (dup_above + clean_above)::DOUBLE * 1e6 + 0.5) / 1e6
             ELSE 0.0 END AS dup_rate_above,
           CASE WHEN dup_below + clean_below > 0
             THEN floor(dup_below::DOUBLE /
               (dup_below + clean_below)::DOUBLE * 1e6 + 0.5) / 1e6
             ELSE 0.0 END AS dup_rate_below
         FROM g""",
    // capstone composition: quality ∧ english ∧ dedup-survivor
    "curation_pipeline" -> s"""WITH RECURSIVE prs AS ($JaccardSql),
         edges AS (SELECT doc_a AS s, doc_b AS d FROM prs
                   UNION ALL SELECT doc_b, doc_a FROM prs),
         walk(id, comp) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.d, w.comp FROM walk w JOIN edges e ON e.s = w.id),
         canon AS (SELECT id AS doc_id, min(comp) AS canonical_id
                   FROM walk GROUP BY id),
         qual AS ($QualitySql),
         lang AS ($LangIdSql)
         SELECT doc_id, q.n_tokens, q.quality
         FROM qual q JOIN lang USING (doc_id) JOIN canon USING (doc_id)
         WHERE lang.pred_lang = 'en' AND q.quality >= 0.2
           AND canonical_id = doc_id""",
    // sketch results are engine-specific; the oracle pins the exact
    // values and the deterministic "sketch within tolerance" flags
    "approx_agg" ->
      """SELECT l_returnflag,
                count(DISTINCT l_orderkey) AS exact_orders,
                round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_p50,
                TRUE AS acd_ok, TRUE AS ap50_ok
         FROM lineitem GROUP BY l_returnflag""",
    // bloom prefilter + semi join = exactly the semi join
    "bloom_semi_join" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice
         FROM orders o
         WHERE EXISTS (SELECT 1 FROM customer c
                       WHERE c.c_custkey = o.o_custkey
                         AND c.c_acctbal > 9000)""",
    // decode oracle + the same floor fit-to-256 arithmetic
    "media_resize" -> s"""WITH dec AS ($MediaHashCte
         SELECT doc_id, kind,
           CASE kind WHEN 'image' THEN 64 + (hv % 4032)
                     ELSE 320 + (hv % 1600) END AS width,
           CASE kind WHEN 'image' THEN 64 + ((hv // 256) % 4032)
                     ELSE 240 + ((hv // 256) % 840) END AS height
         FROM mh WHERE kind != 'audio')
         SELECT doc_id, kind, width, height,
           CASE WHEN greatest(width, height) > 256
                THEN floor(width * 256 / greatest(width, height))::INT
                ELSE width END AS new_w,
           CASE WHEN greatest(width, height) > 256
                THEN floor(height * 256 / greatest(width, height))::INT
                ELSE height END AS new_h,
           greatest(width, height) > 256 AS resized
         FROM dec""",
    // native session_window semantics: inclusive-overlap merge (break
    // only at diff > gap, verified by spec) at microsecond precision;
    // end = last + gap
    "session_window_agg" ->
      """WITH e AS (
           SELECT user_id, value, epoch_us(ts) AS us,
                  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                            > 1800000000
                       THEN 1 ELSE 0 END AS new_s
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us
             ROWS UNBOUNDED PRECEDING)::BIGINT AS seq FROM e)
         SELECT user_id, min(us) // 1000000 AS start_epoch,
                (max(us) + 1800000000) // 1000000 AS end_epoch,
                count(*) AS n_events, round(sum(value), 4) AS sum_value
         FROM s GROUP BY user_id, seq""",
    // the salt only spreads rows; the joined result is the plain join
    "skew_join_salted" ->
      """SELECT p_brand, count(*) AS cnt,
                round(sum(l_extendedprice), 4) AS rev
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand""",
    "moving_avg" ->
      """SELECT user_id, event_id, ep, value,
                round(avg(value) OVER w, 6) AS mov_avg,
                count(*) OVER w AS mov_cnt
         FROM (SELECT user_id, event_id, epoch_ms(ts) // 1000 AS ep, value
               FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY ep
                      RANGE BETWEEN 300 PRECEDING AND CURRENT ROW)""",
    // each event belongs to exactly two 1h/30min sliding windows; their
    // starts are the two preceding 1800s grid points
    "sliding_window" ->
      """WITH e AS (SELECT event_type, value, epoch_ms(ts) // 1000 AS ep
                    FROM events),
           x AS (SELECT event_type, value,
                        unnest([ep - ep % 1800, ep - ep % 1800 - 1800])
                          AS win_start
                 FROM e)
         SELECT win_start, event_type, count(*) AS cnt,
                round(sum(value), 4) AS sum_value
         FROM x GROUP BY win_start, event_type""",
    "rank_fns" ->
      """SELECT * FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
                  round(percent_rank() OVER w, 6) AS pct_rank,
                  round(cume_dist() OVER w, 6) AS cum_dist,
                  ntile(4) OVER w AS quartile
           FROM orders
           WINDOW w AS (PARTITION BY o_orderpriority
                        ORDER BY o_totalprice DESC, o_orderkey))
         WHERE o_orderkey % 10 = 0""",
    "grouping_sets_agg" ->
      """SELECT l_returnflag, l_linestatus,
                (grouping(l_returnflag) * 2 + grouping(l_linestatus))::BIGINT
                  AS gid,
                count(*) AS cnt, round(sum(l_quantity), 4) AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""",
    "ngram_profile" ->
      """WITH g AS (
           SELECT lang, unnest(list_transform(range(1, len(lt) - 1),
                  i -> lt[i : i + 2])) AS gram
           FROM (SELECT lang, lower(text) AS lt FROM documents)
           WHERE len(lt) >= 3),
         c AS (SELECT lang, gram, count(*) AS cnt FROM g GROUP BY lang, gram)
         SELECT lang, gram, cnt, rnk FROM (
           SELECT lang, gram, cnt,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY cnt DESC, gram) AS rnk
           FROM c) WHERE rnk <= 10""",
    "knn_brute" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                    FROM embeddings WHERE vec_id < 10),
              e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         SELECT query_id, vec_id, round(sim, 6) AS sim FROM (
           SELECT q.query_id, e.vec_id,
                  list_cosine_similarity(q.qv, e.v) AS sim,
                  row_number() OVER (PARTITION BY q.query_id
                    ORDER BY list_cosine_similarity(q.qv, e.v) DESC, e.vec_id)
                    AS rn
           FROM q CROSS JOIN e WHERE e.vec_id <> q.query_id)
         WHERE rn <= 5""",
    // deterministic IVF (centroids = first 16 vectors, argmax assignment,
    // 4-probe): same window logic as Similarity.ivfTopK, so exact parity
    "knn_ivf" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e
                    WHERE vec_id < 16),
           assigned AS (
             SELECT vec_id, v, centroid_id FROM (
               SELECT e.vec_id, e.v, c.centroid_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
                            c.centroid_id) AS rn
               FROM e CROSS JOIN cent c) WHERE rn = 1),
           probes AS (
             SELECT query_id, qv, centroid_id FROM (
               SELECT q.vec_id AS query_id, q.v AS qv, c.centroid_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.v, c.cv) DESC,
                            c.centroid_id) AS rn
               FROM e q CROSS JOIN cent c WHERE q.vec_id < 10) WHERE rn <= 4)
         SELECT query_id, vec_id, round(sim, 6) AS sim FROM (
           SELECT p.query_id, a.vec_id,
                  list_cosine_similarity(a.v, p.qv) AS sim,
                  row_number() OVER (PARTITION BY p.query_id
                    ORDER BY list_cosine_similarity(a.v, p.qv) DESC,
                             a.vec_id) AS rn
           FROM assigned a JOIN probes p USING (centroid_id)
           WHERE a.vec_id <> p.query_id) WHERE rn <= 5""",
    "dedup_embedding" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                round(list_cosine_similarity(a.v, b.v), 6) AS sim
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.v, b.v) >= 0.45""",
    // IVF-candidate kNN with EVERY vector as a query; exact-integer
    // agreement counts after the top-k cut (mirrors
    // Similarity.knnLabelConsistency)
    "knn_label_consistency" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
                    FROM embeddings),
           cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e
                    WHERE vec_id < 16),
           assigned AS (
             SELECT vec_id, v, label, centroid_id FROM (
               SELECT e.vec_id, e.v, e.label, c.centroid_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
                            c.centroid_id) AS rn
               FROM e CROSS JOIN cent c) WHERE rn = 1),
           probes AS (
             SELECT query_id, qv, qlabel, centroid_id FROM (
               SELECT q.vec_id AS query_id, q.v AS qv,
                 q.label AS qlabel, c.centroid_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.v, c.cv) DESC,
                            c.centroid_id) AS rn
               FROM e q CROSS JOIN cent c) WHERE rn <= 4),
           topk AS (
             SELECT query_id, qlabel, label FROM (
               SELECT p.query_id, p.qlabel, a.label,
                 row_number() OVER (PARTITION BY p.query_id
                   ORDER BY list_cosine_similarity(a.v, p.qv) DESC,
                            a.vec_id) AS rn
               FROM assigned a JOIN probes p USING (centroid_id)
               WHERE a.vec_id <> p.query_id) WHERE rn <= 5),
           per AS (
             SELECT query_id, qlabel, count(*)::BIGINT AS kn,
               sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END)::BIGINT
                 AS ag
             FROM topk GROUP BY 1, 2)
         SELECT qlabel::BIGINT AS label, count(*)::BIGINT AS n_vecs,
           floor(sum(ag)::DOUBLE / sum(kn) * 1e6 + 0.5) / 1e6
             AS consistency,
           floor(sum(CASE WHEN ag * 2 < kn THEN 1 ELSE 0 END)::DOUBLE
             / count(*) * 1e6 + 0.5) / 1e6 AS suspect_share
         FROM per GROUP BY qlabel ORDER BY label""",
    // isotropy: 1e-9-grid norms and normalized components, exact
    // HUGEINT moments, norms-of-sums as one double chain at the end
    "isotropy_audit" ->
      """WITH e AS (
           SELECT vec_id, label::VARCHAR AS label,
                  embedding::DOUBLE[] AS v
           FROM embeddings),
         n AS (
           SELECT vec_id, label, v,
             sqrt(list_reduce(list_prepend(0.0,
               list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm
           FROM e),
         base AS (
           SELECT vec_id, label,
                  CAST(floor(nrm * 1e9 + 0.5) AS BIGINT) AS n9,
                  list_transform(v, x ->
                    CAST(floor(x / nrm * 1e9 + 0.5) AS BIGINT)) AS u
           FROM n),
         lab AS (SELECT label, n9, u FROM base
                 UNION ALL SELECT '_all', n9, u FROM base),
         st AS (SELECT label, count(*)::HUGEINT AS n,
                       sum(n9)::HUGEINT AS sn,
                       sum(n9::HUGEINT * n9) AS sn2
                FROM lab GROUP BY 1),
         comp AS (
           SELECT label, pos, sum(ui)::BIGINT AS su FROM (
             SELECT label, unnest(u) AS ui,
                    generate_subscripts(u, 1) AS pos
             FROM lab) GROUP BY 1, 2),
         cs AS (SELECT label, sum(su::HUGEINT * su) AS ss2
                FROM comp GROUP BY 1)
         SELECT st.label, st.n::BIGINT AS n,
           floor(sn::DOUBLE / n::DOUBLE / 1e9 * 1e6 + 0.5) / 1e6
             AS mean_norm,
           floor(sqrt((n * sn2 - sn * sn)::DOUBLE
                      / (n * (n - 1))::DOUBLE)
                 / (sn::DOUBLE / n::DOUBLE) * 1e6 + 0.5) / 1e6
             AS norm_cv,
           floor(sqrt(ss2::DOUBLE) / n::DOUBLE / 1e9 * 1e6 + 0.5) / 1e6
             AS isotropy
         FROM st JOIN cs USING (label) ORDER BY st.label""",
    // LOF over the same IVF probe lists as knn_label_consistency:
    // grid distances, greatest-reachability, lrd ratios quantized to
    // 1e12 before the order-free sum, +1 smoothing on sum(reach)
    "lof_audit" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
                    FROM embeddings),
           cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e
                    WHERE vec_id < 16),
           assigned AS (
             SELECT vec_id, v, centroid_id FROM (
               SELECT e.vec_id, e.v, c.centroid_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
                            c.centroid_id) AS rn
               FROM e CROSS JOIN cent c) WHERE rn = 1),
           probes AS (
             SELECT query_id, qv, centroid_id FROM (
               SELECT q.vec_id AS query_id, q.v AS qv, c.centroid_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.v, c.cv) DESC,
                            c.centroid_id) AS rn
               FROM e q CROSS JOIN cent c) WHERE rn <= 4),
           topk AS (
             SELECT query_id, vec_id, di FROM (
               SELECT p.query_id, a.vec_id,
                 CAST(floor((1 - list_cosine_similarity(a.v, p.qv))
                   * 1e9 + 0.5) AS BIGINT) AS di,
                 row_number() OVER (PARTITION BY p.query_id
                   ORDER BY CAST(floor(
                     (1 - list_cosine_similarity(a.v, p.qv)) * 1e9 + 0.5)
                     AS BIGINT), a.vec_id) AS rn
               FROM assigned a JOIN probes p USING (centroid_id)
               WHERE a.vec_id <> p.query_id) WHERE rn <= 5),
           kd AS (SELECT query_id, max(di) AS kd FROM topk GROUP BY 1),
           sr AS (
             SELECT t.query_id, count(*)::BIGINT AS kn,
                    sum(greatest(t.di, o.kd))::BIGINT + 1 AS sreach
             FROM topk t JOIN kd o ON o.query_id = t.vec_id
             GROUP BY 1),
           lrdg AS (
             SELECT query_id, kn, sreach,
               CAST(floor(kn::DOUBLE / sreach * 1e12 + 0.5) AS BIGINT)
                 AS lrdg
             FROM sr),
           lf AS (
             SELECT t.query_id, count(*)::BIGINT AS kn2,
                    sum(o.lrdg)::BIGINT AS slrd
             FROM topk t JOIN lrdg o ON o.query_id = t.vec_id
             GROUP BY 1)
         SELECT l.query_id AS vec_id, e.label,
                floor(l.slrd::DOUBLE * g.sreach / (l.kn2 * l.kn2) / 1e12
                      * 1e6 + 0.5) / 1e6 AS lof
         FROM lf l JOIN lrdg g ON g.query_id = l.query_id
         JOIN e ON e.vec_id = l.query_id
         ORDER BY 3 DESC, 1 LIMIT 20""",
    // mutual top-1 over the IVF probe lists; top-1 cut on the 1e-9
    // grid distance, mutuality via the reversed-key self-join
    "mutual_nn_pairs" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e
                    WHERE vec_id < 16),
           assigned AS (
             SELECT vec_id, v, centroid_id FROM (
               SELECT e.vec_id, e.v, c.centroid_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
                            c.centroid_id) AS rn
               FROM e CROSS JOIN cent c) WHERE rn = 1),
           probes AS (
             SELECT query_id, qv, centroid_id FROM (
               SELECT q.vec_id AS query_id, q.v AS qv, c.centroid_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.v, c.cv) DESC,
                            c.centroid_id) AS rn
               FROM e q CROSS JOIN cent c) WHERE rn <= 4),
           top1 AS (
             SELECT query_id, vec_id, di FROM (
               SELECT p.query_id, a.vec_id,
                 CAST(floor((1 - list_cosine_similarity(a.v, p.qv))
                   * 1e9 + 0.5) AS BIGINT) AS di,
                 row_number() OVER (PARTITION BY p.query_id
                   ORDER BY CAST(floor(
                     (1 - list_cosine_similarity(a.v, p.qv)) * 1e9 + 0.5)
                     AS BIGINT), a.vec_id) AS rn
               FROM assigned a JOIN probes p USING (centroid_id)
               WHERE a.vec_id <> p.query_id) WHERE rn = 1)
         SELECT f.query_id AS vec_a, f.vec_id AS vec_b,
                floor((1.0 - f.di::DOUBLE / 1e9) * 1e6 + 0.5) / 1e6
                  AS sim
         FROM top1 f JOIN top1 r
           ON f.query_id = r.vec_id AND f.vec_id = r.query_id
         WHERE f.query_id < f.vec_id
         ORDER BY vec_a""",
    // recall@5 of the IVF ranking vs brute force: both pipelines are
    // the knn_brute / knn_ivf oracles verbatim, joined per query
    "ann_recall" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           bf AS (
             SELECT query_id, vec_id FROM (
               SELECT q.vec_id AS query_id, e2.vec_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.v, e2.v) DESC,
                            e2.vec_id) AS rn
               FROM e q CROSS JOIN e e2
               WHERE q.vec_id < 10 AND e2.vec_id <> q.vec_id)
             WHERE rn <= 5),
           cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e
                    WHERE vec_id < 16),
           assigned AS (
             SELECT vec_id, v, centroid_id FROM (
               SELECT e.vec_id, e.v, c.centroid_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
                            c.centroid_id) AS rn
               FROM e CROSS JOIN cent c) WHERE rn = 1),
           probes AS (
             SELECT query_id, qv, centroid_id FROM (
               SELECT q.vec_id AS query_id, q.v AS qv, c.centroid_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.v, c.cv) DESC,
                            c.centroid_id) AS rn
               FROM e q CROSS JOIN cent c WHERE q.vec_id < 10)
             WHERE rn <= 4),
           ivf AS (
             SELECT query_id, vec_id FROM (
               SELECT p.query_id, a.vec_id,
                 row_number() OVER (PARTITION BY p.query_id
                   ORDER BY list_cosine_similarity(a.v, p.qv) DESC,
                            a.vec_id) AS rn
               FROM assigned a JOIN probes p USING (centroid_id)
               WHERE a.vec_id <> p.query_id) WHERE rn <= 5)
         SELECT bf.query_id, count(ivf.vec_id)::BIGINT AS hits,
                floor(count(ivf.vec_id)::DOUBLE / 5 * 1e6 + 0.5) / 1e6
                  AS recall
         FROM bf LEFT JOIN ivf
           ON bf.query_id = ivf.query_id AND bf.vec_id = ivf.vec_id
         GROUP BY bf.query_id ORDER BY bf.query_id""",
    "chunk_plan" -> s"""$TokCte,
         d AS (SELECT doc_id, len(ts)::BIGINT AS n FROM toks
               WHERE len(ts) > 0),
         c AS (SELECT doc_id, n,
                 CASE WHEN n <= 128 THEN 1
                      ELSE (n - 32 + 95) // 96 END AS nc
               FROM d),
         ch AS (SELECT doc_id, n,
                  unnest(range(0, nc))::BIGINT AS chunk_id
                FROM c)
         SELECT doc_id, chunk_id,
                (chunk_id * 96)::BIGINT AS start_tok,
                least(128, n - chunk_id * 96)::BIGINT AS chunk_tokens
         FROM ch""",
    "tokenizer_fertility" ->
      """WITH per AS (
           SELECT lang,
             len(regexp_extract_all(text, '\S+'))::BIGINT AS ws,
             len(regexp_extract_all(lower(text),
               '[a-z]+|[0-9]|[^a-z0-9\s]'))::BIGINT AS bpe,
             length(text)::BIGINT AS ch
           FROM documents),
         g AS (
           SELECT lang, count(*)::BIGINT AS n_docs,
                  sum(ws)::BIGINT AS ws_tokens,
                  sum(bpe)::BIGINT AS bpe_tokens,
                  sum(ch)::BIGINT AS n_chars
           FROM per WHERE ws > 0 GROUP BY lang)
         SELECT lang, n_docs, ws_tokens, bpe_tokens, n_chars,
           floor(bpe_tokens::DOUBLE / ws_tokens * 1e6 + 0.5) / 1e6
             AS fertility,
           floor(n_chars::DOUBLE / bpe_tokens * 1e6 + 0.5) / 1e6
             AS chars_per_token
         FROM g ORDER BY lang""",
    "padding_waste" -> s"""$TokCte,
         d AS (SELECT len(ts)::BIGINT AS n FROM toks WHERE len(ts) > 0),
         l AS (SELECT unnest([128, 256, 512, 1024]::BIGINT[])
                 AS context_len),
         g AS (SELECT context_len, count(*)::BIGINT AS n_docs,
                 sum(n)::BIGINT AS total_tokens,
                 sum((n + context_len - 1) // context_len)::BIGINT AS n_seqs
               FROM d CROSS JOIN l GROUP BY context_len)
         SELECT context_len, n_docs, total_tokens, n_seqs,
           (n_seqs * context_len)::BIGINT AS padded_tokens,
           (n_seqs * context_len - total_tokens)::BIGINT AS pad_waste,
           floor(total_tokens::DOUBLE / (n_seqs * context_len) * 1e6 + 0.5)
             / 1e6 AS utilization
         FROM g ORDER BY context_len""",
    "epoch_plan" ->
      """WITH per AS (
           SELECT source,
             sum(len(regexp_extract_all(text, '\S+')))::BIGINT AS n_tokens
           FROM documents GROUP BY source),
         w AS (SELECT source, n_tokens,
                 round(pow(n_tokens, 0.3), 6) AS wr FROM per),
         tot AS (SELECT sum(wr) AS tw, sum(n_tokens)::BIGINT AS tn FROM w),
         p1 AS (SELECT source, n_tokens, round(wr / tw, 6) AS weight,
                  (tn * 3)::BIGINT AS budget FROM w CROSS JOIN tot),
         p2 AS (SELECT *, CAST(floor(weight * budget + 0.5) AS BIGINT)
                  AS desired_tokens FROM p1),
         p3 AS (SELECT source, n_tokens, weight, desired_tokens,
                  least(desired_tokens, n_tokens * 4)::BIGINT
                    AS allocated_tokens,
                  desired_tokens > n_tokens * 4 AS clamped, budget
                FROM p2),
         a AS (SELECT sum(allocated_tokens)::BIGINT AS alloc FROM p3)
         SELECT source, n_tokens, weight, desired_tokens, allocated_tokens,
           clamped,
           floor(allocated_tokens::DOUBLE / n_tokens * 1e6 + 0.5) / 1e6
             AS epochs,
           floor(alloc::DOUBLE / budget * 1e6 + 0.5) / 1e6 AS budget_fill
         FROM p3 CROSS JOIN a ORDER BY source""",
    "filter_funnel" -> FilterFunnelSql,
    "minhash_est_error" -> MinhashEstErrorSql,
    "dedup_savings" -> s"""WITH RECURSIVE prs AS ($JaccardSql),
         edges AS (SELECT doc_a AS s, doc_b AS d FROM prs
                   UNION ALL SELECT doc_b, doc_a FROM prs),
         walk(id, comp) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.d, w.comp FROM walk w JOIN edges e ON e.s = w.id),
         canon AS (SELECT id AS doc_id, min(comp) AS canonical_id
                   FROM walk GROUP BY id),
         tk AS (
           SELECT doc_id, source,
             len(list_filter(list_transform(
               string_split_regex(lower(text), '\\s+'),
               t -> regexp_replace(t, '(^[^a-z]+|[^a-z]+$$)', '', 'g')),
               t -> len(t) > 0))::BIGINT AS n
           FROM documents),
         j AS (SELECT t.source, t.n, t.doc_id, c.canonical_id
               FROM tk t JOIN canon c USING (doc_id)),
         g AS (SELECT source, count(*)::BIGINT AS n_docs,
                 sum(n)::BIGINT AS total_tokens,
                 sum(CASE WHEN doc_id <> canonical_id THEN 1 ELSE 0
                   END)::BIGINT AS removed_docs,
                 sum(CASE WHEN doc_id <> canonical_id THEN n ELSE 0
                   END)::BIGINT AS removed_tokens
               FROM j GROUP BY source)
         SELECT source, n_docs, total_tokens, removed_docs, removed_tokens,
           CASE WHEN total_tokens > 0
             THEN floor(removed_tokens::DOUBLE / total_tokens * 1e6 + 0.5)
               / 1e6
             ELSE 0.0 END AS savings
         FROM g ORDER BY source""",
    "term_burstiness" -> s"""$TokCte,
         pd AS (SELECT doc_id, unnest(ts) AS t FROM toks),
         pc AS (SELECT doc_id, t, count(*)::BIGINT AS c
                FROM pd GROUP BY doc_id, t),
         st AS (SELECT t, sum(c)::BIGINT AS cf, count(*)::BIGINT AS df,
                  sum(c * c)::BIGINT AS s2
                FROM pc GROUP BY t),
         nn AS (SELECT count(*)::BIGINT AS n FROM documents),
         top AS (SELECT * FROM st ORDER BY cf DESC, t LIMIT 40)
         SELECT t AS term, cf, df,
           floor((s2::DOUBLE / cf - cf::DOUBLE / n) * 1e6 + 0.5) / 1e6
             AS burstiness
         FROM top CROSS JOIN nn ORDER BY cf DESC, term""",
    "ngram_diversity" -> s"""$TokCte,
         base AS (SELECT d.source, t.ts
                  FROM toks t JOIN documents d USING (doc_id)),
         g1 AS (SELECT source, 1 AS n, unnest(ts) AS gram FROM base),
         g2 AS (SELECT source, 2 AS n,
                  unnest(CASE WHEN len(ts) >= 2
                    THEN list_transform(range(1, len(ts)),
                           i -> ts[i] || ' ' || ts[i+1])
                    ELSE []::VARCHAR[] END) AS gram
                FROM base),
         g3 AS (SELECT source, 3 AS n,
                  unnest(CASE WHEN len(ts) >= 3
                    THEN list_transform(range(1, len(ts) - 1),
                           i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
                    ELSE []::VARCHAR[] END) AS gram
                FROM base),
         all_g AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2
                   UNION ALL SELECT * FROM g3)
         SELECT source, n, count(*)::BIGINT AS total_grams,
           count(DISTINCT gram)::BIGINT AS distinct_grams,
           floor(count(DISTINCT gram)::DOUBLE / count(*) * 1e6 + 0.5) / 1e6
             AS diversity
         FROM all_g GROUP BY source, n ORDER BY source, n""",
    "eval_alloc" ->
      """WITH tk AS (
           SELECT lang,
             len(list_filter(list_transform(
               string_split_regex(lower(text), '\s+'),
               t -> regexp_replace(t, '(^[^a-z]+|[^a-z]+$)', '', 'g')),
               t -> len(t) > 0))::BIGINT AS n
           FROM documents),
         per AS (SELECT lang, count(*)::BIGINT AS n_docs,
                   sum(n)::BIGINT AS sn, sum(n * n)::BIGINT AS s2
                 FROM tk GROUP BY lang),
         pi AS (SELECT lang, n_docs, sn,
                  CAST(floor(sqrt(greatest(0.0,
                    (s2::DOUBLE - sn::DOUBLE * sn / n_docs) / n_docs))
                    * 1e9 + 0.5) AS BIGINT) AS std_i
                FROM per),
         tot AS (SELECT sum(n_docs * std_i)::BIGINT AS t FROM pi),
         sh AS (SELECT lang, n_docs, sn, std_i,
                  CASE WHEN t > 0
                    THEN floor((n_docs * std_i)::DOUBLE / t * 1e6 + 0.5)
                      / 1e6
                    ELSE 0.0 END AS share
                FROM pi CROSS JOIN tot)
         SELECT lang, n_docs,
           floor(sn::DOUBLE / n_docs * 1e6 + 0.5) / 1e6 AS mean_len,
           std_i::DOUBLE / 1e9 AS std_len,
           share,
           CAST(floor(share * 100 + 0.5) AS BIGINT) AS quota
         FROM sh ORDER BY lang""",
    // same deterministic assignment CTE as knn_ivf; empty lists kept
    "ivf_balance" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e
                    WHERE vec_id < 16),
           assigned AS (
             SELECT vec_id, centroid_id FROM (
               SELECT e.vec_id, c.centroid_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
                            c.centroid_id) AS rn
               FROM e CROSS JOIN cent c) WHERE rn = 1),
           counts AS (SELECT centroid_id, count(*)::BIGINT AS nv
                      FROM assigned GROUP BY centroid_id),
           tot AS (SELECT count(*)::BIGINT AS t FROM e)
         SELECT centroid_id, coalesce(nv, 0)::BIGINT AS n_vectors,
           floor(coalesce(nv, 0)::DOUBLE / t * 1e6 + 0.5) / 1e6 AS share,
           floor(coalesce(nv, 0)::DOUBLE * 16 / t * 1e6 + 0.5) / 1e6
             AS load_factor
         FROM cent LEFT JOIN counts USING (centroid_id) CROSS JOIN tot
         ORDER BY centroid_id""",
    "dedup_bias" -> DedupBiasSql,
    "rank_agreement" -> RankAgreementSql,
    "rrf_fusion" -> RrfFusionSql,
    // CUSUM: mean multiplied through so the whole scan is exact LONGs
    "cusum_changepoint" ->
      """WITH daily AS (
           SELECT date_diff('day', DATE '2024-01-01', ts::DATE) AS day,
                  sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS x6
           FROM events GROUP BY 1),
         tot AS (SELECT count(*)::BIGINT AS n, sum(x6)::BIGINT AS sx
                 FROM daily),
         c AS (SELECT day, x6,
                 row_number() OVER (ORDER BY day) AS t,
                 sum(x6) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                   AS cum
               FROM daily),
         c2 AS (SELECT day, n * cum - t * sx AS c6, n FROM c, tot),
         mx AS (SELECT max(abs(c6)) AS mx FROM c2),
         fh AS (SELECT min(day) AS cp_day FROM c2, mx
                WHERE abs(c6) = mx)
         SELECT day::BIGINT AS day,
           floor(c6::DOUBLE / (n * 1e6) * 1e6 + 0.5) / 1e6 AS cusum,
           (abs(c6) = mx AND day = cp_day) AS is_changepoint
         FROM c2, mx, fh ORDER BY day""",
    "markov_attribution" -> markovAttributionSql(20),
    "cv_metrics" -> cvMetricsSql(3),
    "ks_statistic" -> ksOracleSql,
    "gains_table" -> gainsOracleSql(),
    // Holt vs naive baselines: per-term |error| floor-quantized to an
    // integer before each mean (mirrors Events.forecastBacktest)
    "forecast_backtest" ->
      s"""WITH RECURSIVE $HoltCte,
         he AS (SELECT CAST(floor(abs((floor(x * 1e6 + 0.5) / 1e6) -
                    (floor(fitted * 1e6 + 0.5) / 1e6)) * 1e6 + 0.5)
                  AS BIGINT) AS e6
                FROM r WHERE rn >= 3),
         hs AS (SELECT count(*)::BIGINT AS nh, sum(e6)::BIGINT AS sh
                FROM he),
         dl AS (SELECT day, x6,
                  lag(x6, 1) OVER (ORDER BY day) AS p1,
                  lag(x6, 7) OVER (ORDER BY day) AS p7
                FROM daily),
         bs AS (SELECT
                  sum(CASE WHEN p1 IS NOT NULL THEN 1 END)::BIGINT AS n1,
                  sum(CASE WHEN p1 IS NOT NULL
                        THEN abs(x6 - p1) END)::BIGINT AS s1,
                  sum(CASE WHEN p7 IS NOT NULL THEN 1 END)::BIGINT AS n7,
                  sum(CASE WHEN p7 IS NOT NULL
                        THEN abs(x6 - p7) END)::BIGINT AS s7,
                  count(*)::BIGINT AS n_days
                FROM dl)
         SELECT n_days,
           floor(sh::DOUBLE / nh / 1e6 * 1e6 + 0.5) / 1e6 AS mae_holt,
           floor(s1::DOUBLE / n1 / 1e6 * 1e6 + 0.5) / 1e6 AS mae_naive1,
           floor(s7::DOUBLE / n7 / 1e6 * 1e6 + 0.5) / 1e6
             AS mae_seasonal7,
           floor((sh::DOUBLE / nh / 1e6) / (s1::DOUBLE / n1 / 1e6)
             * 1e6 + 0.5) / 1e6 AS mase_holt,
           floor((s7::DOUBLE / n7 / 1e6) / (s1::DOUBLE / n1 / 1e6)
             * 1e6 + 0.5) / 1e6 AS mase_seasonal7
         FROM bs CROSS JOIN hs""",
    // Theil–Sen: pairwise slopes over exact grid integers; medians
    // pick by row_number under a fully tie-broken order
    "theil_sen" ->
      """WITH daily AS (
           SELECT date_diff('day', DATE '2024-01-01', ts::DATE) AS day,
                  sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS x6
           FROM events GROUP BY 1),
         dt AS (SELECT day, x6, row_number() OVER (ORDER BY day) AS t
                FROM daily),
         sl AS (SELECT a.t AS ti, b.t AS tj,
                  (b.x6 - a.x6)::DOUBLE / (b.t - a.t) / 1e6 AS sl
                FROM dt a JOIN dt b ON a.t < b.t),
         rk AS (SELECT sl, row_number() OVER (ORDER BY sl, ti, tj)
                  AS rn FROM sl),
         np AS (SELECT count(*)::BIGINT AS np FROM rk),
         med AS (SELECT avg(sl) AS slope FROM rk, np
                 WHERE rn = floor((np + 1) / 2)
                    OR rn = floor((np + 2) / 2)),
         res AS (SELECT x6::DOUBLE / 1e6 - slope * t AS r, t
                 FROM dt, med),
         rr AS (SELECT r, row_number() OVER (ORDER BY r, t) AS rn
                FROM res),
         nn2 AS (SELECT count(*)::BIGINT AS nn FROM rr),
         ic AS (SELECT avg(r) AS icept FROM rr, nn2
                WHERE rn = floor((nn + 1) / 2)
                   OR rn = floor((nn + 2) / 2)),
         nd AS (SELECT count(*)::BIGINT AS n_days FROM daily)
         SELECT n_days, np AS n_pairs,
           floor(slope * 1e6 + 0.5) / 1e6 AS slope,
           floor(icept * 1e6 + 0.5) / 1e6 AS intercept
         FROM nd, np, med, ic""",
    "isotonic_calibration" -> isotonicOracleSql(),
    // the featurizer's own poly hash restated over the distinct vocab
    "hashing_collisions" -> s"""$TokCte,
         u AS (SELECT DISTINCT unnest(ts) AS tok FROM toks),
         h AS (SELECT list_reduce(list_prepend(0::BIGINT,
             list_transform(string_split(tok, ''), c -> ord(c)::BIGINT)),
             (h, c) -> (h * 31 + c) % 1099511627776) % 10007 AS bucket
           FROM u),
         l AS (SELECT bucket, count(*)::BIGINT AS load FROM h
               GROUP BY bucket),
         d AS (SELECT load, count(*)::BIGINT AS n_buckets FROM l
               GROUP BY load),
         o AS (SELECT sum(n_buckets)::BIGINT AS occ FROM d),
         t AS (SELECT count(*)::BIGINT AS n_toks FROM u),
         allr AS (SELECT load, n_buckets FROM d
                  UNION ALL
                  SELECT 0::BIGINT, (10007 - occ)::BIGINT FROM o)
         SELECT load, n_buckets,
           floor(load * n_buckets / n_toks::DOUBLE * 1e6 + 0.5) / 1e6
             AS tok_share
         FROM allr, t ORDER BY load""",
    "betweenness_sample" -> betweennessOracleSql(Seq(1L, 2L, 3L), 4, 30),
    "welch_ttest" ->
      """WITH st AS (
           SELECT event_type, count(*)::BIGINT AS n,
             sum(vi) AS sv, sum(vi * vi) AS sv2
           FROM (SELECT event_type,
                   CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vi
                 FROM events WHERE value IS NOT NULL)
           GROUP BY event_type),
         p AS (
           SELECT a.event_type AS type_a, b.event_type AS type_b,
             a.n AS n_a, b.n AS n_b,
             a.sv::DOUBLE AS sva, a.sv2::DOUBLE AS sv2a,
             b.sv::DOUBLE AS svb, b.sv2::DOUBLE AS sv2b
           FROM st a JOIN st b ON a.event_type < b.event_type),
         e AS (
           SELECT *,
             ((sv2a - sva * sva / n_a) / (n_a - 1) / 1e12) / n_a AS pa,
             ((sv2b - svb * svb / n_b) / (n_b - 1) / 1e12) / n_b AS pb
           FROM p)
         SELECT type_a, type_b, n_a, n_b,
           floor(sva / n_a / 1e6 * 1e6 + 0.5) / 1e6 AS mean_a,
           floor(svb / n_b / 1e6 * 1e6 + 0.5) / 1e6 AS mean_b,
           CASE WHEN pa + pb > 0
             THEN floor((sva / n_a / 1e6 - svb / n_b / 1e6)
               / sqrt(pa + pb) * 1e6 + 0.5) / 1e6
             ELSE NULL END AS t_stat,
           CASE WHEN pa + pb > 0
             THEN floor((pa + pb) * (pa + pb)
               / (pa * pa / (n_a - 1) + pb * pb / (n_b - 1))
               * 1e4 + 0.5) / 1e4
             ELSE NULL END AS df
         FROM e ORDER BY type_a, type_b""",
    "stl_decompose" ->
      """WITH d0 AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  count(*)::BIGINT AS y
           FROM events GROUP BY 1),
         b AS (SELECT min(day) AS dd0, max(day) AS dd1 FROM d0),
         spine AS (SELECT unnest(range(dd0, dd1 + 1)) AS day FROM b),
         daily AS (SELECT day, coalesce(y, 0)::BIGINT AS y
                   FROM spine LEFT JOIN d0 USING (day)),
         tr AS (SELECT day, y,
                  CAST(floor((sum(y) OVER w)::DOUBLE /
                    (count(*) OVER w) * 1e6 + 0.5) AS BIGINT) AS trend_i
                FROM daily
                WINDOW w AS (ORDER BY day
                  ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         det AS (SELECT day, y, trend_i,
                   (y * 1000000 - trend_i)::BIGINT AS det_i,
                   day % 7 AS dow
                 FROM tr),
         se AS (SELECT dow,
                  CAST(floor(sum(det_i)::DOUBLE / count(*) + 0.5)
                    AS BIGINT) AS seas_i
                FROM det GROUP BY dow)
         SELECT day, y AS total,
           trend_i::DOUBLE / 1e6 AS trend,
           seas_i::DOUBLE / 1e6 AS seasonal,
           (det_i - seas_i)::DOUBLE / 1e6 AS residual
         FROM det JOIN se USING (dow) ORDER BY day""",
    // same brute-force kernel as knn_brute/ann_recall, corpus side
    // reconstructed through the quantize_int8 grid (raw scale)
    "int8_recall" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           mm AS (SELECT vec_id, v, list_min(v) AS lo, list_max(v) AS hi
                  FROM e),
           rec AS (
             SELECT vec_id,
               list_transform(v, x -> lo +
                 floor((x - lo) /
                   (CASE WHEN hi > lo THEN (hi - lo) / 255.0
                         ELSE 1.0 END) + 0.5) *
                 (CASE WHEN hi > lo THEN (hi - lo) / 255.0
                       ELSE 1.0 END)) AS rv
             FROM mm),
           bf AS (
             SELECT query_id, vec_id FROM (
               SELECT q.vec_id AS query_id, e2.vec_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.v, e2.v) DESC,
                            e2.vec_id) AS rn
               FROM e q CROSS JOIN e e2
               WHERE q.vec_id < 10 AND e2.vec_id <> q.vec_id)
             WHERE rn <= 5),
           ap AS (
             SELECT query_id, vec_id FROM (
               SELECT q.vec_id AS query_id, r.vec_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(r.rv, q.v) DESC,
                            r.vec_id) AS rn
               FROM e q CROSS JOIN rec r
               WHERE q.vec_id < 10 AND r.vec_id <> q.vec_id)
             WHERE rn <= 5)
         SELECT bf.query_id, count(ap.vec_id)::BIGINT AS hits,
                floor(count(ap.vec_id)::DOUBLE / 5 * 1e6 + 0.5) / 1e6
                  AS recall
         FROM bf LEFT JOIN ap
           ON bf.query_id = ap.query_id AND bf.vec_id = ap.vec_id
         GROUP BY bf.query_id ORDER BY bf.query_id""",
    // Gonzalez farthest-first: 7 unrolled pick/extend rounds (p_i =
    // argmax over candidates of min distance to the chosen set c_{i-1})
    "kmeans_ff_init" -> {
      val rounds = (1 until 8).map { i =>
        s"""p$i AS (
             SELECT e.vec_id, min(1 - list_cosine_similarity(e.v, c.v))
               AS d
             FROM e, c${i - 1} ch, e c
             WHERE list_contains(ch.ids, c.vec_id)
               AND NOT list_contains(ch.ids, e.vec_id)
             GROUP BY e.vec_id ORDER BY d DESC, e.vec_id LIMIT 1),
           c$i AS (SELECT list_append(ch.ids, p$i.vec_id) AS ids
                   FROM c${i - 1} ch, p$i)"""
      }.mkString(",\n           ")
      val out = (1 until 8).map(i =>
        s"UNION ALL SELECT $i::INT, vec_id, floor(d * 1e6 + 0.5) / 1e6 FROM p$i")
        .mkString("\n         ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                     FROM embeddings),
           c0 AS (SELECT [0]::BIGINT[] AS ids),
           $rounds
         SELECT * FROM (
           SELECT 0::INT AS step, 0::BIGINT AS vec_id,
                  NULL::DOUBLE AS radius
         $out)
         ORDER BY step"""
    },
    "lang_id" -> LangIdSql,
    "quality_score" -> QualitySql,
    "token_counts" ->
      """SELECT doc_id,
           len(regexp_extract_all(text, '\S+')) AS ws_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]'))
             AS bpe_tokens
         FROM documents""",
    // winnowing fingerprints (n=4, w=5): shingle → base-31 poly hash
    // mod 2^40 (same fold as PolyHashArray) → window-of-5 minima →
    // distinct. Shingle/window edge cases mirror Dedup.shingles /
    // TextStats.fingerprints exactly.
    "fingerprints" -> s"""$TokCte,
         sh AS (
           SELECT doc_id,
             CASE WHEN len(ts) >= 4
               THEN list_transform(range(1, len(ts) - 2),
                      i -> array_to_string(ts[i:i+3], ' '))
               ELSE [array_to_string(ts, ' ')] END AS shs
           FROM toks),
         hs AS (
           SELECT doc_id,
             list_transform(shs, s -> list_reduce(
               list_prepend(0::BIGINT,
                 list_transform(string_split(s, ''), c -> ord(c)::BIGINT)),
               (acc, c) -> (acc * 31 + c) % 1099511627776)) AS hv
           FROM sh),
         mins AS (
           SELECT doc_id,
             CASE WHEN len(hv) >= 5
               THEN list_transform(range(0, len(hv) - 4),
                      i -> list_min(hv[i+1:i+5]))
               ELSE [list_min(hv)] END AS mv
           FROM hs)
         SELECT doc_id, unnest(list_distinct(mv)) AS fingerprint FROM mins""",
    "cube_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
                round(sum(l_quantity), 4) AS sum_qty
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
    "window_topk" ->
      """SELECT * FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_orderpriority
                    ORDER BY o_totalprice DESC, o_orderkey) AS rnk
           FROM orders) WHERE rnk <= 3""",
    "distinct_agg" ->
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
                count(DISTINCT l_partkey) AS n_part, count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag""",
    "except_op" ->
      """SELECT o_custkey FROM orders
         WHERE o_orderdate < TIMESTAMP '1998-06-01'
         EXCEPT
         SELECT o_custkey FROM orders
         WHERE o_orderdate >= TIMESTAMP '1998-06-01'""",
    "intersect_op" ->
      """SELECT l_suppkey FROM lineitem
         WHERE year(l_shipdate)=1996 AND month(l_shipdate)=3
         INTERSECT
         SELECT l_suppkey FROM lineitem
         WHERE year(l_shipdate)=1996 AND month(l_shipdate)=4""",
    "event_gaps" ->
      """SELECT user_id, event_id, ep,
                ep - prev_ep AS gap_before, next_ep - ep AS gap_after
         FROM (
           SELECT user_id, event_id, epoch_ms(ts) // 1000 AS ep,
                  lag(epoch_ms(ts) // 1000) OVER w AS prev_ep,
                  lead(epoch_ms(ts) // 1000) OVER w AS next_ep
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         WHERE prev_ep IS NOT NULL AND next_ep IS NOT NULL""",
    // ASOF JOIN (DuckDB-native) against the union+carry Spark operator;
    // right side deduped to max event_id per (user, second) on both sides
    "asof_join" ->
      """WITH l AS (
           SELECT user_id, event_id, epoch_ms(ts) // 1000 AS ep
           FROM events WHERE event_type = 'purchase'),
         r AS (
           SELECT user_id, epoch_ms(ts) // 1000 AS r_ep,
                  max(event_id) AS r_event_id,
                  arg_max(value, event_id) AS r_value
           FROM events WHERE event_type = 'view'
           GROUP BY user_id, epoch_ms(ts) // 1000)
         SELECT l.user_id, l.event_id, l.ep,
                r.r_event_id, round(r.r_value, 4) AS r_value
         FROM l ASOF JOIN r
           ON l.user_id = r.user_id AND r.r_ep <= l.ep""",
    // identical contract through the native AsOfJoinExec operator
    "asof_join_native" ->
      """WITH l AS (
           SELECT user_id, event_id, epoch_ms(ts) // 1000 AS ep
           FROM events WHERE event_type = 'purchase'),
         r AS (
           SELECT user_id, epoch_ms(ts) // 1000 AS r_ep,
                  max(event_id) AS r_event_id,
                  arg_max(value, event_id) AS r_value
           FROM events WHERE event_type = 'view'
           GROUP BY user_id, epoch_ms(ts) // 1000)
         SELECT l.user_id, l.event_id, l.ep,
                r.r_event_id, round(r.r_value, 4) AS r_value
         FROM l ASOF JOIN r
           ON l.user_id = r.user_id AND r.r_ep <= l.ep""",
    // oracle uses the plain BETWEEN theta join; the engine buckets first
    "range_join" ->
      """WITH ce AS (
           SELECT user_id, event_id, ts, epoch_ms(ts) // 1000 AS ep,
                  CASE WHEN lag(epoch_ms(ts) // 1000) OVER w IS NULL
                         OR epoch_ms(ts) // 1000
                            - lag(epoch_ms(ts) // 1000) OVER w > 1800
                       THEN 1 ELSE 0 END AS new_s
           FROM events WHERE event_type = 'click'
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         cs AS (
           SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ep, event_id
             ROWS UNBOUNDED PRECEDING)::BIGINT AS session_seq FROM ce),
         sess AS (
           SELECT user_id, session_seq, min(ep) AS start_epoch,
                  max(ep) + 1800 AS end_epoch
           FROM cs GROUP BY user_id, session_seq),
         p AS (
           SELECT user_id, event_id, epoch_ms(ts) // 1000 AS ep
           FROM events WHERE event_type = 'purchase')
         SELECT s.user_id, s.session_seq, count(*) AS n_probe
         FROM sess s JOIN p
           ON p.user_id = s.user_id
          AND p.ep BETWEEN s.start_epoch AND s.end_epoch
         GROUP BY s.user_id, s.session_seq""",
    // identical contract through the native IntervalJoinExec operator
    "range_join_native" ->
      """WITH ce AS (
           SELECT user_id, event_id, ts, epoch_ms(ts) // 1000 AS ep,
                  CASE WHEN lag(epoch_ms(ts) // 1000) OVER w IS NULL
                         OR epoch_ms(ts) // 1000
                            - lag(epoch_ms(ts) // 1000) OVER w > 1800
                       THEN 1 ELSE 0 END AS new_s
           FROM events WHERE event_type = 'click'
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         cs AS (
           SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ep, event_id
             ROWS UNBOUNDED PRECEDING)::BIGINT AS session_seq FROM ce),
         sess AS (
           SELECT user_id, session_seq, min(ep) AS start_epoch,
                  max(ep) + 1800 AS end_epoch
           FROM cs GROUP BY user_id, session_seq),
         p AS (
           SELECT user_id, event_id, epoch_ms(ts) // 1000 AS ep
           FROM events WHERE event_type = 'purchase')
         SELECT s.user_id, s.session_seq, count(*) AS n_probe
         FROM sess s JOIN p
           ON p.user_id = s.user_id
          AND p.ep BETWEEN s.start_epoch AND s.end_epoch
         GROUP BY s.user_id, s.session_seq""",
    "tfidf_topk" -> s"""$TokCte,
         p AS (SELECT term, doc_id, count(*) AS tf
               FROM (SELECT doc_id, unnest(ts) AS term FROM toks)
               GROUP BY term, doc_id),
         df AS (SELECT term, count(*) AS df FROM p GROUP BY term),
         n AS (SELECT count(*) AS n_docs FROM documents)
         SELECT term, doc_id, tfidf FROM (
           SELECT p.term, p.doc_id,
                  round(p.tf * ln(n.n_docs / df.df), 6) AS tfidf,
                  row_number() OVER (PARTITION BY p.term
                    ORDER BY p.tf * ln(n.n_docs / df.df) DESC, p.doc_id) AS rnk
           FROM p JOIN df USING (term) CROSS JOIN n)
         WHERE rnk <= 3""",
    "pivot_agg" ->
      """SELECT l_returnflag,
                round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 4)
                  AS qty_f,
                round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 4)
                  AS qty_o
         FROM lineitem GROUP BY l_returnflag""",
    "sample_hash" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         WHERE ((o_orderkey % 2147483648) * 8388593) % 100 < 10""",
    // custom-aggregator top-k returns the same rows as the rank window
    "topk_agg" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_orderpriority
                    ORDER BY o_totalprice DESC, o_orderkey) AS rnk
           FROM orders) WHERE rnk <= 3""",
    "stats_agg" ->
      """SELECT l_returnflag,
                round(stddev_samp(l_extendedprice), 4) AS sd_price,
                round(var_samp(l_quantity), 4) AS var_qty,
                round(corr(l_extendedprice, l_quantity), 6) AS corr_pq,
                round(covar_samp(l_extendedprice, l_discount), 4) AS cov_pd
         FROM lineitem GROUP BY l_returnflag""",
    "decimal_agg" ->
      """SELECT l_returnflag,
                sum(l_extendedprice::DECIMAL(18,2))::DECIMAL(38,2)::VARCHAR AS sum_price,
                sum(l_discount::DECIMAL(18,4))::DECIMAL(38,4)::VARCHAR AS sum_disc,
                count(*) AS cnt
         FROM lineitem GROUP BY l_returnflag""",
    // random-hyperplane LSH restated: same ±1 plane weights from the
    // multiplicative hash, same left-to-right double accumulation
    "dedup_embedding_lsh" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         sig AS (
           SELECT vec_id, v,
             list_transform(range(0, 16), p ->
               CASE WHEN list_reduce(
                 list_prepend(0.0, list_transform(range(0, len(v)), d ->
                   v[d + 1] *
                     (1 - 2 * ((((p * 128 + d) * 2654435761) // 8192) % 2)))),
                 (acc, x) -> acc + x) >= 0.0 THEN 1 ELSE 0 END) AS bits
           FROM e),
         banded AS (
           SELECT vec_id, v, b AS band,
             list_reduce(list_prepend(0, bits[b*4+1 : b*4+4]),
               (acc, x) -> acc * 2 + x) AS bv
           FROM sig, (SELECT unnest(range(0, 4)) AS b))
         SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
                round(list_cosine_similarity(a.v, b.v), 6) AS sim
         FROM banded a JOIN banded b
           ON a.band = b.band AND a.bv = b.bv AND a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.v, b.v) >= 0.45""",
    // epoch_ms // 1000 floors like Spark's unix_timestamp (epoch()::BIGINT
    // would round half-up and shift second boundaries)
    "sessionize" ->
      """WITH e AS (
           SELECT user_id, event_id, ts, value,
                  epoch_ms(ts) // 1000 AS ep,
                  CASE WHEN lag(epoch_ms(ts) // 1000) OVER w IS NULL
                         OR epoch_ms(ts) // 1000
                            - lag(epoch_ms(ts) // 1000) OVER w > 1800
                       THEN 1 ELSE 0 END AS new_s
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING)::BIGINT AS session_seq FROM e)
         SELECT user_id, session_seq, count(*) AS n_events,
                min(ep) AS start_epoch, max(ep) AS end_epoch,
                round(sum(value), 4) AS sum_value
         FROM s GROUP BY user_id, session_seq""",
    "json_prop_agg" ->
      """SELECT event_type, count((props->>'k')::INT) AS cnt,
                round(avg((props->>'k')::INT), 6) AS avg_k,
                min((props->>'k')::INT) AS min_k,
                max((props->>'k')::INT) AS max_k
         FROM events GROUP BY event_type""",
    "hourly_agg" ->
      """SELECT epoch(date_trunc('hour', ts))::BIGINT AS hour_epoch,
                event_type, count(*) AS cnt, round(sum(value), 4) AS sum_value
         FROM events GROUP BY hour_epoch, event_type""",
    // streaming replays: the batch restatement of each streaming op's
    // FINAL sink table after the deterministic ordered replay. Nothing
    // arrives late on an ordered replay, so no watermark drops rows.
    "stream_window_replay" ->
      """SELECT epoch(date_trunc('hour', ts))::BIGINT AS hour_epoch,
                event_type, count(*) AS cnt, round(sum(value), 4) AS sum_value
         FROM events GROUP BY hour_epoch, event_type""",
    // append-mode sessionize emits only CLOSED sessions: each user's
    // last session is still open at end-of-replay, hence excluded
    "stream_session_replay" ->
      """WITH e AS (
           SELECT user_id, event_id, ts, value,
                  epoch_ms(ts) // 1000 AS ep,
                  CASE WHEN lag(epoch_ms(ts) // 1000) OVER w IS NULL
                         OR epoch_ms(ts) // 1000
                            - lag(epoch_ms(ts) // 1000) OVER w > 1800
                       THEN 1 ELSE 0 END AS new_s
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING)::BIGINT AS session_seq FROM e),
         g AS (
           SELECT user_id, session_seq, count(*) AS n_events,
                  min(ep) AS start_epoch, max(ep) AS end_epoch,
                  round(sum(value), 4) AS sum_value
           FROM s GROUP BY user_id, session_seq)
         SELECT user_id, session_seq, n_events, start_epoch, end_epoch,
                sum_value
         FROM g
         WHERE session_seq < (SELECT max(session_seq) FROM g g2
                              WHERE g2.user_id = g.user_id)""",
    // the BUILT-IN session_window agg merges windows that overlap OR
    // TOUCH (measured: a gap of exactly 30 min still merges, so a new
    // session starts iff gap > 30 min, microsecond precision; end =
    // last event + gap); the flush sentinel closes every real
    // session, so the oracle is the full strict->-boundary
    // sessionization
    "stream_sesswin_replay" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id
                    FROM events),
         s AS (SELECT user_id, us, event_id,
                 CASE WHEN lag(us) OVER w IS NULL
                        OR us - lag(us) OVER w > 1800000000
                      THEN 1 ELSE 0 END AS new_s
               FROM e WINDOW w AS (PARTITION BY user_id
                 ORDER BY us, event_id)),
         s2 AS (SELECT user_id, us,
                  sum(new_s) OVER (PARTITION BY user_id
                    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING)
                    ::BIGINT AS sid
                FROM s)
         SELECT user_id, min(us)::BIGINT AS start_us,
                (max(us) + 1800000000)::BIGINT AS end_us,
                count(*)::BIGINT AS n_events
         FROM s2 GROUP BY user_id, sid
         ORDER BY user_id, start_us""",
    // the event-time-timeout sessionizer drains COMPLETELY (timeouts
    // close final sessions), so its oracle is the full batch
    // sessionization with no last-session exclusion
    "stream_timeout_replay" ->
      """WITH e AS (
           SELECT user_id, event_id, ts, value,
                  epoch_ms(ts) // 1000 AS ep,
                  CASE WHEN lag(epoch_ms(ts) // 1000) OVER w IS NULL
                         OR epoch_ms(ts) // 1000
                            - lag(epoch_ms(ts) // 1000) OVER w > 1800
                       THEN 1 ELSE 0 END AS new_s
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING)::BIGINT AS session_seq FROM e)
         SELECT user_id, session_seq, count(*) AS n_events,
                min(ep) AS start_epoch, max(ep) AS end_epoch,
                round(sum(value), 4) AS sum_value
         FROM s GROUP BY user_id, session_seq""",
    "stream_dedup_replay" ->
      """SELECT DISTINCT user_id, ts::DATE AS day FROM events""",
    // same census through the CUSTOM state store provider (W553)
    "stream_custom_statestore_replay" ->
      """SELECT DISTINCT user_id, ts::DATE AS day FROM events""",
    // comparisons at MICROSECOND precision: Spark timestamps are micros
    // while the parquet fixture carries nanos, so the restatement
    // floors to micros before comparing (epoch_ns // 1000), exactly
    // the value Spark joins on
    "stream_join_replay" ->
      """SELECT l.user_id, l.event_id AS l_event_id, r.event_id AS r_event_id,
                epoch_ms(l.ts) // 1000 AS l_ep, epoch_ms(r.ts) // 1000 AS r_ep
         FROM events l JOIN events r
           ON l.user_id = r.user_id
          AND epoch_ns(l.ts) // 1000 >= epoch_ns(r.ts) // 1000 - 3600000000
          AND epoch_ns(l.ts) // 1000 <= epoch_ns(r.ts) // 1000
         WHERE l.event_type = 'click' AND r.event_type = 'purchase'""",
    "stream_running_replay" ->
      """SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS sum_value
         FROM events GROUP BY user_id""",
    "stream_enrich_replay" ->
      """SELECT e.event_id, e.user_id, e.event_type, d.type_count
         FROM events e JOIN (SELECT event_type, count(*) AS type_count
                             FROM events GROUP BY event_type) d
           USING (event_type)""",
    "multimodal_meta" ->
      """SELECT doc_id,
                CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                  ELSE 'video' END AS kind,
                octet_length(text::BLOB) AS n_bytes,
                ascii(substring(text, 1, 1)) AS first_byte
         FROM documents""",
    // same base-31/2^40 fold as Multimodal.fakeDecode (ASCII text, so
    // codepoints == utf-8 bytes); pick(lo,hi,salt) = lo + (h>>salt)%(hi-lo)
    "multimodal_decode" -> s"""$MediaHashCte
         SELECT doc_id, kind, n_bytes,
           CASE kind WHEN 'image' THEN 64 + (hv % 4032)
                     WHEN 'audio' THEN 1
                     ELSE 320 + (hv % 1600) END AS width,
           CASE kind WHEN 'image' THEN 64 + ((hv // 256) % 4032)
                     WHEN 'audio' THEN 1
                     ELSE 240 + ((hv // 256) % 840) END AS height,
           CASE kind WHEN 'image' THEN 1
                     WHEN 'audio' THEN 1000 + ((hv // 65536) % 2879000)
                     ELSE 24 + ((hv // 65536) % 7176) END AS n_frames
         FROM mh""",
    "frame_sample" -> s"""$MediaHashCte
         SELECT doc_id, unnest(range(0, 24 + ((hv // 65536) % 7176), 100))
                  AS frame_idx
         FROM mh WHERE kind = 'video'""",
    "semi_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey
                         AND o_orderdate < TIMESTAMP '1996-01-01')""",
    "anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderdate < TIMESTAMP '1996-01-01')""",
    "rollup_agg" ->
      """SELECT n_name, strftime(l_shipdate, '%Y-%m') AS ship_month,
                count(*) AS cnt
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE n_name IN ('NATION_3', 'NATION_24')
         GROUP BY ROLLUP (n_name, ship_month)""",
    "salted_agg" ->
      """SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type""",
    "percentiles" ->
      """SELECT l_returnflag,
                round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
                round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
                round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
                round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
         FROM lineitem GROUP BY l_returnflag""",
    "term_lookup" -> s"""$TokCte
         SELECT term, doc_id, count(*) AS tf
         FROM (SELECT doc_id, unnest(ts) AS term FROM toks)
         WHERE term = 'spark' GROUP BY term, doc_id""",
    "term_store_lookup" -> s"""$TokCte
         SELECT term, doc_id, count(*) AS tf
         FROM (SELECT doc_id, unnest(ts) AS term FROM toks)
         WHERE term IN ('spark', 'data') GROUP BY term, doc_id""",
    // constants written as literals (2.2, 0.25) on both sides so no
    // constant-fold tie-rounding can differ; rank on the ROUNDED score
    "bm25_topk" -> s"""$TokCte,
         lens AS (SELECT doc_id, len(ts)::BIGINT AS dl FROM toks),
         p AS (SELECT term, doc_id, count(*) AS tf
               FROM (SELECT doc_id, unnest(ts) AS term FROM toks)
               GROUP BY 1, 2),
         d AS (SELECT term, count(*) AS df FROM p GROUP BY term),
         c AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
         sc AS (SELECT p.term, p.doc_id,
                  round(ln((n_docs - df + 0.5) / (df + 0.5)) * tf * 2.2 /
                        (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS score
                FROM p JOIN d USING (term) JOIN lens USING (doc_id)
                CROSS JOIN c)
         SELECT term, doc_id, score FROM (
           SELECT *, row_number() OVER (PARTITION BY term
             ORDER BY score DESC, doc_id) AS rnk FROM sc)
         WHERE rnk <= 10""",
    // RM3-lite: BM25 top-10 feedback docs per df-top probe, RRF doc
    // weights, contributions floor-quantized to LONGs before the sum
    "prf_expansion" -> s"""$TokCte,
         lens AS (SELECT doc_id, len(ts)::BIGINT AS dl FROM toks),
         p AS (SELECT term, doc_id, count(*) AS tf
               FROM (SELECT doc_id, unnest(ts) AS term FROM toks)
               GROUP BY 1, 2),
         d AS (SELECT term, count(*) AS df FROM p GROUP BY term),
         c AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
         sc AS (SELECT p.term, p.doc_id,
                  round(ln((n_docs - df + 0.5) / (df + 0.5)) * tf * 2.2 /
                        (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6)
                    AS score
                FROM p JOIN d USING (term) JOIN lens USING (doc_id)
                CROSS JOIN c),
         bm AS (SELECT term, doc_id, score FROM (
                  SELECT *, row_number() OVER (PARTITION BY term
                    ORDER BY score DESC, doc_id) AS rnk FROM sc)
                WHERE rnk <= 10),
         probes AS (SELECT term AS probe FROM d
                    ORDER BY df DESC, term LIMIT 3),
         pd AS (SELECT probe, doc_id,
                  row_number() OVER (PARTITION BY probe
                    ORDER BY score DESC, doc_id) AS rnk
                FROM bm JOIN probes ON bm.term = probes.probe),
         cand AS (
           SELECT pd.probe, p.term AS cand,
                  sum(CAST(floor(p.tf::DOUBLE * 1e9 / (60 + pd.rnk))
                      AS BIGINT))::BIGINT AS w9
           FROM pd JOIN p ON p.doc_id = pd.doc_id
           WHERE p.term <> pd.probe
           GROUP BY 1, 2)
         SELECT probe, rnk, cand AS term,
                floor(w9::DOUBLE / 1e9 * 1e6 + 0.5) / 1e6 AS rm3_weight
         FROM (SELECT *, row_number() OVER (PARTITION BY probe
                 ORDER BY w9 DESC, cand) AS rnk FROM cand)
         WHERE rnk <= 5 ORDER BY probe, rnk""",
    // discounted gains quantize to 1e-9 ints BEFORE the per-term sums;
    // nDCG divides the exact longs once; ranking uses the 1e-6 floor-
    // quantized BM25 score with doc_id tiebreak on both engines
    "ranking_metrics" -> s"""$TokCte,
         lens AS (SELECT doc_id, len(ts)::BIGINT AS dl FROM toks),
         po AS (SELECT term, doc_id, count(*)::BIGINT AS tf
                FROM (SELECT doc_id, unnest(ts) AS term FROM toks)
                GROUP BY 1, 2),
         dft AS (SELECT term, count(*)::BIGINT AS df FROM po GROUP BY 1),
         top AS (SELECT term, df FROM dft ORDER BY df DESC, term LIMIT 10),
         c AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl
               FROM lens),
         g AS (SELECT po.term, t.df, po.doc_id,
                 floor(ln((n_docs - t.df + 0.5) / (t.df + 0.5)) * po.tf
                   * 2.2 / (po.tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
                   * 1e6 + 0.5) / 1e6 AS score,
                 least(po.tf, 4)::DOUBLE AS rel
               FROM po JOIN top t USING (term)
                 JOIN lens USING (doc_id) CROSS JOIN c),
         r AS (SELECT *,
                 row_number() OVER (PARTITION BY term
                   ORDER BY score DESC, doc_id) AS rnk,
                 row_number() OVER (PARTITION BY term
                   ORDER BY rel DESC, doc_id) AS irnk,
                 max(rel) OVER (PARTITION BY term) AS mrel
               FROM g),
         d AS (SELECT term, df,
                 sum(CASE WHEN rnk <= 10 THEN CAST(floor(rel /
                   (ln(rnk + 1.0) / ln(2.0)) * 1e9 + 0.5) AS BIGINT)
                   ELSE 0 END)::BIGINT AS dcg,
                 sum(CASE WHEN irnk <= 10 THEN CAST(floor(rel /
                   (ln(irnk + 1.0) / ln(2.0)) * 1e9 + 0.5) AS BIGINT)
                   ELSE 0 END)::BIGINT AS idcg,
                 min(CASE WHEN rel = mrel THEN rnk END)::INT AS best_rank
               FROM r GROUP BY 1, 2)
         SELECT term, df,
                floor(dcg::DOUBLE / idcg * 1e6 + 0.5) / 1e6 AS ndcg,
                best_rank,
                floor(1.0 / best_rank * 1e6 + 0.5) / 1e6 AS rr
         FROM d ORDER BY term""",
    // centroids round to 6 dp BEFORE the cosine; fold in ascending pos
    // simplified silhouette: 6-dp centroids folded exactly as
    // centroid_distances; per-vector s on the 1e-9 grid before means
    "silhouette_labels" ->
      """WITH cent AS (
           SELECT label, (pos - 1)::INT AS pos, round(avg(x), 6) AS c
           FROM (SELECT label, unnest(embedding::DOUBLE[]) AS x,
                        generate_subscripts(embedding, 1) AS pos
                 FROM embeddings)
           GROUP BY 1, 2),
         cvs AS (SELECT label AS clabel, list(c ORDER BY pos) AS cv
                 FROM cent GROUP BY label),
         v AS (SELECT vec_id, label, embedding::DOUBLE[] AS x
               FROM embeddings),
         d AS (SELECT vec_id, label, clabel,
                 1.0 - list_reduce(list_prepend(0.0, list_transform(
                     range(1, len(x) + 1), i -> x[i] * cv[i])),
                   (acc, e) -> acc + e)
                 / (sqrt(list_reduce(list_prepend(0.0, list_transform(
                       range(1, len(x) + 1), i -> x[i] * x[i])),
                     (acc, e) -> acc + e))
                  * sqrt(list_reduce(list_prepend(0.0, list_transform(
                       range(1, len(cv) + 1), i -> cv[i] * cv[i])),
                     (acc, e) -> acc + e))) AS dist
               FROM v CROSS JOIN cvs),
         own AS (SELECT vec_id, label, dist AS a FROM d
                 WHERE label = clabel),
         oth AS (SELECT vec_id, min(dist) AS b FROM d
                 WHERE label <> clabel GROUP BY vec_id),
         sil AS (SELECT label,
                   CAST(floor(CASE WHEN greatest(a, b) > 0
                       THEN (b - a) / greatest(a, b) ELSE 0.0 END
                     * 1e9 + 0.5) AS BIGINT) AS s9
                 FROM own JOIN oth USING (vec_id))
         SELECT label::BIGINT AS label, count(*)::BIGINT AS n_vecs,
           floor(sum(s9)::DOUBLE / count(*) / 1e9 * 1e6 + 0.5) / 1e6
             AS silhouette,
           floor(sum(CASE WHEN s9 < 0 THEN 1 ELSE 0 END)::DOUBLE
             / count(*) * 1e6 + 0.5) / 1e6 AS misfit_share
         FROM sil GROUP BY label ORDER BY label""",
    "hill_tail_index" ->
      s"""WITH $GraphCte,
         deg AS (SELECT src AS id, count(*)::BIGINT AS deg FROM edges
                 GROUP BY src),
         top AS (SELECT id, deg FROM deg
                 ORDER BY deg DESC, id LIMIT 50),
         dm AS (SELECT min(deg)::BIGINT AS dmin FROM top),
         t AS (SELECT dmin,
                 CAST(floor(ln(deg::DOUBLE / dmin) * 1e9 + 0.5)
                   AS BIGINT) AS l9
               FROM top, dm),
         g AS (SELECT dmin, count(*)::BIGINT AS m, sum(l9)::BIGINT AS sl
               FROM t GROUP BY dmin)
         SELECT m, dmin AS d_tail_min,
           CASE WHEN sl > 0
             THEN floor(m::DOUBLE / (sl::DOUBLE / 1e9) * 1e6 + 0.5) / 1e6
             ELSE 0.0 END AS alpha
         FROM g""",
    "centroid_distances" ->
      """WITH cent AS (
           SELECT label, (pos - 1)::INT AS pos, round(avg(x), 6) AS c
           FROM (SELECT label, unnest(embedding::DOUBLE[]) AS x,
                        generate_subscripts(embedding, 1) AS pos
                 FROM embeddings)
           GROUP BY 1, 2),
         v AS (SELECT label, list(c ORDER BY pos) AS v
               FROM cent GROUP BY label)
         SELECT a.label AS l1, b.label AS l2,
           round(
             list_reduce(list_prepend(0.0, list_transform(
                 range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])),
               (acc, x) -> acc + x)
             / (sqrt(list_reduce(list_prepend(0.0, list_transform(
                   range(1, len(a.v) + 1), i -> a.v[i] * a.v[i])),
                 (acc, x) -> acc + x))
              * sqrt(list_reduce(list_prepend(0.0, list_transform(
                   range(1, len(a.v) + 1), i -> b.v[i] * b.v[i])),
                 (acc, x) -> acc + x))), 6) AS cosine
         FROM v a JOIN v b ON a.label < b.label""",
    "hapax_profile" ->
      """WITH t AS (
           SELECT source,
             list_filter(list_transform(string_split_regex(lower(text), '\s+'),
               x -> regexp_replace(x, '(^[^a-z]+|[^a-z]+$)', '', 'g')),
               x -> len(x) > 0) AS ts
           FROM documents),
         p AS (SELECT source, term, count(*) AS cnt
               FROM (SELECT source, unnest(ts) AS term FROM t)
               GROUP BY 1, 2)
         SELECT source, count(*)::BIGINT AS vocab,
                sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)::BIGINT AS hapax,
                round(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)::DOUBLE
                      / count(*), 6) AS hapax_frac
         FROM p GROUP BY source""",
    // integer microseconds on both sides (fixture carries nanos; Spark
    // timestamps are micros)
    "nearest_event" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
                           epoch_ns(ts) // 1000 AS us FROM events),
         j AS (SELECT p.event_id AS p_id, c.event_id AS c_id,
                      abs(c.us - p.us) AS dist_us
               FROM e p JOIN e c
                 ON p.user_id = c.user_id
                AND p.event_type = 'purchase' AND c.event_type = 'click'
                AND abs(c.us - p.us) <= 3600000000)
         SELECT p_id, c_id, dist_us FROM (
           SELECT *, row_number() OVER (PARTITION BY p_id
             ORDER BY dist_us, c_id) AS rn FROM j)
         WHERE rn = 1""",
    "q18_shape" ->
      """WITH big AS (
           SELECT l_orderkey, sum(l_quantity::DECIMAL(18,2)) AS sum_qty
           FROM lineitem GROUP BY l_orderkey
           HAVING sum(l_quantity::DECIMAL(18,2)) >= 150)
         SELECT o_orderkey, c_custkey, c_name, o_orderpriority,
                sum_qty::DOUBLE AS sum_qty
         FROM big JOIN orders ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey""",
    "q8_shape" ->
      """WITH vol AS (
           SELECT year(o_orderdate) AS o_year,
                  l_extendedprice*(1-l_discount) AS v,
                  sn.n_name AS supp_nation
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation cn ON c_nationkey = cn.n_nationkey
           JOIN region ON cn.n_regionkey = r_regionkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation sn ON s_nationkey = sn.n_nationkey
           JOIN part ON l_partkey = p_partkey
           WHERE r_name = 'ASIA' AND p_type = 'PROMO'
             AND o_orderdate >= TIMESTAMP '1996-01-01'
             AND o_orderdate <  TIMESTAMP '1998-01-01')
         SELECT o_year,
                round(sum(CASE WHEN supp_nation = 'NATION_3' THEN v
                               ELSE 0 END) / sum(v), 6) AS mkt_share
         FROM vol GROUP BY o_year""",
    "q9_shape" ->
      """SELECT n_name, year(o_orderdate) AS o_year,
                round((sum((l_extendedprice*(1-l_discount)
                            - 0.1*p_retailprice*l_quantity)::DECIMAL(18,4))
                      )::DOUBLE, 2) AS profit
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN part ON l_partkey = p_partkey
         WHERE p_name LIKE '%widget%'
         GROUP BY n_name, o_year""",
    "q12_shape" ->
      """SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) >= 90
                       THEN 'LATE'
                     WHEN date_diff('day', o_orderdate, l_shipdate) >= 30
                       THEN 'SLOW'
                     ELSE 'FAST' END AS delay_bucket,
                sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
                sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END)::BIGINT AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate <  TIMESTAMP '1997-01-01'
         GROUP BY delay_bucket""",
    "q15_shape" ->
      """WITH rev AS (
           SELECT l_suppkey,
                  round(sum(l_extendedprice*(1-l_discount)), 4) AS total_rev
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate <  TIMESTAMP '1996-04-01'
           GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, total_rev
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         WHERE total_rev = (SELECT max(total_rev) FROM rev)""",
    "q20_shape" ->
      """WITH shipped AS (
           SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_name LIKE '%widget%'
             AND l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate <  TIMESTAMP '1997-01-01'
           GROUP BY l_suppkey, l_partkey),
         tot AS (SELECT l_partkey, sum(qty) AS part_qty
                 FROM shipped GROUP BY l_partkey)
         SELECT DISTINCT s_suppkey, s_name
         FROM shipped JOIN tot USING (l_partkey)
         JOIN supplier ON l_suppkey = s_suppkey
         WHERE qty > 0.2 * part_qty""",
    "q21_shape" ->
      """WITH l AS (
           SELECT l_orderkey, l_suppkey, l_shipdate
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE o_orderstatus = 'F'),
         per_order AS (
           SELECT l_orderkey, max(l_shipdate) AS max_ship,
                  count(DISTINCT l_suppkey) AS nsupp
           FROM l GROUP BY l_orderkey),
         winners AS (
           SELECT l.l_orderkey, min(l_suppkey) AS w_supp,
                  count(DISTINCT l_suppkey) AS nmax
           FROM l JOIN per_order USING (l_orderkey)
           WHERE l.l_shipdate = max_ship AND nsupp >= 2
           GROUP BY l.l_orderkey)
         SELECT s_suppkey, s_name, count(*) AS numwait
         FROM winners JOIN supplier ON w_supp = s_suppkey
         WHERE nmax = 1
         GROUP BY s_suppkey, s_name""",
    // retrieval against the exact-Jaccard pair set (recall ≈ 1 at 0.8 —
    // see the dedup_minhash note); one row per query doc, null if no match
    "lsh_retrieve" -> s"""WITH prs AS ($JaccardSql),
         two_way AS (SELECT doc_a AS q, doc_b AS c, jaccard FROM prs
                     UNION ALL SELECT doc_b, doc_a, jaccard FROM prs),
         cand AS (
           SELECT q, c, jaccard,
                  row_number() OVER (PARTITION BY q
                                     ORDER BY jaccard DESC, c) AS rn
           FROM two_way WHERE q % 50 = 0 AND c % 50 <> 0)
         SELECT d.doc_id AS query_id, cand.c AS match_id, cand.jaccard
         FROM (SELECT doc_id FROM documents WHERE doc_id % 50 = 0) d
         LEFT JOIN cand ON cand.q = d.doc_id AND rn = 1""",
    // same frozen log2(m/u) literals as the operator, same fixed sum order
    "fs_linkage" ->
      """WITH p AS (
           SELECT p_partkey AS k, string_split(p_name, ' ')[1] AS adj,
                  string_split(p_name, ' ')[-1] AS noun, p_brand AS b,
                  p_type AS t, p_size AS sz, p_size // 5 AS band
           FROM part),
         pr AS (
           SELECT a.k AS k1, b.k AS k2,
             (CASE WHEN a.b = b.b THEN 4.491853096329675
                   ELSE -3.263034405833794 END) +
             (CASE WHEN a.t = b.t THEN 2.3504972470841334
                   ELSE -2.473931188332412 END) +
             (CASE WHEN a.adj = b.adj THEN 2.925999418556223
                   ELSE -4.129283016944966 END) +
             (CASE WHEN a.sz = b.sz THEN 2.0 ELSE -2.0 END) AS w
           FROM p a JOIN p b
             ON a.noun = b.noun AND a.band = b.band AND a.k < b.k)
         SELECT k1, k2, round(w, 6)::DOUBLE AS weight
         FROM pr WHERE w >= 4.0""",
    // bigram stream via zipped adjacent-token unnests; model CTEs mirror
    // the Spark re-aggregations of the (w1,w2) counts table exactly
    "kn_bigram_logprob" -> s"""$TokCte,
         bi AS (
           SELECT doc_id, unnest(ts[1:len(ts)-1]) AS w1,
                  unnest(ts[2:len(ts)]) AS w2
           FROM toks),
         c12 AS (SELECT w1, w2, count(*) AS c FROM bi GROUP BY w1, w2),
         c1 AS (SELECT w1, sum(c)::BIGINT AS c1, count(*) AS nfol
                FROM c12 GROUP BY w1),
         cont AS (SELECT w2, count(*) AS ncont FROM c12 GROUP BY w2),
         t AS (SELECT count(*)::DOUBLE AS tt FROM c12)
         SELECT doc_id,
                round(avg(ln((greatest(c - 0.75, 0.0) +
                              0.75 * nfol * (ncont / tt)) / c1)), 6)
                  AS kn_logprob,
                count(*) AS n_bigrams
         FROM bi JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
                 JOIN cont USING (w2), t
         GROUP BY doc_id""",
    "substring_spans" -> s"""$TokCte,
         sh AS (
           SELECT doc_id,
             CASE WHEN len(ts) >= 20
               THEN list_transform(range(1, len(ts) - 18),
                      i -> array_to_string(ts[i:i+19], ' '))
               ELSE [array_to_string(ts, ' ')] END AS wins
           FROM toks),
         ex AS (SELECT doc_id, unnest(wins) AS win FROM sh),
         g AS (SELECT win, count(DISTINCT doc_id) AS nd FROM ex GROUP BY win)
         SELECT doc_id, n_windows, n_dup_windows,
                round(n_dup_windows / n_windows, 6) AS dup_frac
         FROM (SELECT doc_id, count(*) AS n_windows,
                      sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::BIGINT
                        AS n_dup_windows
               FROM ex JOIN g USING (win)
               GROUP BY doc_id)""",
    "column_profile" ->
      """SELECT 'l_orderkey' AS "column", count(*) AS n_rows,
                sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT
                  AS n_nulls,
                count(DISTINCT l_orderkey) AS n_distinct,
                min(l_orderkey::VARCHAR) AS min_v,
                max(l_orderkey::VARCHAR) AS max_v
         FROM lineitem
         UNION ALL
         SELECT 'l_returnflag', count(*),
                sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)::BIGINT,
                count(DISTINCT l_returnflag),
                min(l_returnflag), max(l_returnflag)
         FROM lineitem
         UNION ALL
         SELECT 'l_shipdate', count(*),
                sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)::BIGINT,
                count(DISTINCT l_shipdate),
                min(l_shipdate::VARCHAR), max(l_shipdate::VARCHAR)
         FROM lineitem
         UNION ALL
         SELECT 'l_extendedprice', count(*),
                sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END)::BIGINT,
                count(DISTINCT l_extendedprice::DECIMAL(18,2)),
                min(l_extendedprice::DECIMAL(18,2)::VARCHAR),
                max(l_extendedprice::DECIMAL(18,2)::VARCHAR)
         FROM lineitem""",
    "robust_scale" ->
      """WITH ex AS (
           SELECT vec_id, (pos - 1)::INT AS pos, x::DOUBLE AS x
           FROM (SELECT vec_id, unnest(embedding) AS x,
                        generate_subscripts(embedding, 1) AS pos
                 FROM embeddings)),
         med AS (
           SELECT pos, round(quantile_cont(x, 0.5), 9) AS med
           FROM ex GROUP BY pos),
         mad AS (
           SELECT ex.pos, med,
                  round(quantile_cont(abs(x - med), 0.5), 9) AS mad
           FROM ex JOIN med USING (pos) GROUP BY ex.pos, med)
         SELECT vec_id, ex.pos,
                CASE WHEN mad <> 0 THEN round((x - med) / mad, 4) END AS z
         FROM ex JOIN mad USING (pos)""",
    "covariance_matrix" ->
      """WITH ex AS (
           SELECT vec_id, (pos - 1)::INT AS pos,
                  CAST(round(x::DOUBLE * 1000000.0) AS BIGINT) AS xi
           FROM (SELECT vec_id, unnest(embedding) AS x,
                        generate_subscripts(embedding, 1) AS pos
                 FROM embeddings)
           WHERE pos <= 8)
         SELECT a.pos::BIGINT AS i, b.pos::BIGINT AS j,
                round((sum(a.xi * b.xi)::DOUBLE / count(*) -
                       (sum(a.xi)::DOUBLE / count(*)) *
                       (sum(b.xi)::DOUBLE / count(*))) / 1000000000000.0, 9)
                  AS cov
         FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.pos <= b.pos
         GROUP BY a.pos, b.pos""",
    "pca_power" -> pcaPowerOracleSql(),
    "mode_agg" ->
      """WITH counts AS (
           SELECT o_orderpriority, l_returnflag, count(*) AS cnt
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           GROUP BY 1, 2)
         SELECT o_orderpriority, l_returnflag AS mode_flag, cnt FROM (
           SELECT *, row_number() OVER (PARTITION BY o_orderpriority
             ORDER BY cnt DESC, l_returnflag) AS rn FROM counts)
         WHERE rn = 1""",
    // one shingle join, five cross-multiplied integer threshold tests
    // CM sketch from per-term exact counts (occurrence-equivalent);
    // affine row hashes over the 20 low poly-hash bits
    "hll_error_audit" -> hllOracleSql,
    "kmv_error_audit" -> kmvOracleSql,
    "stream_hll_replay" -> streamHllOracleSql,
    "kmv_set_ops" -> kmvSetOpsOracleSql(),
    "mmr_select" -> mmrOracleSql(),
    // cold start: midpoint split, anti-join-shaped user coverage,
    // exact conditional counts
    "cold_start_audit" ->
      """WITH ev AS (SELECT user_id, epoch_ms(ts) // 1000 AS t
                     FROM events),
         b AS (SELECT min(t) AS t0, max(t) AS t1 FROM ev),
         pu AS (
           SELECT user_id,
             sum(CASE WHEN t <= CAST(floor((t0 + t1) / 2.0) AS BIGINT)
                 THEN 1 ELSE 0 END)::BIGINT AS n_pre,
             sum(CASE WHEN t <= CAST(floor((t0 + t1) / 2.0) AS BIGINT)
                 THEN 0 ELSE 1 END)::BIGINT AS n_post
           FROM ev, b GROUP BY user_id)
         SELECT
           sum(CASE WHEN n_pre > 0 THEN 1 ELSE 0 END)::BIGINT
             AS n_users_pre,
           sum(CASE WHEN n_post > 0 THEN 1 ELSE 0 END)::BIGINT
             AS n_users_post,
           sum(CASE WHEN n_post > 0 AND n_pre = 0 THEN 1 ELSE 0 END)
             ::BIGINT AS n_new_users,
           floor(sum(CASE WHEN n_post > 0 AND n_pre = 0
                     THEN 1 ELSE 0 END)::DOUBLE
                 / sum(CASE WHEN n_post > 0 THEN 1 ELSE 0 END)
                 * 1e6 + 0.5) / 1e6 AS new_user_share,
           floor(sum(CASE WHEN n_pre = 0 THEN n_post ELSE 0 END)::DOUBLE
                 / sum(n_post) * 1e6 + 0.5) / 1e6 AS cold_traffic_share
         FROM pu""",
    // STL strengths: exact-grid components, HUGEINT moments, one
    // double chain per strength
    "seasonality_strength" ->
      """WITH d0 AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  count(*)::BIGINT AS y
           FROM events GROUP BY 1),
         b AS (SELECT min(day) AS dd0, max(day) AS dd1 FROM d0),
         spine AS (SELECT unnest(range(dd0, dd1 + 1)) AS day FROM b),
         daily AS (SELECT day, coalesce(y, 0)::BIGINT AS y
                   FROM spine LEFT JOIN d0 USING (day)),
         tr AS (SELECT day, y,
                  CAST(floor((sum(y) OVER w)::DOUBLE /
                    (count(*) OVER w) * 1e6 + 0.5) AS BIGINT) AS trend_i
                FROM daily
                WINDOW w AS (ORDER BY day
                  ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         det AS (SELECT y, (y * 1000000 - trend_i)::BIGINT AS det_i,
                        day % 7 AS dow
                 FROM tr),
         se AS (SELECT dow,
                  CAST(floor(sum(det_i)::DOUBLE / count(*) + 0.5)
                    AS BIGINT) AS seas_i
                FROM det GROUP BY dow),
         comp AS (SELECT (det_i - seas_i)::BIGINT AS ri,
                         det_i::BIGINT AS sri,
                         (y * 1000000 - seas_i)::BIGINT AS tri
                  FROM det JOIN se USING (dow)),
         m AS (SELECT count(*)::HUGEINT AS n,
                 sum(ri)::HUGEINT AS s1r, sum(ri::HUGEINT * ri) AS s2r,
                 sum(sri)::HUGEINT AS s1s, sum(sri::HUGEINT * sri) AS s2s,
                 sum(tri)::HUGEINT AS s1t, sum(tri::HUGEINT * tri) AS s2t
               FROM comp)
         SELECT n::BIGINT AS n_days,
           floor((CASE WHEN (n * s2s - s1s * s1s) > 0 THEN
             greatest(0.0, 1.0 - (n * s2r - s1r * s1r)::DOUBLE
                      / (n * s2s - s1s * s1s)::DOUBLE)
             ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS seasonal_strength,
           floor((CASE WHEN (n * s2t - s1t * s1t) > 0 THEN
             greatest(0.0, 1.0 - (n * s2r - s1r * s1r)::DOUBLE
                      / (n * s2t - s1t * s1t)::DOUBLE)
             ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS trend_strength
         FROM m""",
    // minute-bucketed concurrency: bounded explode + one keyed agg,
    // earliest-minute integer tiebreak
    "peak_concurrency" ->
      """WITH m AS (
           SELECT unnest(range(
             (epoch_ms(ts) // 1000) // 60,
             (epoch_ms(ts) // 1000
              + greatest(0, CAST(floor(coalesce(value, 0) + 0.5)
                              AS BIGINT))) // 60 + 1)) AS minute
           FROM events),
         c AS (SELECT minute, count(*)::BIGINT AS concurrent
               FROM m GROUP BY 1),
         mx AS (SELECT max(concurrent) AS mx,
                       count(*)::BIGINT AS n_active_minutes FROM c)
         SELECT (c.minute * 60)::BIGINT AS peak_epoch,
                mx.mx AS peak_concurrent, mx.n_active_minutes
         FROM c CROSS JOIN mx WHERE c.concurrent = mx.mx
         ORDER BY c.minute LIMIT 1""",
    // drawdown: pure LONG arithmetic over the dense day spine,
    // earliest-trough tie on exact integers
    "max_drawdown" ->
      """WITH d0 AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT))::BIGINT
                    AS x6
           FROM events WHERE value IS NOT NULL GROUP BY 1),
         b AS (SELECT min(day) AS dlo, max(day) AS dhi FROM d0),
         sp AS (SELECT unnest(range(dlo, dhi + 1)) AS day FROM b),
         dly AS (SELECT sp.day, coalesce(d0.x6, 0)::BIGINT AS x6
                 FROM sp LEFT JOIN d0 USING (day)),
         c1 AS (SELECT day, sum(x6) OVER (ORDER BY day
                  ROWS UNBOUNDED PRECEDING) AS cum FROM dly),
         c2 AS (SELECT day, cum, max(cum) OVER (ORDER BY day
                  ROWS UNBOUNDED PRECEDING) AS runmax FROM c1),
         dd AS (SELECT day, cum, runmax, runmax - cum AS dd6 FROM c2),
         mx AS (SELECT max(dd6) AS mx FROM dd)
         SELECT day AS trough_day,
                floor(mx::DOUBLE / 1e6 * 1e6 + 0.5) / 1e6
                  AS max_drawdown,
                floor(runmax::DOUBLE / 1e6 * 1e6 + 0.5) / 1e6
                  AS peak_cum,
                floor(cum::DOUBLE / 1e6 * 1e6 + 0.5) / 1e6
                  AS trough_cum
         FROM dd CROSS JOIN mx WHERE dd6 = mx
         ORDER BY day LIMIT 1""",
    // DiD: same split/period conventions as cuped_adjust; 4 exact
    // cells, one double chain for the estimator
    "diff_in_diff" ->
      """WITH ev AS (
           SELECT user_id, epoch_ms(ts) // 1000 AS t,
                  CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vi
           FROM events WHERE value IS NOT NULL),
         b AS (SELECT min(t) AS t0, max(t) AS t1 FROM ev),
         cells AS (
           SELECT CASE WHEN ((user_id % 2147483648) * 8388593) % 100 < 50
                       THEN 'a' ELSE 'b' END AS arm,
                  CASE WHEN t <= CAST(floor((t0 + t1) / 2.0) AS BIGINT)
                       THEN 'pre' ELSE 'post' END AS period,
                  count(*)::BIGINT AS n, sum(vi)::HUGEINT AS sv
           FROM ev, b GROUP BY 1, 2),
         m AS (SELECT arm, period, n,
                      sv::DOUBLE / n::DOUBLE / 1e6 AS m
               FROM cells),
         d AS (SELECT floor(((max(CASE WHEN arm = 'a' AND period = 'post'
                               THEN m END)
                       - max(CASE WHEN arm = 'a' AND period = 'pre'
                             THEN m END))
                       - (max(CASE WHEN arm = 'b' AND period = 'post'
                              THEN m END)
                       - max(CASE WHEN arm = 'b' AND period = 'pre'
                             THEN m END))) * 1e6 + 0.5) / 1e6 AS did
               FROM m)
         SELECT arm, period, n,
                floor(m * 1e6 + 0.5) / 1e6 AS mean_value, d.did
         FROM m CROSS JOIN d ORDER BY arm, period""",
    // Markov entropy rate: 1e-9-grid ln ratios weighted by exact
    // transition counts before the LONG sums
    "entropy_rate" ->
      """WITH tr AS (
           SELECT event_type, nxt, count(*)::BIGINT AS c_st FROM (
             SELECT event_type,
                    lead(event_type) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) AS nxt
             FROM events)
           WHERE nxt IS NOT NULL GROUP BY 1, 2),
         bs AS (SELECT event_type, sum(c_st)::BIGINT AS c_s
                FROM tr GROUP BY 1),
         t AS (SELECT tr.event_type, bs.c_s,
                 tr.c_st * CAST(floor(ln(tr.c_st::DOUBLE / bs.c_s)
                   * 1e9 + 0.5) AS BIGINT) AS t9
               FROM tr JOIN bs USING (event_type)),
         ps AS (SELECT event_type, c_s, sum(t9)::BIGINT AS st9
                FROM t GROUP BY 1, 2),
         r AS (SELECT floor(-sum(st9)::DOUBLE / sum(c_s) / 1e9
                 * 1e6 + 0.5) / 1e6 AS entropy_rate FROM ps)
         SELECT ps.event_type, ps.c_s AS n_out,
                floor(-ps.st9::DOUBLE / ps.c_s / 1e9 * 1e6 + 0.5) / 1e6
                  AS cond_entropy,
                r.entropy_rate
         FROM ps CROSS JOIN r ORDER BY ps.event_type""",
    // MDE at alpha=.05 two-sided, 80% power: (z.975+z.8)=2.801585 as
    // one parsed literal so both engines use the identical double
    "ab_power" ->
      """WITH pu AS (
           SELECT user_id,
                  sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT))::BIGINT
                    AS v
           FROM events WHERE value IS NOT NULL GROUP BY 1),
         m AS (SELECT
             sum(CASE WHEN ((user_id % 2147483648) * 8388593) % 100 < 50
                 THEN 1 ELSE 0 END)::BIGINT AS na,
             sum(CASE WHEN ((user_id % 2147483648) * 8388593) % 100 < 50
                 THEN 0 ELSE 1 END)::BIGINT AS nb,
             count(*)::HUGEINT AS n, sum(v)::HUGEINT AS sv,
             sum(v::HUGEINT * v) AS sv2
           FROM pu),
         m2 AS (SELECT na, nb,
                  sv::DOUBLE / n::DOUBLE / 1e6 AS mean,
                  sqrt((n * sv2 - sv * sv)::DOUBLE
                       / (n * (n - 1))::DOUBLE) / 1e6 AS sigma
                FROM m),
         m3 AS (SELECT na, nb, mean, sigma,
                  2.801585 * sigma * sqrt(1.0 / na + 1.0 / nb) AS mde
                FROM m2)
         SELECT na, nb,
                floor(mean * 1e6 + 0.5) / 1e6 AS mean_value,
                floor(sigma * 1e6 + 0.5) / 1e6 AS sigma,
                floor(mde * 1e6 + 0.5) / 1e6 AS mde_abs,
                floor(mde / mean * 1e6 + 0.5) / 1e6 AS mde_rel
         FROM m3""",
    // dHash bucket audit: 9 fractional-offset byte samples, 8
    // comparison bits, bucket-size histogram per kind
    "media_phash_buckets" -> {
      def smp(i: Int) =
        s"ascii(substr(text, CAST(floor($i * (length(text) - 1) / 8.0)" +
          s" AS INT) + 1, 1))"
      val bits = (0 until 8).map(i =>
        s"(CASE WHEN ${smp(i)} < ${smp(i + 1)} THEN 1 ELSE 0 END)" +
          s" * ${1 << i}").mkString(" + ")
      s"""WITH m AS (
           SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                    ELSE 'video' END AS kind,
                  $bits AS phash
           FROM documents WHERE length(text) >= 9),
         b AS (SELECT kind, phash, count(*)::BIGINT AS bucket_size
               FROM m GROUP BY 1, 2)
         SELECT kind, bucket_size, count(*)::BIGINT AS n_buckets
         FROM b GROUP BY 1, 2 ORDER BY kind, bucket_size"""
    },
    // windowFunnel: greedy-earliest chain from each entry view is
    // existence-optimal; depth decided by integer epoch comparisons
    "window_funnel" ->
      """WITH ev AS (
           SELECT user_id, event_type, epoch_ms(ts) // 1000 AS ep
           FROM events),
         v AS (SELECT user_id, ep AS tv FROM ev
               WHERE event_type = 'view'),
         c2 AS (SELECT v.user_id, v.tv, min(c.ep) AS t2
                FROM v JOIN ev c ON c.user_id = v.user_id
                  AND c.event_type = 'click' AND c.ep > v.tv
                GROUP BY 1, 2),
         c3 AS (SELECT c2.user_id, c2.tv, min(p.ep) AS t3
                FROM c2 JOIN ev p ON p.user_id = c2.user_id
                  AND p.event_type = 'purchase' AND p.ep > c2.t2
                GROUP BY 1, 2),
         d AS (
           SELECT v.user_id,
                  max(CASE WHEN c3.t3 IS NOT NULL
                             AND c3.t3 <= v.tv + 21600 THEN 3
                           WHEN c2.t2 IS NOT NULL
                             AND c2.t2 <= v.tv + 21600 THEN 2
                           ELSE 1 END) AS depth
           FROM v
           LEFT JOIN c2 ON c2.user_id = v.user_id AND c2.tv = v.tv
           LEFT JOIN c3 ON c3.user_id = v.user_id AND c3.tv = v.tv
           GROUP BY 1),
         tot AS (SELECT count(*)::BIGINT AS n_entered FROM d)
         SELECT depth, count(*)::BIGINT AS n_users,
                floor(count(*)::DOUBLE / t.n_entered * 1e6 + 0.5) / 1e6
                  AS share
         FROM d CROSS JOIN tot t
         GROUP BY depth, t.n_entered ORDER BY depth""",
    // IPS/SNIPS off-policy eval: empirical propensities, modal-action
    // target policy, per-term LONG quantization before the sums
    "ips_eval" ->
      """WITH ev AS (
           SELECT user_id, event_type,
                  CAST(floor(coalesce(value, 0) * 1e6 + 0.5) AS BIGINT)
                    AS r6
           FROM events),
         ca AS (SELECT event_type, count(*)::BIGINT AS c_a
                FROM ev GROUP BY 1),
         pc AS (SELECT user_id, event_type, count(*)::BIGINT AS cnt
                FROM ev GROUP BY 1, 2),
         pi AS (SELECT user_id, event_type AS pi_a FROM (
                  SELECT user_id, event_type, row_number() OVER (
                    PARTITION BY user_id ORDER BY cnt DESC, event_type)
                    AS rn
                  FROM pc) WHERE rn = 1),
         ag AS (
           SELECT count(*)::BIGINT AS n_events,
             sum(CASE WHEN e.event_type = p.pi_a THEN 1 ELSE 0 END)
               ::BIGINT AS n_matched,
             sum(CASE WHEN e.event_type = p.pi_a THEN e.r6 ELSE 0 END)
               ::BIGINT AS sr6,
             sum(CASE WHEN e.event_type = p.pi_a THEN
                 CAST(floor(e.r6::DOUBLE * 1e6 / c.c_a + 0.5) AS BIGINT)
                 ELSE 0 END)::BIGINT AS sti,
             sum(CASE WHEN e.event_type = p.pi_a THEN
                 CAST(floor(1e12 / c.c_a + 0.5) AS BIGINT)
                 ELSE 0 END)::BIGINT AS swi
           FROM ev e JOIN pi p USING (user_id)
           JOIN ca c USING (event_type))
         SELECT n_events, n_matched,
           floor(sr6::DOUBLE / n_matched / 1e6 * 1e6 + 0.5) / 1e6
             AS direct_mean,
           floor(sti::DOUBLE / 1e12 * 1e6 + 0.5) / 1e6 AS ips,
           floor(sti::DOUBLE / swi * 1e6 + 0.5) / 1e6 AS snips
         FROM ag""",
    // one gap pass, then the cutoff ladder as conditional counts:
    // n_sessions(t) = n_users + #{gaps > t}
    "session_gap_sweep" ->
      """WITH g AS (
           SELECT epoch_ms(ts) // 1000
                  - lag(epoch_ms(ts) // 1000) OVER (
                      PARTITION BY user_id ORDER BY ts, event_id) AS gap
           FROM events),
         tot AS (SELECT count(*)::BIGINT AS n_events,
                        sum(CASE WHEN gap IS NULL THEN 1 ELSE 0 END)
                          ::BIGINT AS n_users
                 FROM g),
         ks AS (SELECT unnest([5, 10, 15, 30, 60, 120]) AS gap_minutes),
         br AS (SELECT k.gap_minutes,
                  sum(CASE WHEN g.gap > k.gap_minutes * 60
                      THEN 1 ELSE 0 END)::BIGINT AS n_breaks
                FROM g CROSS JOIN ks k WHERE g.gap IS NOT NULL
                GROUP BY 1)
         SELECT b.gap_minutes,
                (t.n_users + b.n_breaks)::BIGINT AS n_sessions,
                floor(t.n_events::DOUBLE / (t.n_users + b.n_breaks)
                      * 1e6 + 0.5) / 1e6 AS events_per_session
         FROM br b CROSS JOIN tot t ORDER BY b.gap_minutes""",
    // Harman S-stemmer collisions: three regexp branches, exact-count
    // cut on (n_forms, token mass, stem)
    "stem_collisions" -> s"""$TokCte,
         tok AS (SELECT t, count(*)::BIGINT AS c FROM (
                   SELECT unnest(ts) AS t FROM toks) GROUP BY t),
         st AS (
           SELECT CASE
                    WHEN regexp_matches(t, 'ies$$')
                         AND NOT regexp_matches(t, '(aies|eies)$$')
                      THEN regexp_replace(t, 'ies$$', 'y')
                    WHEN regexp_matches(t, 'es$$')
                         AND NOT regexp_matches(t, '(aes|ees|oes)$$')
                      THEN regexp_replace(t, 's$$', '')
                    WHEN regexp_matches(t, 's$$')
                         AND NOT regexp_matches(t, '(us|ss)$$')
                      THEN regexp_replace(t, 's$$', '')
                    ELSE t END AS stem,
                  t, c
           FROM tok),
         detail AS (
           SELECT stem, count(DISTINCT t)::BIGINT AS n_forms,
                  sum(c)::BIGINT AS n_tokens,
                  string_agg(DISTINCT t, ',' ORDER BY t) AS forms
           FROM st GROUP BY stem
           HAVING count(DISTINCT t) >= 2
           ORDER BY n_forms DESC, n_tokens DESC, stem LIMIT 30),
         summary AS (
           SELECT '_summary' AS stem,
                  (count(DISTINCT t) - count(DISTINCT stem))::BIGINT
                    AS n_forms,
                  count(DISTINCT t)::BIGINT AS n_tokens,
                  count(DISTINCT t)::VARCHAR || '->' ||
                    count(DISTINCT stem)::VARCHAR AS forms
           FROM st)
         SELECT * FROM summary UNION ALL SELECT * FROM detail""",
    // c-TF-IDF: exact counts, 1e-9-grid ln factor, rank on the LONG
    // product c*L9 with term tiebreak
    "ctfidf_terms" -> s"""$TokCte,
         cts AS MATERIALIZED (
           SELECT d.source, t.t AS term, count(*)::BIGINT AS c
           FROM documents d
           JOIN (SELECT doc_id, unnest(ts) AS t FROM toks) t
             ON t.doc_id = d.doc_id
           GROUP BY 1, 2),
         ns AS (SELECT source, sum(c)::BIGINT AS n_s FROM cts GROUP BY 1),
         ft AS (SELECT term, sum(c)::BIGINT AS f FROM cts GROUP BY 1),
         tot AS (SELECT sum(n_s)::BIGINT AS total,
                        count(*)::BIGINT AS n_src FROM ns),
         sc AS (
           SELECT c.source, c.term, c.c,
             c.c * CAST(floor(ln(1.0 + t.total::DOUBLE / t.n_src / f.f)
                   * 1e9 + 0.5) AS BIGINT) AS s9
           FROM cts c JOIN ft f USING (term) CROSS JOIN tot t),
         rk AS (
           SELECT source, term, c, s9,
             row_number() OVER (PARTITION BY source
               ORDER BY s9 DESC, term) AS rnk
           FROM sc)
         SELECT r.source, r.rnk, r.term, r.c,
                floor(r.s9::DOUBLE / n.n_s / 1e9 * 1e6 + 0.5) / 1e6
                  AS ctfidf
         FROM rk r JOIN ns n USING (source)
         WHERE r.rnk <= 5
         ORDER BY r.source, r.rnk""",
    // t-closeness: exact-integer EMD via cross-multiplied cumulative
    // histograms (HUGEINT mirrors Spark's DECIMAL(38)); violation is
    // the integer test 5·emd_num > 9·n_c·n_g — no double enters a
    // comparison
    "t_closeness" ->
      """WITH ev AS (
           SELECT event_type, extract(hour FROM ts)::INT AS hr,
                  value, user_id
           FROM events WHERE value IS NOT NULL),
         ed AS (
           SELECT quantile_cont(value,
             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS edges
           FROM ev),
         cr AS MATERIALIZED (
           SELECT event_type, hr,
                  len(list_filter(edges, x -> value > x)) AS vb,
                  user_id
           FROM ev, ed),
         cells AS (SELECT event_type, hr, vb, count(*)::BIGINT AS c
                   FROM cr GROUP BY 1, 2, 3),
         spine AS (SELECT event_type, hr, unnest(range(0, 10)) AS vb
                   FROM (SELECT DISTINCT event_type, hr FROM cells)),
         dense AS (SELECT s.event_type, s.hr, s.vb,
                     coalesce(c.c, 0)::BIGINT AS c
                   FROM spine s
                   LEFT JOIN cells c USING (event_type, hr, vb)),
         cum AS (SELECT event_type, hr, vb,
                   (sum(c) OVER (PARTITION BY event_type, hr
                                 ORDER BY vb))::BIGINT AS cum_c,
                   (sum(c) OVER (PARTITION BY event_type, hr))::BIGINT
                     AS n_c
                 FROM dense),
         g AS (SELECT vb, sum(c)::BIGINT AS gc FROM dense GROUP BY vb),
         gcum AS (SELECT vb,
                    (sum(gc) OVER (ORDER BY vb))::BIGINT AS cum_g,
                    (sum(gc) OVER ())::BIGINT AS n_g
                  FROM g),
         pc AS (SELECT c.event_type, c.hr,
                  sum(abs(c.cum_c::HUGEINT * g.n_g
                      - g.cum_g::HUGEINT * c.n_c)) AS emd_num,
                  max(c.n_c::HUGEINT * g.n_g) AS cd
                FROM cum c JOIN gcum g USING (vb)
                WHERE vb < 9 GROUP BY 1, 2),
         pt AS (SELECT event_type, hr,
                  floor(emd_num::DOUBLE / (cd * 9)::DOUBLE * 1e6 + 0.5)
                    / 1e6 AS t,
                  (emd_num * 5 > cd * 9) AS viol
                FROM pc),
         risk AS (
           SELECT count(DISTINCT user_id)::BIGINT AS users_at_risk
           FROM cr WHERE EXISTS (
             SELECT 1 FROM pt
             WHERE pt.viol AND pt.event_type = cr.event_type
               AND pt.hr = cr.hr)),
         tot AS (SELECT count(DISTINCT user_id)::BIGINT AS total_users
                 FROM ev),
         agg AS (SELECT count(*)::BIGINT AS n_classes,
                   sum(CASE WHEN viol THEN 1 ELSE 0 END)::BIGINT
                     AS violating_classes,
                   max(t) AS max_t
                 FROM pt)
         SELECT n_classes, violating_classes, max_t,
           floor(users_at_risk::DOUBLE / total_users * 1e6 + 0.5) / 1e6
             AS at_risk_share
         FROM agg CROSS JOIN risk CROSS JOIN tot""",
    // FD audit: per candidate one two-level group-count; g3 = rows
    // minus the per-group max single-RHS count (all exact integers)
    "fd_audit" -> {
      def one(tbl: String, name: String, lhs: String, rhs: String) =
        s"""SELECT '$name' AS fd, count(*)::BIGINT AS lhs_groups,
             sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END)::BIGINT
               AS violating_groups,
             (sum(n_rows) - sum(mx))::BIGINT AS g3_rows,
             (sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) = 0) AS holds
           FROM (SELECT $lhs, count(*)::BIGINT AS n_rhs,
                   sum(c)::BIGINT AS n_rows, max(c)::BIGINT AS mx
                 FROM (SELECT $lhs, $rhs, count(*)::BIGINT AS c
                       FROM $tbl GROUP BY ALL)
                 GROUP BY $lhs)"""
      Seq(
        one("orders", "o_orderkey->o_custkey", "o_orderkey", "o_custkey"),
        one("orders", "o_custkey->o_orderpriority", "o_custkey",
          "o_orderpriority"),
        one("lineitem", "l_orderkey->l_returnflag", "l_orderkey",
          "l_returnflag"),
        one("lineitem", "l_orderkey,l_linenumber->l_partkey",
          "l_orderkey, l_linenumber", "l_partkey"),
        one("lineitem", "l_partkey->l_suppkey", "l_partkey", "l_suppkey"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY fd")
    },
    // per-source unigram KL: dense sources×vocab grid with add-one
    // smoothing; each ln ratio on the 1e-9 LONG grid weighted by the
    // exact (c_st+1) before the order-free sum (mirrors
    // TextStats.sourceKlDivergence)
    "source_kl" ->
      """WITH tok AS (
           SELECT source,
             unnest(list_filter(list_transform(
               string_split_regex(lower(text), '\s+'),
               t -> regexp_replace(t, '(^[^a-z]+|[^a-z]+$)', '', 'g')),
               t -> len(t) > 0)) AS t
           FROM documents),
         st AS MATERIALIZED (
           SELECT source, t, count(*)::BIGINT AS c_st
           FROM tok GROUP BY 1, 2),
         corpus AS (SELECT t, sum(c_st)::BIGINT AS c_t
                    FROM st GROUP BY 1),
         tot AS (SELECT sum(c_t)::BIGINT AS n, count(*)::BIGINT AS v
                 FROM corpus),
         ps AS (SELECT source, sum(c_st)::BIGINT AS n_s,
                  count(*)::BIGINT AS vocab_used
                FROM st GROUP BY 1),
         grid AS (
           SELECT p.source, p.n_s, c.t, c.c_t, tot.n, tot.v,
                  coalesce(s.c_st, 0)::BIGINT AS c_st
           FROM ps p CROSS JOIN corpus c CROSS JOIN tot
           LEFT JOIN st s ON s.source = p.source AND s.t = c.t),
         kl AS (SELECT source, max(n_s)::BIGINT AS n_tokens,
                  max(v)::BIGINT AS v,
                  sum((c_st + 1) * CAST(floor(
                    ln(((c_st + 1) * (n + v))::DOUBLE
                       / ((c_t + 1) * (n_s + v))::DOUBLE)
                    * 1e9 + 0.5) AS BIGINT))::BIGINT AS num
                FROM grid GROUP BY source)
         SELECT k.source, n_tokens, vocab_used,
           floor(num::DOUBLE / 1e9 / (n_tokens + v)::DOUBLE * 1e6 + 0.5)
             / 1e6 AS kl_to_corpus
         FROM kl k JOIN ps USING (source) ORDER BY source""",
    "countmin_audit" -> s"""$TokCte,
         cnt AS (SELECT t, count(*)::BIGINT AS exact
                 FROM (SELECT unnest(ts) AS t FROM toks) GROUP BY t),
         hx AS (SELECT t, exact,
                  (list_reduce(list_prepend(0::BIGINT,
                     list_transform(string_split(t, ''),
                       c -> ord(c)::BIGINT)),
                     (h, c) -> (h * 31 + c) % 1099511627776)) % 1048576
                    AS hv
                FROM cnt),
         cl AS (SELECT e.row AS row, e.cellv AS cellv,
                  sum(c)::BIGINT AS cellsum
                FROM (SELECT unnest([
                    {'row': 0, 'cellv': ((hv * 37 + 17) % 1048573) % 256},
                    {'row': 1, 'cellv': ((hv * 8191 + 257) % 1048573) % 256},
                    {'row': 2, 'cellv': ((hv * 524287 + 65537) % 1048573)
                       % 256}]) AS e,
                    exact AS c
                  FROM hx)
                GROUP BY 1, 2),
         top AS (SELECT t, exact, hv FROM hx
                 ORDER BY exact DESC, t LIMIT 20),
         pr AS (SELECT t, exact, e.row AS row, e.cellv AS cellv
                FROM (SELECT t, exact, unnest([
                    {'row': 0, 'cellv': ((hv * 37 + 17) % 1048573) % 256},
                    {'row': 1, 'cellv': ((hv * 8191 + 257) % 1048573) % 256},
                    {'row': 2, 'cellv': ((hv * 524287 + 65537) % 1048573)
                       % 256}]) AS e
                  FROM top))
         SELECT t AS term, exact, min(cellsum) AS est,
                (min(cellsum) - exact)::BIGINT AS overestimate
         FROM pr JOIN cl USING (row, cellv)
         GROUP BY t, exact ORDER BY exact DESC, term""",
    // m-bit/k=3 Bloom: the filter is the distinct set-bit table; a
    // probe is a false positive iff all three bits join
    "bloom_fpr_audit" -> s"""$TokCte,
         mem AS (SELECT DISTINCT unnest(ts) AS t FROM toks),
         prb AS (SELECT DISTINCT t FROM (
                   SELECT t || 'zz' AS t FROM mem
                   UNION ALL SELECT t || 'qx' FROM mem)
                 WHERE t NOT IN (SELECT t FROM mem)),
         mh AS (SELECT (list_reduce(list_prepend(0::BIGINT,
                    list_transform(string_split(t, ''),
                      c -> ord(c)::BIGINT)),
                    (h, c) -> (h * 31 + c) % 1099511627776)) % 1048576
                   AS hv
                FROM mem),
         mb AS (SELECT DISTINCT bit FROM (
                  SELECT unnest([
                    ((hv * 37 + 17) % 1048573) % 4096,
                    ((hv * 8191 + 257) % 1048573) % 4096,
                    ((hv * 524287 + 65537) % 1048573) % 4096]) AS bit
                  FROM mh)),
         ph AS (SELECT t, (list_reduce(list_prepend(0::BIGINT,
                    list_transform(string_split(t, ''),
                      c -> ord(c)::BIGINT)),
                    (h, c) -> (h * 31 + c) % 1099511627776)) % 1048576
                   AS hv
                FROM prb),
         fpc AS (SELECT count(*)::BIGINT AS false_pos FROM (
                   SELECT t FROM (
                     SELECT t, unnest([
                       ((hv * 37 + 17) % 1048573) % 4096,
                       ((hv * 8191 + 257) % 1048573) % 4096,
                       ((hv * 524287 + 65537) % 1048573) % 4096]) AS bit
                     FROM ph)
                   WHERE bit IN (SELECT bit FROM mb)
                   GROUP BY t HAVING count(*) = 3)),
         nm AS (SELECT count(*)::BIGINT AS n_members FROM mem),
         np2 AS (SELECT count(*)::BIGINT AS n_probes FROM prb),
         t3 AS (SELECT 1 - exp(3.0 * n_members * ln(1 - 1.0 / 4096))
                  AS inr FROM nm)
         SELECT n_members, n_probes, false_pos,
           CASE WHEN n_probes > 0
             THEN floor(false_pos::DOUBLE / n_probes * 1e6 + 0.5) / 1e6
             ELSE 0.0 END AS fpr,
           floor(inr * inr * inr * 1e6 + 0.5) / 1e6 AS fpr_theory
         FROM nm, np2, fpc, t3""",
    "dedup_threshold_sweep" -> s"""$TokCte,
         sh AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(ts) >= 3
               THEN list_transform(range(1, len(ts) - 1),
                      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
               ELSE [array_to_string(ts, ' ')] END) AS shs
           FROM toks),
         sz AS (SELECT doc_id, len(shs)::BIGINT AS nsh FROM sh),
         ex AS (SELECT doc_id, unnest(shs) AS sh FROM sh),
         it AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  count(*)::BIGINT AS inter
                FROM ex a JOIN ex b ON a.sh = b.sh
                  AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
         j AS (SELECT doc_a, doc_b, inter, sa.nsh AS na, sb.nsh AS nb
               FROM it JOIN sz sa ON sa.doc_id = it.doc_a
                       JOIN sz sb ON sb.doc_id = it.doc_b),
         th AS (SELECT unnest([5, 6, 7, 8, 9]) AS t),
         hit AS (SELECT t, doc_a, doc_b FROM j, th
                 WHERE inter * 10 >= t * (na + nb - inter)),
         p AS (SELECT t, count(*)::BIGINT AS n_pairs FROM hit
               GROUP BY t),
         d AS (SELECT t, count(DISTINCT dd)::BIGINT AS n_docs FROM (
                 SELECT t, unnest([doc_a, doc_b]) AS dd FROM hit)
               GROUP BY t)
         SELECT th.t / 10.0 AS threshold,
                coalesce(p.n_pairs, 0)::BIGINT AS n_pairs,
                coalesce(d.n_docs, 0)::BIGINT AS n_docs
         FROM th LEFT JOIN p USING (t) LEFT JOIN d USING (t)
         ORDER BY threshold""",
    "spearman_corr" -> {
      val en = sqlList(graft.operators.TextStats.Stopwords.head._2)
      s"""$TokCte,
         q AS (SELECT doc_id, len(ts)::BIGINT AS x,
                 round(least(1.0, len(ts) / 100.0) *
                   (0.3 + 0.7 *
                     len(list_filter(ts, t -> list_contains($en, t)))
                     / len(ts)), 6) AS y
               FROM toks WHERE len(ts) > 0),
         rx AS (SELECT x, 2 * prior + cnt + 1 AS rx FROM (
                  SELECT x, cnt, sum(cnt) OVER (ORDER BY x
                    ROWS UNBOUNDED PRECEDING) - cnt AS prior
                  FROM (SELECT x, count(*)::BIGINT AS cnt FROM q
                        GROUP BY x))),
         ry AS (SELECT y, 2 * prior + cnt + 1 AS ry FROM (
                  SELECT y, cnt, sum(cnt) OVER (ORDER BY y
                    ROWS UNBOUNDED PRECEDING) - cnt AS prior
                  FROM (SELECT y, count(*)::BIGINT AS cnt FROM q
                        GROUP BY y))),
         jn AS (SELECT rx.rx, ry.ry FROM q JOIN rx USING (x)
                JOIN ry USING (y)),
         st AS (SELECT count(*)::HUGEINT AS n,
                  sum(rx)::HUGEINT AS sx, sum(ry)::HUGEINT AS sy,
                  sum(rx::HUGEINT * ry) AS sxy,
                  sum(rx::HUGEINT * rx) AS sxx,
                  sum(ry::HUGEINT * ry) AS syy
                FROM jn)
         SELECT n::BIGINT AS n_docs,
           floor((n * sxy - sx * sy)::DOUBLE /
             (sqrt((n * sxx - sx * sx)::DOUBLE) *
              sqrt((n * syy - sy * sy)::DOUBLE)) * 1e6 + 0.5) / 1e6
             AS spearman
         FROM st"""
    },
    "auc_quality" -> {
      val en = sqlList(graft.operators.TextStats.Stopwords.head._2)
      s"""$TokCte,
         q AS (
           SELECT doc_id,
             round(least(1.0, len(ts) / 100.0) *
               (0.3 + 0.7 * len(list_filter(ts, t -> list_contains($en, t)))
                 / len(ts)), 6) AS quality
           FROM toks WHERE len(ts) > 0),
         lab AS (
           SELECT q.quality AS s,
                  CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
           FROM q JOIN documents d USING (doc_id)),
         g AS (SELECT s, sum(y) AS p, sum(1 - y) AS n FROM lab GROUP BY s),
         c AS (SELECT s, p, n,
                      coalesce(sum(n) OVER (ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS cumn
               FROM g)
         SELECT round(sum(p * (cumn + n / 2.0)) / (sum(p) * sum(n)), 6) AS auc
         FROM c"""
    },
    // sketch-then-verify heavy hitters: the MG candidate superset plus
    // an exact recount is, by the sketch's guarantee, exactly the
    // HAVING answer — the oracle never needs to model the sketch
    "heavy_hitters" -> s"""$TokCte,
         t AS (SELECT unnest(ts) AS tok FROM toks)
         SELECT tok, count(*) AS cnt FROM t GROUP BY tok
         HAVING count(*) * 30 > (SELECT count(*) FROM t)""",
    // first occurrence of each fixed-width token chunk (by doc id,
    // then position) survives; later copies counted as dropped
    "chunk_dedup" -> s"""$TokCte,
         nz AS (SELECT doc_id, ts FROM toks WHERE len(ts) > 0),
         chunks AS (
           SELECT doc_id, i AS pos,
                  array_to_string(ts[i*20+1 : i*20+20], ' ') AS chunk
           FROM nz, LATERAL (SELECT unnest(range(0, (len(ts)+19)//20)) AS i) u),
         marked AS (
           SELECT doc_id,
                  row_number() OVER (PARTITION BY chunk
                    ORDER BY doc_id, pos) AS rn
           FROM chunks)
         SELECT doc_id, count(*) AS n_chunks,
                count(*) FILTER (WHERE rn = 1) AS n_kept
         FROM marked GROUP BY doc_id""",
    // batch doc survives iff no corpus near-dup at j>=0.8; LSH candidate
    // recall ≈ 1 at this threshold (see dedup_minhash note), so the
    // exact-Jaccard restatement is the answer
    "incremental_dedup" -> s"""WITH prs AS ($JaccardSql)
         SELECT doc_id FROM documents
         WHERE doc_id % 5 = 0 AND doc_id NOT IN (
           SELECT doc_a FROM prs WHERE doc_a % 5 = 0 AND doc_b % 5 <> 0
           UNION
           SELECT doc_b FROM prs WHERE doc_b % 5 = 0 AND doc_a % 5 <> 0)""",
    // ordered-wedge triangle enumeration over the thresholded supplier
    // co-purchase projection; quantile_cont mirrors Spark's interpolated
    // percentile bit-for-bit (same formula over the same ints)
    "triangle_census" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
         co AS (SELECT a.l_suppkey AS s1, b.l_suppkey AS s2, count(*) AS c
                FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                  AND a.l_suppkey < b.l_suppkey
                GROUP BY 1, 2),
         thr AS (SELECT quantile_cont(c, 0.9) AS t FROM co),
         e AS (SELECT s1 AS u, s2 AS v FROM co, thr WHERE c >= t),
         deg AS (SELECT x, count(*) AS d FROM
                   (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
                 GROUP BY x),
         orient AS (
           SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                       THEN e.u ELSE e.v END AS s,
                  CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                       THEN e.v ELSE e.u END AS t,
                  CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                       THEN dv.d ELSE du.d END AS dt
           FROM e JOIN deg du ON du.x = e.u JOIN deg dv ON dv.x = e.v),
         w AS (SELECT o1.s AS a, o1.t AS b, o2.t AS c
               FROM orient o1 JOIN orient o2 ON o1.s = o2.s
               WHERE o1.dt < o2.dt OR (o1.dt = o2.dt AND o1.t < o2.t)),
         cl AS (SELECT w.b, w.c, o3.s AS hit
                FROM w LEFT JOIN orient o3 ON o3.s = w.b AND o3.t = w.c)
         SELECT (SELECT count(*) FROM orient) AS n_edges,
                count(*) AS n_wedges, count(hit) AS n_triangles
         FROM cl""",
    // the revenue companion to retention_cohorts: 1e-6-grid sums,
    // cumulative window over the tiny cohort×offset table
    "cohort_ltv" ->
      """WITH ev AS (
           SELECT user_id, ts,
                  CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v6
           FROM events WHERE value IS NOT NULL),
         f AS (SELECT user_id, min(ts) AS first_ts FROM ev GROUP BY 1),
         cells AS (
           SELECT date_trunc('week', f.first_ts)::DATE AS cohort_week,
                  (date_diff('day', date_trunc('week', f.first_ts),
                             date_trunc('week', e.ts)) // 7)::INT
                    AS week_offset,
                  sum(e.v6)::BIGINT AS rev6
           FROM ev e JOIN f USING (user_id)
           GROUP BY 1, 2),
         sizes AS (
           SELECT date_trunc('week', first_ts)::DATE AS cohort_week,
                  count(*)::BIGINT AS n_users
           FROM f GROUP BY 1)
         SELECT c.cohort_week, c.week_offset, s.n_users,
                floor(c.rev6::DOUBLE / 1e6 * 1e4 + 0.5) / 1e4
                  AS week_revenue,
                floor((sum(c.rev6) OVER (PARTITION BY c.cohort_week
                        ORDER BY c.week_offset
                        ROWS UNBOUNDED PRECEDING))::DOUBLE
                      / s.n_users / 1e6 * 1e6 + 0.5) / 1e6
                  AS ltv_per_user
         FROM cells c JOIN sizes s USING (cohort_week)
         ORDER BY c.cohort_week, c.week_offset""",
    "retention_cohorts" ->
      """WITH f AS (SELECT user_id, min(ts) AS first_ts
                    FROM events GROUP BY user_id)
         SELECT date_trunc('week', f.first_ts)::DATE AS cohort_week,
                (date_diff('day', date_trunc('week', f.first_ts),
                           date_trunc('week', e.ts)) // 7)::INT AS week_offset,
                count(DISTINCT e.user_id) AS active_users
         FROM events e JOIN f USING (user_id)
         GROUP BY 1, 2""",
    "dup_cluster_sizes" -> s"""WITH RECURSIVE prs AS ($JaccardSql),
         edges AS (SELECT doc_a AS s, doc_b AS d FROM prs
                   UNION ALL SELECT doc_b, doc_a FROM prs),
         walk(id, comp) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.d, w.comp FROM walk w JOIN edges e ON e.s = w.id),
         canon AS (SELECT id, min(comp) AS canonical_id
                   FROM walk GROUP BY id)
         SELECT sz, count(*) AS n_clusters FROM (
           SELECT canonical_id, count(*) AS sz FROM canon GROUP BY 1)
         GROUP BY 1""",
    "fk_audit" ->
      """SELECT 'lineitem->orders' AS relation,
                (SELECT count(*) FROM lineitem) AS n_child,
                (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN
                  (SELECT o_orderkey FROM orders)) AS n_orphans
         UNION ALL
         SELECT 'orders->customer',
                (SELECT count(*) FROM orders),
                (SELECT count(*) FROM orders WHERE o_custkey NOT IN
                  (SELECT c_custkey FROM customer))
         UNION ALL
         SELECT 'lineitem->supplier',
                (SELECT count(*) FROM lineitem),
                (SELECT count(*) FROM lineitem WHERE l_suppkey NOT IN
                  (SELECT s_suppkey FROM supplier))
         UNION ALL
         SELECT 'customer->nation',
                (SELECT count(*) FROM customer),
                (SELECT count(*) FROM customer WHERE c_nationkey NOT IN
                  (SELECT n_nationkey FROM nation))
         UNION ALL
         SELECT 'supplier->nation',
                (SELECT count(*) FROM supplier),
                (SELECT count(*) FROM supplier WHERE s_nationkey NOT IN
                  (SELECT n_nationkey FROM nation))""",
    // tf-idf cosine pairs through the shared-term inverted-index join;
    // norms over the FULL vector, df-pruned (df ≤ 0.2·N) connector terms
    "doc_similarity" -> s"""$TokCte,
         posting AS (
           SELECT doc_id, t AS term, count(*) AS tf
           FROM (SELECT doc_id, unnest(ts) AS t FROM toks)
           GROUP BY doc_id, t),
         dfx AS (SELECT term, count(*) AS df FROM posting GROUP BY term),
         nd AS (SELECT count(*) AS n_docs FROM documents),
         wt AS (SELECT doc_id, term, df, n_docs,
                       tf * ln(n_docs::DOUBLE / df) AS w
                FROM posting JOIN dfx USING (term) CROSS JOIN nd),
         nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm
                 FROM wt GROUP BY doc_id),
         kept AS (SELECT * FROM wt WHERE df <= n_docs * 0.2),
         dots AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  sum(a.w * b.w) AS dot
           FROM kept a JOIN kept b
             ON a.term = b.term AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT doc_a, doc_b,
                round(dot / (na.nrm * nb.nrm), 6) AS sim
         FROM dots
         JOIN nrm na ON na.doc_id = doc_a
         JOIN nrm nb ON nb.doc_id = doc_b
         WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.3""",
    "interval_union" ->
      """WITH iv AS (
           SELECT user_id, event_id,
                  (epoch_ms(ts) // 1000)::DOUBLE AS ep,
                  (epoch_ms(ts) // 1000)::DOUBLE + value AS iend
           FROM events),
         m AS (
           SELECT user_id, event_id, ep, iend,
             max(iend) OVER (PARTITION BY user_id ORDER BY ep, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
           FROM iv),
         isl AS (
           SELECT user_id, ep, iend,
             sum(CASE WHEN prev_max IS NULL OR ep > prev_max
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ep, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
           FROM m),
         g AS (SELECT user_id, island, count(*) AS n_iv,
                      min(ep) AS istart, max(iend) AS iend
               FROM isl GROUP BY 1, 2)
         SELECT user_id, sum(n_iv)::BIGINT AS n_intervals,
                count(*) AS n_islands,
                round(sum(iend - istart), 4) AS covered_sec
         FROM g GROUP BY user_id""",
    // moments rounded to 6 dp BEFORE the z computation on both engines,
    // so the |z| ≥ 2.5 cut compares identical doubles
    "zscore_anomalies" ->
      """WITH st AS (SELECT event_type, round(avg(value), 6) AS mu,
                            round(stddev_pop(value), 6) AS sigma
                     FROM events GROUP BY event_type)
         SELECT event_id, e.event_type, value,
                round((value - mu) / sigma, 4) AS z
         FROM events e JOIN st USING (event_type)
         WHERE abs(round((value - mu) / sigma, 4)) >= 2.5""",
    "neighbor_jaccard" ->
      """WITH cs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sup
                     FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         deg AS (SELECT sup, count(*) AS deg FROM cs GROUP BY sup),
         sh AS (SELECT a.sup AS s1, b.sup AS s2, count(*) AS shared
                FROM cs a JOIN cs b ON a.c = b.c AND a.sup < b.sup
                GROUP BY 1, 2)
         SELECT s1, s2, shared,
                round(shared / (d1.deg + d2.deg - shared), 6) AS jaccard
         FROM sh
         JOIN deg d1 ON d1.sup = s1
         JOIN deg d2 ON d2.sup = s2
         ORDER BY jaccard DESC, s1, s2 LIMIT 50""",
    "source_quota" ->
      """SELECT source, doc_id FROM (
           SELECT source, doc_id,
             row_number() OVER (PARTITION BY source
               ORDER BY ((doc_id % 2147483648) * 8388593) % 100, doc_id)
               AS rnk
           FROM documents)
         WHERE rnk <= 10""",
    "token_budget" -> s"""$TokCte,
         t AS (SELECT d.source, d.doc_id, len(ts)::BIGINT AS n_tokens,
                      ((d.doc_id % 2147483648) * 8388593) % 100 AS h
               FROM documents d JOIN toks ON toks.doc_id = d.doc_id),
         c AS (SELECT source, doc_id, n_tokens,
                 sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
                   AS cum_tokens
               FROM t)
         SELECT source, doc_id, n_tokens, cum_tokens FROM c
         WHERE cum_tokens - n_tokens < 600""",
    // exact-percentile boundaries (rounded 6 dp on both engines), then
    // bucket = #boundaries strictly below the value
    "equi_depth_hist" ->
      """WITH bs AS (
           SELECT list_transform(
             quantile_cont(o_totalprice,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
             b -> round(b, 6)) AS bs
           FROM orders)
         SELECT bucket, count(*) AS cnt,
                round(min(p), 2) AS lo, round(max(p), 2) AS hi
         FROM (SELECT o_totalprice AS p,
                 len(list_filter(bs.bs, b -> o_totalprice > b)) + 1
                   AS bucket
               FROM orders, bs)
         GROUP BY bucket""",
    "q22_shape" ->
      """WITH pa AS (SELECT avg(c_acctbal) AS pos_avg
                     FROM customer WHERE c_acctbal > 0)
         SELECT c_nationkey, count(*) AS n_cust,
                round(sum(c_acctbal), 2) AS total_bal
         FROM customer, pa
         WHERE c_acctbal > pos_avg
           AND c_custkey NOT IN (SELECT o_custkey FROM orders
                                 WHERE o_orderpriority = '1-URGENT')
         GROUP BY c_nationkey""",
    "time_weighted_avg" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) // 1000 AS ep,
                           value
                    FROM events),
         l AS (SELECT user_id, ep, value,
                 lead(ep) OVER (PARTITION BY user_id ORDER BY ep, event_id)
                   AS next_ep
               FROM e)
         SELECT user_id,
                round(sum(value * (next_ep - ep)) /
                      (max(next_ep) - min(ep)), 6) AS twa,
                count(*) AS n_held
         FROM l WHERE next_ep IS NOT NULL
         GROUP BY user_id""",
    "latest_snapshot" ->
      """SELECT user_id, event_type, event_id, ep, value FROM (
           SELECT user_id, event_type, event_id,
                  epoch_ms(ts) // 1000 AS ep, value,
             row_number() OVER (PARTITION BY user_id, event_type
               ORDER BY epoch_ms(ts) // 1000 DESC, event_id DESC) AS rn
           FROM events)
         WHERE rn = 1""",
    // the drained CDC stream's final state = the batch compaction
    "stream_cdc_replay" ->
      """SELECT user_id, event_type, event_id, ep, value FROM (
           SELECT user_id, event_type, event_id,
                  epoch_ms(ts) // 1000 AS ep, value,
             row_number() OVER (PARTITION BY user_id, event_type
               ORDER BY epoch_ms(ts) // 1000 DESC, event_id DESC) AS rn
           FROM events)
         WHERE rn = 1""",
    // drained token-bucket throttle = the per-user recursive integer
    // fold (capacity 2, one token per 21600 s of event time)
    "stream_ratelimit_replay" ->
      """WITH RECURSIVE ev AS MATERIALIZED (
           SELECT user_id, event_id, epoch_ms(ts) // 1000 AS ep,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS rn
           FROM events),
         r AS (
           SELECT user_id, event_id, ep, rn,
                  1::BIGINT AS tokens, ep AS anchor, true AS passed
           FROM ev WHERE rn = 1
           UNION ALL
           SELECT o.user_id, o.event_id, o.ep, o.rn,
             CASE WHEN (CASE WHEN r.tokens + (o.ep - r.anchor) // 21600
                          >= 2 THEN 2
                        ELSE r.tokens + (o.ep - r.anchor) // 21600 END)
                    >= 1
               THEN (CASE WHEN r.tokens + (o.ep - r.anchor) // 21600
                       >= 2 THEN 2
                     ELSE r.tokens + (o.ep - r.anchor) // 21600 END) - 1
               ELSE (CASE WHEN r.tokens + (o.ep - r.anchor) // 21600
                       >= 2 THEN 2
                     ELSE r.tokens + (o.ep - r.anchor) // 21600 END)
             END,
             CASE WHEN r.tokens + (o.ep - r.anchor) // 21600 >= 2
               THEN o.ep
               ELSE r.anchor + ((o.ep - r.anchor) // 21600) * 21600
             END,
             (CASE WHEN r.tokens + (o.ep - r.anchor) // 21600 >= 2
                THEN 2
              ELSE r.tokens + (o.ep - r.anchor) // 21600 END) >= 1
           FROM ev o JOIN r ON o.user_id = r.user_id
             AND o.rn = r.rn + 1)
         SELECT user_id, event_id, ep, tokens AS tokens_left
         FROM r WHERE passed ORDER BY user_id, ep, event_id""",
    // first-raw-token blocks, (text, doc_id) order, rank-window
    // candidates, exact token-set Jaccard verify
    "sorted_neighborhood" -> s"""$TokCte,
         d AS (SELECT t.doc_id, d0.text, list_distinct(t.ts) AS st,
                      t.ts[1] AS block
               FROM toks t JOIN documents d0 ON d0.doc_id = t.doc_id
               WHERE len(t.ts) > 0),
         rdoc AS (SELECT doc_id, text, st, block,
                  row_number() OVER (PARTITION BY block
                    ORDER BY text, doc_id) AS rn
                FROM d),
         cand AS (
           SELECT a.doc_id AS da, b.doc_id AS db,
                  len(list_intersect(a.st, b.st))::DOUBLE /
                    len(list_distinct(a.st || b.st)) AS j
           FROM rdoc a JOIN rdoc b ON a.block = b.block
             AND b.rn > a.rn AND b.rn <= a.rn + 3)
         SELECT least(da, db) AS doc_a, greatest(da, db) AS doc_b,
                round(j, 6) AS jaccard
         FROM cand WHERE j >= 0.5""",
    "unigram_logprob" -> s"""$TokCte,
         tok AS (SELECT doc_id, unnest(ts) AS term FROM toks),
         model AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
         tot AS (SELECT sum(cnt)::DOUBLE AS total FROM model)
         SELECT doc_id, round(avg(ln(cnt / total)), 6) AS avg_logprob,
                count(*) AS n_tokens
         FROM tok JOIN model USING (term), tot
         GROUP BY doc_id""",
    "mom_growth" ->
      """WITH monthly AS (
           SELECT n_name, strftime(l_shipdate, '%Y-%m') AS ship_month,
                  round(sum(l_extendedprice * (1 - l_discount)), 4) AS rev
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           WHERE n_name IN ('NATION_3', 'NATION_24')
           GROUP BY n_name, ship_month)
         SELECT n_name, ship_month, rev,
                round((rev - lag(rev) OVER w) / lag(rev) OVER w * 100, 4)
                  AS growth_pct
         FROM monthly
         WINDOW w AS (PARTITION BY n_name ORDER BY ship_month)""",
    // full type×hour grid so never-observed cells contribute expected mass
    "chi_square" ->
      """WITH obs AS (
           SELECT event_type, hour(ts) AS hr, count(*) AS o
           FROM events GROUP BY 1, 2),
         rt AS (SELECT event_type, sum(o) AS rt FROM obs GROUP BY 1),
         ct AS (SELECT hr, sum(o) AS ct FROM obs GROUP BY 1),
         tot AS (SELECT sum(o)::DOUBLE AS n FROM obs),
         grid AS (
           SELECT rt.event_type, ct.hr, coalesce(obs.o, 0) AS o,
                  rt.rt * ct.ct / tot.n AS e
           FROM rt CROSS JOIN ct CROSS JOIN tot
           LEFT JOIN obs ON obs.event_type = rt.event_type
             AND obs.hr = ct.hr)
         SELECT round(sum(pow(o - e, 2) / e), 4) AS chi2,
                count(*) AS n_cells
         FROM grid""",
    // same greedy fold as seq_packing, weights = blob byte lengths
    "media_shard_plan" ->
      """WITH RECURSIVE counts AS MATERIALIZED (
           SELECT doc_id, doc_id % 8 AS bucket,
                  octet_length(text::BLOB)::BIGINT AS n_tokens,
                  row_number() OVER (PARTITION BY doc_id % 8
                    ORDER BY doc_id) AS rn
           FROM documents),
         packed AS (
           SELECT bucket, rn, doc_id, n_tokens,
                  0::BIGINT AS bin, n_tokens AS fill
           FROM counts WHERE rn = 1
           UNION ALL
           SELECT c.bucket, c.rn, c.doc_id, c.n_tokens,
             CASE WHEN p.fill + c.n_tokens > 2048
               THEN p.bin + 1 ELSE p.bin END,
             CASE WHEN p.fill + c.n_tokens > 2048
               THEN c.n_tokens ELSE p.fill + c.n_tokens END
           FROM packed p JOIN counts c
             ON c.bucket = p.bucket AND c.rn = p.rn + 1)
         SELECT doc_id, bucket, bin, fill FROM packed""",
    // train-slice-only moments (hash split), applied to every row;
    // moments accumulate as EXACT integer sums on a 1e-6 grid so the
    // fit is order-insensitive (mirrors Curation.standardize)
    "standardize_features" ->
      """WITH ex AS (
           SELECT vec_id, (pos - 1)::INT AS pos, x::DOUBLE AS x
           FROM (SELECT vec_id, unnest(embedding) AS x,
                        generate_subscripts(embedding, 1) AS pos
                 FROM embeddings)),
         xi AS (
           SELECT vec_id, pos, x,
                  CAST(round(x * 1000000.0) AS BIGINT) AS xi
           FROM ex),
         st AS (
           SELECT pos, count(*) AS n, sum(xi)::BIGINT AS sx,
                  sum(xi * xi)::HUGEINT AS sxx
           FROM xi
           WHERE ((vec_id % 2147483648) * 8388593) % 100 < 80
           GROUP BY pos),
         m AS (
           SELECT pos,
                  (sx::DOUBLE / n) / 1000000.0 AS mu,
                  sqrt((sxx::DOUBLE / n) / 1000000000000.0
                       - ((sx::DOUBLE / n) / 1000000.0)
                         * ((sx::DOUBLE / n) / 1000000.0)) AS sigma
           FROM st)
         SELECT vec_id, xi.pos,
                floor((x - mu) / sigma * 10000.0 + 0.5) / 10000.0 AS z
         FROM xi JOIN m ON xi.pos = m.pos""",
    "rolling_active_users" ->
      """WITH ud AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
         spine AS (SELECT DISTINCT day AS d FROM ud)
         SELECT d AS day, count(DISTINCT user_id) AS active_users
         FROM ud JOIN spine ON date_diff('day', day, d) BETWEEN 0 AND 6
         GROUP BY d""",
    "common_trigrams" ->
      """WITH t AS (
           SELECT event_type AS t1,
                  lead(event_type, 1) OVER w AS t2,
                  lead(event_type, 2) OVER w AS t3
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT t1 || '>' || t2 || '>' || t3 AS trigram,
                count(*) AS cnt
         FROM t WHERE t3 IS NOT NULL
         GROUP BY 1 ORDER BY cnt DESC, trigram LIMIT 10""",
    "time_to_convert" ->
      """WITH e AS (SELECT user_id, event_type,
                           epoch_ms(ts) // 1000 AS ep
                    FROM events),
         f AS (SELECT user_id, min(ep) AS from_ep
               FROM e WHERE event_type = 'view' GROUP BY user_id),
         conv AS (
           SELECT e.user_id, min(e.ep) - min(f.from_ep) AS secs
           FROM e JOIN f ON e.user_id = f.user_id
           WHERE e.event_type = 'purchase' AND e.ep >= f.from_ep
           GROUP BY e.user_id)
         SELECT count(*) AS n_converted,
                round(quantile_cont(secs, 0.5), 4) AS p50_sec,
                round(quantile_cont(secs, 0.9), 4) AS p90_sec
         FROM conv""",
    "winsorize" ->
      """WITH b AS (
           SELECT l_returnflag,
                  round(quantile_cont(l_extendedprice, 0.05), 6) AS blo,
                  round(quantile_cont(l_extendedprice, 0.95), 6) AS bhi
           FROM lineitem GROUP BY l_returnflag)
         SELECT l.l_returnflag, count(*) AS n,
                round(avg(l_extendedprice), 4) AS avg_raw,
                round(avg(least(greatest(l_extendedprice, blo), bhi)), 4)
                  AS avg_winsorized
         FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag
         GROUP BY l.l_returnflag""",
    // integer cross-multiplication classes over the fake-decode dims
    "aspect_buckets" -> s"""$MediaHashCte,
         dims AS (
           SELECT doc_id, kind,
             CASE kind WHEN 'image' THEN 64 + (hv % 4032)
                       ELSE 320 + (hv % 1600) END AS w,
             CASE kind WHEN 'image' THEN 64 + ((hv // 256) % 4032)
                       ELSE 240 + ((hv // 256) % 840) END AS h
           FROM mh WHERE kind <> 'audio')
         SELECT kind,
                CASE WHEN w * 4 < h * 3 THEN 'portrait'
                     WHEN w * 3 > h * 4 THEN 'wide'
                     ELSE 'square' END AS bucket,
                count(*) AS n_media,
                round(avg(w::BIGINT * h), 2) AS avg_px
         FROM dims GROUP BY 1, 2""",
    // skyline restated sweep-wise: survive iff date == own price-run's
    // min AND date < min over strictly higher prices
    "skyline" ->
      """WITH o AS (SELECT o_orderkey, o_totalprice AS price,
                           epoch_ms(o_orderdate) // 1000 AS odate
                    FROM orders),
         g AS (SELECT price, min(odate) AS md FROM o GROUP BY price),
         g2 AS (SELECT price, md,
                  min(md) OVER (ORDER BY price DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS m1
                FROM g)
         SELECT o.o_orderkey, o.price, o.odate
         FROM o JOIN g2 USING (price)
         WHERE o.odate = g2.md
           AND (g2.m1 IS NULL OR o.odate < g2.m1)""",
    "string_agg" ->
      """SELECT o_orderpriority, count(*) AS n,
                string_agg(o_orderkey, ',' ORDER BY o_orderkey)
                  AS order_keys
         FROM orders
         WHERE o_orderdate >= '1996-03-01'
           AND o_orderdate < '1996-04-01'
         GROUP BY o_orderpriority""",
    "revenue_share" ->
      """WITH byn AS (
           SELECT n_name,
                  round(sum(l_extendedprice * (1 - l_discount)), 4) AS rev
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           GROUP BY n_name)
         SELECT n_name, rev,
                round(rev / sum(rev) OVER () * 100, 4) AS share_pct,
                round(sum(rev) OVER (ORDER BY rev DESC, n_name
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  / sum(rev) OVER () * 100, 4) AS cum_share_pct
         FROM byn""",
    // period-split segments; boilerplate = segment df > 3 over
    // distinct (doc, seg)
    "boilerplate" ->
      """WITH segs AS (
           SELECT doc_id, seg FROM (
             SELECT doc_id, trim(unnest(string_split(text, '.'))) AS seg
             FROM documents)
           WHERE len(seg) > 0),
         hot AS (
           SELECT seg, 1 AS hot FROM (
             SELECT seg, count(*) AS df
             FROM (SELECT DISTINCT doc_id, seg FROM segs)
             GROUP BY seg)
           WHERE df > 3)
         SELECT doc_id, count(*) AS n_segs,
                count(hot) AS n_boiler,
                round(count(hot)::DOUBLE / count(*), 6) AS boiler_frac
         FROM segs LEFT JOIN hot USING (seg)
         GROUP BY doc_id""",
    // asymmetric affine int8: q = floor((x-lo)/scale + 0.5) — floor,
    // not round(): midpoint ties must break identically on both engines
    "quantize_int8" ->
      """WITH v AS (SELECT vec_id,
                           list_transform(embedding, x -> x::DOUBLE) AS v
                    FROM embeddings),
         r AS (SELECT vec_id, v,
                      list_aggregate(v, 'min') AS lo,
                      list_aggregate(v, 'max') AS hi
               FROM v),
         sc AS (SELECT vec_id, v, lo,
                  CASE WHEN hi > lo THEN (hi - lo) / 255.0
                       ELSE 1.0 END AS scale
                FROM r)
         SELECT vec_id, round(scale, 9) AS scale,
                round(lo, 6) AS zero_point,
                round(list_aggregate(list_transform(v, x ->
                    abs(x - (lo + floor((x - lo) / scale + 0.5) * scale))),
                  'max'), 6) AS max_abs_err
         FROM sc""",
    "rank_normalize" ->
      """SELECT source, doc_id, n_chars,
                round(percent_rank() OVER (PARTITION BY source
                  ORDER BY n_chars, doc_id), 6) AS norm_score
         FROM documents""",
    // the single-model apply oracle re-aggregated to (label, pred)
    "confusion_matrix" -> s"""SELECT label, pred, count(*) AS cnt
         FROM ($sgdApplyOracle) GROUP BY label, pred""",
    // per-source confusion counts → parity/equalized-odds gaps; the
    // gaps are differences of the same 6-dp doubles both engines
    // derive from identical integer ratios, so no extra quantization
    "fairness_audit" -> s"""WITH sc AS MATERIALIZED (
           SELECT * FROM ($sgdApplyOracle)),
         base AS (
           SELECT d.source AS source, count(*)::BIGINT AS n,
                  sum(CASE WHEN s.pred = 'spam' THEN 1 ELSE 0 END)::BIGINT
                    AS n_sel,
                  sum(CASE WHEN s.label = 1 THEN 1 ELSE 0 END)::BIGINT
                    AS n_pos,
                  sum(CASE WHEN s.label = 1 AND s.pred = 'spam'
                      THEN 1 ELSE 0 END)::BIGINT AS tp,
                  sum(CASE WHEN s.label = 0 AND s.pred = 'spam'
                      THEN 1 ELSE 0 END)::BIGINT AS fp
           FROM sc s JOIN documents d ON d.doc_id = s.docid
           GROUP BY 1),
         rates AS (
           SELECT source, n, n_sel, n_pos,
                  round(n_sel::DOUBLE / n, 6) AS sel_rate,
                  CASE WHEN n_pos > 0
                       THEN round(tp::DOUBLE / n_pos, 6) END AS tpr,
                  CASE WHEN n - n_pos > 0
                       THEN round(fp::DOUBLE / (n - n_pos), 6) END AS fpr
           FROM base),
         g AS (SELECT max(sel_rate) - min(sel_rate) AS parity_gap,
                      greatest(max(tpr) - min(tpr),
                               max(fpr) - min(fpr)) AS eo_gap
               FROM rates)
         SELECT r.source, r.n, r.n_sel, r.n_pos, r.sel_rate, r.tpr,
                r.fpr, g.parity_gap, g.eo_gap
         FROM rates r CROSS JOIN g""",
    // CUPED: 1e-6-grid per-user sums, HUGEINT pooled moments, one
    // double division per statistic — mirrors Events.cupedAdjust
    "cuped_adjust" ->
      """WITH ev AS (
           SELECT user_id, epoch_ms(ts) // 1000 AS t,
                  CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vi
           FROM events WHERE value IS NOT NULL),
         b AS (SELECT min(t) AS t0, max(t) AS t1 FROM ev),
         pu AS (
           SELECT user_id,
             sum(CASE WHEN t <= CAST(floor((t0 + t1) / 2.0) AS BIGINT)
                 THEN vi ELSE 0 END)::BIGINT AS x,
             sum(CASE WHEN t > CAST(floor((t0 + t1) / 2.0) AS BIGINT)
                 THEN vi ELSE 0 END)::BIGINT AS y
           FROM ev, b GROUP BY user_id),
         p AS (SELECT count(*)::HUGEINT AS n,
                      sum(x)::HUGEINT AS sx, sum(y)::HUGEINT AS sy,
                      sum(x::HUGEINT * x) AS sxx,
                      sum(y::HUGEINT * y) AS syy,
                      sum(x::HUGEINT * y) AS sxy
               FROM pu),
         st AS (
           SELECT CASE WHEN (n*sxx - sx*sx) > 0
                    THEN (n*sxy - sx*sy)::DOUBLE / (n*sxx - sx*sx)::DOUBLE
                    ELSE 0.0 END AS theta,
                  CASE WHEN (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0
                    THEN (n*sxy - sx*sy)::DOUBLE * (n*sxy - sx*sy)::DOUBLE
                      / ((n*sxx - sx*sx)::DOUBLE * (n*syy - sy*sy)::DOUBLE)
                    ELSE 0.0 END AS rho2,
                  sx::DOUBLE / n::DOUBLE / 1e6 AS gx
           FROM p),
         ar AS (
           SELECT CASE WHEN ((user_id % 2147483648) * 8388593) % 100 < 50
                       THEN 'a' ELSE 'b' END AS arm,
                  count(*)::BIGINT AS n_users,
                  sum(x)::HUGEINT AS asx, sum(y)::HUGEINT AS asy
           FROM pu GROUP BY 1)
         SELECT arm, n_users,
           floor((asy::DOUBLE / n_users::DOUBLE / 1e6) * 1e6 + 0.5) / 1e6
             AS mean_y,
           floor((asy::DOUBLE / n_users::DOUBLE / 1e6
                  - theta * (asx::DOUBLE / n_users::DOUBLE / 1e6 - gx))
                 * 1e6 + 0.5) / 1e6 AS mean_y_adj,
           floor(theta * 1e6 + 0.5) / 1e6 AS theta,
           floor(rho2 * 1e6 + 0.5) / 1e6 AS var_reduction
         FROM ar CROSS JOIN st ORDER BY arm""",
    // Poisson-bootstrap: replicable (k, b) hash through the Poisson(1)
    // CDF on the 1e7 grid, exact cents sums, rank-picked CI endpoints
    "bootstrap_ci" ->
      """WITH o AS (
           SELECT o_orderkey AS k,
                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           FROM orders),
         bs AS (SELECT k, cents, b
                FROM o CROSS JOIN generate_series(1, 100) t(b)),
         hw AS (SELECT b, cents,
                  ((k * 1000003 + b * 7919) % 2147483648) * 8388593
                    % 10000000 AS h
                FROM bs),
         w AS (SELECT b, cents,
                 CASE WHEN h < 3678794 THEN 0 WHEN h < 7357589 THEN 1
                      WHEN h < 9196986 THEN 2 WHEN h < 9810118 THEN 3
                      WHEN h < 9963402 THEN 4 ELSE 5 END AS w
               FROM hw),
         m AS (SELECT b, sum(w * cents)::DOUBLE / sum(w)::DOUBLE / 100.0
                 AS m FROM w GROUP BY b),
         r AS (SELECT m, row_number() OVER (ORDER BY m, b) AS rn FROM m),
         p AS (SELECT count(*)::BIGINT AS n_orders,
                      sum(cents)::DOUBLE / count(*)::DOUBLE / 100.0 AS mean
               FROM o)
         SELECT p.n_orders,
                floor(p.mean * 1e6 + 0.5) / 1e6 AS mean_price,
                (SELECT floor(m * 1e6 + 0.5) / 1e6 FROM r WHERE rn = 3)
                  AS ci_lo,
                (SELECT floor(m * 1e6 + 0.5) / 1e6 FROM r WHERE rn = 98)
                  AS ci_hi,
                100 AS n_resamples
         FROM p""",
    // diagonal Mahalanobis per label: 1e-9-grid components, HUGEINT
    // moments, per-dim terms floor-quantized before the LONG sum
    "mahalanobis_outliers" ->
      """WITH e AS (
           SELECT vec_id, label,
                  unnest(list_transform(embedding, x ->
                    CAST(floor(x::DOUBLE * 1e9 + 0.5) AS BIGINT))) AS vi,
                  generate_subscripts(embedding, 1) - 1 AS pos
           FROM embeddings),
         st AS (SELECT label, pos, count(*)::HUGEINT AS n,
                       sum(vi)::HUGEINT AS sv, sum(vi::HUGEINT * vi) AS sv2
                FROM e GROUP BY 1, 2),
         mv AS (SELECT label, pos,
                       sv::DOUBLE / n::DOUBLE / 1e9 AS mu,
                       CASE WHEN n > 1 THEN
                         (n * sv2 - sv * sv)::DOUBLE /
                         (n * (n - 1))::DOUBLE / 1e18
                       ELSE 0.0 END AS varr
                FROM st),
         t AS (SELECT e.vec_id, e.label,
                 CASE WHEN varr > 0 THEN CAST(floor(
                   (vi::DOUBLE / 1e9 - mu) * (vi::DOUBLE / 1e9 - mu)
                     / varr * 1e9 + 0.5) AS BIGINT)
                 ELSE 0 END AS ti
               FROM e JOIN mv ON mv.label = e.label AND mv.pos = e.pos),
         d AS (SELECT vec_id, label, sum(ti)::BIGINT AS sd
               FROM t GROUP BY 1, 2)
         SELECT vec_id, label,
                floor(sd::DOUBLE / 1e9 * 1e6 + 0.5) / 1e6 AS mahal
         FROM d
         ORDER BY floor(sd::DOUBLE / 1e9 * 1e6 + 0.5) / 1e6 DESC, vec_id
         LIMIT 20""",
    // split conformal: exact cents residuals, q-hat by the distinct-
    // residual cumulative table, held-out coverage
    "conformal_intervals" ->
      """WITH o AS (
           SELECT o_orderkey AS k,
                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           FROM orders),
         li AS (SELECT l_orderkey AS k, count(*)::BIGINT AS n_items
                FROM lineitem GROUP BY 1),
         base AS (
           SELECT o.k, o.cents, coalesce(li.n_items, 0) AS n_items,
                  ((o.k % 2147483648) * 8388593) % 100 AS split
           FROM o LEFT JOIN li ON li.k = o.k),
         model AS (
           SELECT n_items,
                  CAST(floor(sum(cents)::DOUBLE / count(*) + 0.5) AS BIGINT)
                    AS yhat
           FROM base WHERE split < 50 GROUP BY 1),
         gm AS (SELECT CAST(floor(sum(cents)::DOUBLE / count(*) + 0.5)
                         AS BIGINT) AS gy,
                       count(*)::BIGINT AS n_train
                FROM base WHERE split < 50),
         scored AS (
           SELECT b.k, b.split, g.n_train,
                  abs(b.cents - coalesce(m.yhat, g.gy)) AS r
           FROM base b LEFT JOIN model m ON m.n_items = b.n_items
           CROSS JOIN gm g),
         nc AS (SELECT count(*)::BIGINT AS n_calib FROM scored
                WHERE split >= 50 AND split < 75),
         cum AS (
           SELECT r, sum(c) OVER (ORDER BY r
                    ROWS UNBOUNDED PRECEDING) AS cum
           FROM (SELECT r, count(*)::BIGINT AS c FROM scored
                 WHERE split >= 50 AND split < 75 GROUP BY r)),
         qh AS (SELECT min(r) AS qhat, max(n_calib) AS n_calib
                FROM cum CROSS JOIN nc
                WHERE cum >= ceil((n_calib + 1) * 0.9))
         SELECT max(n_train)::BIGINT AS n_train,
                max(q.n_calib)::BIGINT AS n_calib,
                count(*)::BIGINT AS n_test,
                floor(max(q.qhat)::DOUBLE / 100.0 * 1e6 + 0.5) / 1e6
                  AS qhat_price,
                floor(sum(CASE WHEN r <= q.qhat THEN 1 ELSE 0 END)::DOUBLE
                      / count(*)::DOUBLE * 1e6 + 0.5) / 1e6 AS coverage
         FROM scored CROSS JOIN qh q WHERE split >= 75""",
    // Fisher randomization: p=0 is the observed hash split; the
    // comparison is the cross-multiplied HUGEINT test, division-free
    "permutation_test" ->
      """WITH pu AS (
           SELECT user_id,
                  sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT))::BIGINT AS v
           FROM events WHERE value IS NOT NULL GROUP BY 1),
         bp AS (
           SELECT p, v,
                  ((user_id % 2147483648) * 8388593 + p * 2654435761)
                    % 100 AS h
           FROM pu CROSS JOIN generate_series(0, 99) t(p)),
         g AS (
           SELECT p,
                  sum(CASE WHEN h < 50 THEN 1 ELSE 0 END)::HUGEINT AS na,
                  sum(CASE WHEN h < 50 THEN 0 ELSE 1 END)::HUGEINT AS nb,
                  sum(CASE WHEN h < 50 THEN v ELSE 0 END)::HUGEINT AS sa,
                  sum(CASE WHEN h < 50 THEN 0 ELSE v END)::HUGEINT AS sb
           FROM bp GROUP BY p),
         dd AS (SELECT p, na, nb, abs(sa * nb - sb * na) AS d,
                       na * nb AS nn
                FROM g),
         o AS (SELECT d AS d0, nn AS nn0, (na + nb)::BIGINT AS n_users
               FROM dd WHERE p = 0)
         SELECT max(o.n_users) AS n_users,
                floor(max(o.d0::DOUBLE / o.nn0::DOUBLE / 1e6) * 1e6 + 0.5)
                  / 1e6 AS diff_obs,
                floor(sum(CASE WHEN dd.d * o.nn0 >= o.d0 * dd.nn
                          THEN 1 ELSE 0 END)::DOUBLE / 100.0 * 1e6 + 0.5)
                  / 1e6 AS p_value
         FROM dd CROSS JOIN o""",
    // drained stream ≡ the preceding-rows window restatement; the flag
    // is the same cross-multiplied HUGEINT test the state fold runs
    "stream_anomaly_replay" ->
      """WITH e AS (
           SELECT user_id, event_id, epoch_ms(ts) // 1000 AS ep, value,
                  CAST(floor(value * 1000 + 0.5) AS BIGINT) AS vi
           FROM events),
         w AS (
           SELECT user_id, event_id, ep, value, vi,
                  count(vi) OVER pw AS n,
                  coalesce(sum(vi) OVER pw, 0) AS sv,
                  coalesce(sum(vi * vi) OVER pw, 0) AS sv2
           FROM e
           WINDOW pw AS (PARTITION BY user_id ORDER BY ep, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING))
         SELECT user_id, event_id, ep, round(value, 4) AS value
         FROM w
         WHERE n >= 5
           AND (vi::HUGEINT * n - sv) * (vi::HUGEINT * n - sv) * (n - 1)
               > 9 * n::HUGEINT * (n::HUGEINT * sv2 - sv::HUGEINT * sv)
         ORDER BY user_id, ep, event_id""",
    // clusters (walk over near-dup pairs) + per-cluster quality argmax
    "best_survivor" -> s"""WITH RECURSIVE prs AS ($JaccardSql),
         edges AS (SELECT doc_a AS s, doc_b AS d FROM prs
                   UNION ALL SELECT doc_b, doc_a FROM prs),
         walk(id, comp) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.d, w.comp FROM walk w JOIN edges e ON e.s = w.id),
         canon AS (SELECT id AS doc_id, min(comp) AS canonical_id
                   FROM walk GROUP BY id),
         qual AS ($QualitySql),
         wq AS (SELECT c.doc_id, c.canonical_id,
                       coalesce(q.quality, 0.0) AS quality
                FROM canon c LEFT JOIN qual q ON q.doc_id = c.doc_id),
         best AS (SELECT canonical_id, doc_id AS keep_id FROM (
             SELECT canonical_id, doc_id,
               row_number() OVER (PARTITION BY canonical_id
                 ORDER BY quality DESC, doc_id) AS rn
             FROM wq) WHERE rn = 1)
         SELECT w.doc_id, w.canonical_id,
                (w.doc_id = b.keep_id) AS keep
         FROM wq w JOIN best b USING (canonical_id)""",
    // split by the dup-cluster's canonical id, then count per stratum
    "leakage_safe_split" -> s"""WITH RECURSIVE prs AS ($JaccardSql),
         edges AS (SELECT doc_a AS s, doc_b AS d FROM prs
                   UNION ALL SELECT doc_b, doc_a FROM prs),
         walk(id, comp) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.d, w.comp FROM walk w JOIN edges e ON e.s = w.id),
         canon AS (SELECT id AS doc_id, min(comp) AS canonical_id
                   FROM walk GROUP BY id),
         h AS (SELECT d.lang,
                 ((c.canonical_id % 2147483648) * 8388593) % 100 AS h
               FROM documents d JOIN canon c ON c.doc_id = d.doc_id)
         SELECT CASE WHEN h < 80 THEN 'train'
                     WHEN h < 90 THEN 'valid'
                     ELSE 'test' END AS split,
                lang, count(*) AS n_docs
         FROM h GROUP BY 1, 2""",
    "degree_distribution" -> s"""WITH $GraphCte,
         deg AS (SELECT src, count(*) AS degree FROM edges GROUP BY src)
         SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree""",
    // quintile boundaries per metric in one pass, assignment by
    // boundary-count (same shape as equi_depth_hist)
    "rfm_segments" ->
      """WITH pc AS (
           SELECT o_custkey,
                  date_diff('day', max(o_orderdate)::DATE,
                            '1998-12-31'::DATE)::DOUBLE AS r,
                  count(*)::DOUBLE AS f,
                  sum(o_totalprice) AS m
           FROM orders GROUP BY o_custkey),
         bs AS (
           SELECT
             list_transform(quantile_cont(r, [0.2, 0.4, 0.6, 0.8]),
               b -> round(b, 6)) AS rb,
             list_transform(quantile_cont(f, [0.2, 0.4, 0.6, 0.8]),
               b -> round(b, 6)) AS fb,
             list_transform(quantile_cont(m, [0.2, 0.4, 0.6, 0.8]),
               b -> round(b, 6)) AS mb
           FROM pc)
         SELECT len(list_filter(rb, b -> r > b)) + 1 AS r_bucket,
                len(list_filter(fb, b -> f > b)) + 1 AS f_bucket,
                len(list_filter(mb, b -> m > b)) + 1 AS m_bucket,
                count(*) AS n_customers
         FROM pc, bs
         GROUP BY 1, 2, 3""",
    // labeled lang × stopword-heuristic prediction
    "lang_confusion" -> s"""WITH li AS ($LangIdSql)
         SELECT d.lang, li.pred_lang, count(*) AS cnt
         FROM li JOIN documents d ON d.doc_id = li.doc_id
         GROUP BY d.lang, li.pred_lang""",
    // tie-exact rank-sum AUC over the apply oracle's rounded scores
    "sgd_auc" -> s"""WITH lab AS (
           SELECT score AS s,
                  CASE WHEN label = 1 THEN 1 ELSE 0 END AS y
           FROM ($sgdApplyOracle)),
         g AS (SELECT s, sum(y) AS p, sum(1 - y) AS n FROM lab GROUP BY s),
         c AS (SELECT s, p, n,
                      coalesce(sum(n) OVER (ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS cumn
               FROM g)
         SELECT round(sum(p * (cumn + n / 2.0)) / (sum(p) * sum(n)), 6)
           AS auc
         FROM c""",
    // byte-identical to what Spark executes — see AnsiParitySql
    "ansi_sql_parity" -> AnsiParitySql,
    "q16_shape" ->
      """SELECT p_brand, p_type, p_size,
                count(DISTINCT suppkey) AS supplier_cnt
         FROM (SELECT DISTINCT l_partkey AS partkey,
                      l_suppkey AS suppkey
               FROM lineitem) ps
         JOIN part ON partkey = p_partkey
         WHERE suppkey NOT IN (SELECT s_suppkey FROM supplier
                               WHERE s_acctbal < 0)
         GROUP BY p_brand, p_type, p_size
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
         LIMIT 30""",
    "gap_percentiles" ->
      """WITH g AS (
           SELECT event_type,
                  ep - lag(ep) OVER (PARTITION BY event_type, user_id
                    ORDER BY ep, event_id) AS gap
           FROM (SELECT event_type, user_id, event_id,
                        epoch_ms(ts) // 1000 AS ep
                 FROM events))
         SELECT event_type, count(*) AS n_gaps,
                round(quantile_cont(gap, 0.5), 4) AS p50_gap,
                round(quantile_cont(gap, 0.9), 4) AS p90_gap
         FROM g WHERE gap IS NOT NULL
         GROUP BY event_type""",
    // mean-relative cut, not Q11's fixed fraction: scale-free
    "q11_shape" ->
      """WITH pp AS (SELECT l_partkey,
                            round(sum(l_extendedprice), 4) AS value
                     FROM lineitem GROUP BY l_partkey),
         t AS (SELECT sum(value) / count(*) AS mean_value FROM pp)
         SELECT l_partkey, value FROM pp, t
         WHERE value > mean_value * 1.25""",
    "dau_wau" ->
      """WITH ud AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
         dau AS (SELECT day, count(DISTINCT user_id) AS dau
                 FROM ud GROUP BY day),
         spine AS (SELECT DISTINCT day AS d FROM ud),
         wau AS (SELECT d, count(DISTINCT user_id) AS wau
                 FROM ud JOIN spine
                   ON date_diff('day', day, d) BETWEEN 0 AND 6
                 GROUP BY d)
         SELECT day, dau, wau,
                round(dau::DOUBLE / wau, 6) AS stickiness
         FROM dau JOIN wau ON day = d""",
    "zipf_fit" -> s"""$TokCte,
         tf AS (SELECT t AS term, count(*) AS cnt
                FROM (SELECT unnest(ts) AS t FROM toks) GROUP BY t
                ORDER BY cnt DESC, term LIMIT 100),
         rk AS (SELECT cnt,
                  row_number() OVER (ORDER BY cnt DESC, term) AS rnk
                FROM tf)
         SELECT round(regr_slope(y, x), 6) AS slope,
                round(regr_r2(y, x), 6) AS r2,
                count(*) AS n_ranks
         FROM (SELECT log10(rnk) AS x, log10(cnt) AS y FROM rk)""",
    "q19_shape" ->
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 4)
                  AS revenue,
                count(*) AS n_items
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#2' AND p_size <= 10
                AND l_quantity <= 20)
            OR (p_brand = 'Brand#17' AND p_size <= 25
                AND l_quantity <= 35)""",
    // the capstone pipeline's survivors re-aggregated to the
    // per-source mix report
    "curated_mix" -> s"""WITH RECURSIVE prs AS ($JaccardSql),
         edges AS (SELECT doc_a AS s, doc_b AS d FROM prs
                   UNION ALL SELECT doc_b, doc_a FROM prs),
         walk(id, comp) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.d, w.comp FROM walk w JOIN edges e ON e.s = w.id),
         canon AS (SELECT id AS doc_id, min(comp) AS canonical_id
                   FROM walk GROUP BY id),
         qual AS ($QualitySql),
         lang AS ($LangIdSql),
         kept AS (
           SELECT doc_id, q.n_tokens
           FROM qual q JOIN lang USING (doc_id) JOIN canon USING (doc_id)
           WHERE lang.pred_lang = 'en' AND q.quality >= 0.2
             AND canonical_id = doc_id),
         bys AS (SELECT d.source, count(*) AS n_docs,
                        sum(k.n_tokens)::BIGINT AS n_tokens
                 FROM kept k JOIN documents d USING (doc_id)
                 GROUP BY d.source),
         t AS (SELECT sum(n_tokens) AS tok_total FROM bys)
         SELECT source, n_docs, n_tokens,
                round(n_tokens / tok_total, 6) AS token_share
         FROM bys, t""",
    // unigram scores re-bucketed into deciles (equi-depth boundaries)
    "lm_score_tiers" -> s"""$TokCte,
         tok AS (SELECT doc_id, unnest(ts) AS term FROM toks),
         model AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
         tot AS (SELECT sum(cnt)::DOUBLE AS total FROM model),
         sc AS (SELECT doc_id,
                       round(avg(ln(cnt / total)), 6) AS avg_logprob,
                       count(*) AS n_tokens
                FROM tok JOIN model USING (term), tot
                GROUP BY doc_id),
         bs AS (SELECT list_transform(
                  quantile_cont(avg_logprob,
                    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
                  b -> round(b, 6)) AS bs
                FROM sc)
         SELECT len(list_filter(bs.bs, b -> avg_logprob > b)) + 1 AS tier,
                count(*) AS n_docs,
                round(avg(avg_logprob), 6) AS mean_logprob,
                sum(n_tokens)::BIGINT AS n_tokens
         FROM sc, bs
         GROUP BY tier""",
    "order_size_hist" ->
      """SELECT n_lines, count(*) AS n_orders FROM (
           SELECT l_orderkey, count(*) AS n_lines
           FROM lineitem GROUP BY l_orderkey)
         GROUP BY n_lines""",
    // keep-classes inverted: strip everything NOT in the class, the
    // remaining length IS the count; POSIX classes match ASCII in both
    "char_class_profile" ->
      """WITH f AS (
           SELECT source,
             length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE /
               greatest(length(text), 1) AS digit_frac,
             length(regexp_replace(text, '[^[:punct:]]', '', 'g'))::DOUBLE /
               greatest(length(text), 1) AS punct_frac,
             length(regexp_replace(text, '[^A-Z]', '', 'g'))::DOUBLE /
               greatest(length(text), 1) AS upper_frac
           FROM documents)
         SELECT source, count(*) AS n_docs,
                round(avg(digit_frac), 6) AS digit_frac,
                round(avg(punct_frac), 6) AS punct_frac,
                round(avg(upper_frac), 6) AS upper_frac
         FROM f GROUP BY source""",
    "new_vs_returning" ->
      """WITH ud AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
         f AS (SELECT user_id, min(day) AS first_day
               FROM ud GROUP BY user_id)
         SELECT day,
                sum(CASE WHEN day = first_day THEN 1 ELSE 0 END)::BIGINT
                  AS n_new,
                sum(CASE WHEN day = first_day THEN 0 ELSE 1 END)::BIGINT
                  AS n_returning
         FROM ud JOIN f USING (user_id)
         GROUP BY day""",
    // fake-decode frame counts at fixed rates (24 fps / 16 kHz)
    "media_duration_stats" -> s"""$MediaHashCte,
         d AS (
           SELECT kind,
             CASE kind WHEN 'audio'
               THEN (1000 + ((hv // 65536) % 2879000)) / 16000.0
               ELSE (24 + ((hv // 65536) % 7176)) / 24.0 END AS dur_sec
           FROM mh WHERE kind <> 'image')
         SELECT kind, count(*) AS n_media,
                round(quantile_cont(dur_sec, 0.5), 4) AS p50_sec,
                round(quantile_cont(dur_sec, 0.9), 4) AS p90_sec,
                round(sum(dur_sec), 4) AS total_sec
         FROM d GROUP BY kind""",
    "type_daily_corr" ->
      """WITH a AS (SELECT ts::DATE AS day, count(*) AS a FROM events
                    WHERE event_type = 'click' GROUP BY 1),
         b AS (SELECT ts::DATE AS day, count(*) AS b FROM events
               WHERE event_type = 'purchase' GROUP BY 1),
         j AS (SELECT coalesce(a.a, 0) AS a, coalesce(b.b, 0) AS b
               FROM a FULL OUTER JOIN b USING (day))
         SELECT round(corr(a, b), 6) AS daily_corr,
                count(*) AS n_days
         FROM j""",
    "token_gini" -> s"""$TokCte,
         c AS (SELECT doc_id, len(ts)::BIGINT AS n_tokens FROM toks),
         r AS (SELECT n_tokens,
                 row_number() OVER (ORDER BY n_tokens, doc_id) AS i
               FROM c)
         SELECT count(*) AS n_docs,
                sum(n_tokens)::BIGINT AS total_tokens,
                round(2.0 * sum(i * n_tokens) /
                  (count(*) * sum(n_tokens)) -
                  (count(*) + 1.0) / count(*), 6) AS gini
         FROM r""",
    "q10_shape" ->
      """SELECT c_custkey, c_name, n_name,
                round(sum(l_extendedprice * (1 - l_discount)), 4)
                  AS lost_revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
         GROUP BY c_custkey, c_name, n_name
         ORDER BY lost_revenue DESC, c_custkey
         LIMIT 20""",
    "q14_shape" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
                round(sum(CASE WHEN p_type = 'PROMO'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE 0.0 END) /
                      sum(l_extendedprice * (1 - l_discount)) * 100, 4)
                  AS promo_pct,
                count(*) AS n_items
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY ship_month""",
    // round-4 batch. Every surfaced double is floor(x·10^d + 0.5)/10^d
    // over exact-integer sufficient statistics — see Events.q scaladoc
    // (bit-deterministic across engines, never -0.0).
    "acf_daily" ->
      """WITH daily0 AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  count(*)::BIGINT AS y
           FROM events GROUP BY 1),
         spine AS (
           SELECT unnest(range((SELECT min(day) FROM daily0),
                               (SELECT max(day) FROM daily0) + 1)) AS day),
         daily AS (
           SELECT s.day, coalesce(y, 0)::BIGINT AS y
           FROM spine s LEFT JOIN daily0 d ON s.day = d.day),
         lags AS (SELECT unnest(range(1, 8))::INT AS lag),
         pairs AS (
           SELECT l.lag, a.y AS x, b.y AS y
           FROM lags l JOIN daily a ON true
           JOIN daily b ON b.day = a.day + l.lag),
         st AS (
           SELECT lag, count(*)::BIGINT AS n,
                  sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                  sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy,
                  sum(x * y)::BIGINT AS sxy
           FROM pairs GROUP BY lag)
         SELECT lag, n AS n_pairs,
                floor((n::DOUBLE * sxy - sx::DOUBLE * sy) /
                      (sqrt(n::DOUBLE * sxx - sx::DOUBLE * sx) *
                       sqrt(n::DOUBLE * syy - sy::DOUBLE * sy)) * 1e6
                      + 0.5) / 1e6 AS acf
         FROM st ORDER BY lag""",
    "seasonal_hourly" ->
      """WITH bh AS (
           SELECT event_type, extract(hour FROM ts)::INT AS hr,
                  count(*)::BIGINT AS n
           FROM events GROUP BY 1, 2),
         tot AS (SELECT event_type, sum(n)::BIGINT AS tot
                 FROM bh GROUP BY 1),
         spine AS (
           SELECT event_type, tot, unnest(range(0, 24))::INT AS hr
           FROM tot)
         SELECT s.event_type, s.hr, coalesce(n, 0)::BIGINT AS n,
                floor(coalesce(n, 0)::DOUBLE / tot * 1e6 + 0.5) / 1e6
                  AS share
         FROM spine s LEFT JOIN bh ON s.event_type = bh.event_type
                                  AND s.hr = bh.hr""",
    "mutual_information" ->
      """WITH ev AS (
           SELECT event_type AS t, extract(hour FROM ts) AS h FROM events),
         joint AS (SELECT t, h, count(*)::BIGINT AS njh
                   FROM ev GROUP BY 1, 2),
         mt AS (SELECT t, count(*)::BIGINT AS nt FROM ev GROUP BY 1),
         mh AS (SELECT h, count(*)::BIGINT AS nh FROM ev GROUP BY 1),
         tot AS (SELECT count(*)::DOUBLE AS tn FROM ev),
         terms AS (
           SELECT CAST(floor((njh::DOUBLE / tn) *
                    ln((njh::DOUBLE * tn) / (nt::DOUBLE * nh::DOUBLE))
                    * 1e6 + 0.5) AS BIGINT) AS ti
           FROM joint JOIN mt USING (t) JOIN mh USING (h), tot)
         SELECT sum(ti)::DOUBLE / 1e6 AS mi_nats,
                count(*)::BIGINT AS n_cells
         FROM terms""",
    "schema_drift" ->
      """WITH ev0 AS (
           SELECT event_type, epoch_ms(ts) // 1000 // 86400 AS day, value
           FROM events),
         cut AS (
           SELECT day AS cut FROM (
             SELECT day, sum(count(*)) OVER
               (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum
             FROM ev0 GROUP BY day)
           WHERE cum >= (SELECT count(*) // 2 FROM ev0)
           ORDER BY day LIMIT 1),
         ev AS (
           SELECT event_type,
                  CASE WHEN day <= cut THEN 'a' ELSE 'b' END AS slice,
                  value
           FROM ev0, cut),
         ag AS (
           SELECT event_type,
             sum(CASE WHEN slice = 'a' THEN 1 ELSE 0 END)::BIGINT AS n_a,
             sum(CASE WHEN slice = 'b' THEN 1 ELSE 0 END)::BIGINT AS n_b,
             sum(CASE WHEN slice = 'a' AND value IS NULL THEN 1 ELSE 0
                 END)::BIGINT AS null_a,
             sum(CASE WHEN slice = 'b' AND value IS NULL THEN 1 ELSE 0
                 END)::BIGINT AS null_b,
             coalesce(sum(CASE WHEN slice = 'a' THEN
               CAST(floor(value * 1e6 + 0.5) AS BIGINT) END), 0)::BIGINT
               AS vs_a,
             coalesce(sum(CASE WHEN slice = 'b' THEN
               CAST(floor(value * 1e6 + 0.5) AS BIGINT) END), 0)::BIGINT
               AS vs_b
           FROM ev GROUP BY event_type)
         SELECT event_type, n_a, n_b,
           floor(null_a::DOUBLE / n_a * 1e6 + 0.5) / 1e6 AS null_rate_a,
           floor(null_b::DOUBLE / n_b * 1e6 + 0.5) / 1e6 AS null_rate_b,
           floor(vs_a::DOUBLE / 1e6 / nullif(n_a - null_a, 0) * 1e6
                 + 0.5) / 1e6 AS mean_a,
           floor(vs_b::DOUBLE / 1e6 / nullif(n_b - null_b, 0) * 1e6
                 + 0.5) / 1e6 AS mean_b
         FROM ag ORDER BY event_type""",
    "decision_stump" ->
      """WITH r0 AS (
           SELECT l_quantity::BIGINT AS qty,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
           FROM lineitem),
         bv AS (SELECT qty, count(*)::BIGINT AS n, sum(y)::BIGINT AS pos
                FROM r0 GROUP BY qty),
         tot AS (SELECT sum(n)::BIGINT AS tn, sum(pos)::BIGINT AS tp
                 FROM bv),
         cum AS (
           SELECT qty,
                  sum(n) OVER w AS cn, sum(pos) OVER w AS cp
           FROM bv WINDOW w AS (ORDER BY qty ROWS UNBOUNDED PRECEDING)),
         sc AS (
           SELECT qty AS threshold,
                  greatest(cp + (tn - tp) - (cn - cp),
                           (tp - cp) + (cn - cp))::BIGINT AS n_correct,
                  tn
           FROM cum, tot)
         SELECT threshold, n_correct,
                floor(n_correct::DOUBLE / tn * 1e6 + 0.5) / 1e6
                  AS accuracy
         FROM sc ORDER BY n_correct DESC, threshold LIMIT 1""",
    "two_hop_reach" -> s"""WITH $GraphCte,
         deg AS (SELECT src, count(*)::BIGINT AS deg
                 FROM edges GROUP BY src),
         mid AS (SELECT src AS m FROM deg WHERE deg <= 64),
         hops AS (
           SELECT src AS id, dst AS r FROM edges
           UNION ALL
           SELECT e1.src AS id, e2.dst AS r
           FROM edges e1 JOIN mid ON e1.dst = mid.m
           JOIN edges e2 ON e2.src = e1.dst)
         SELECT id, count(DISTINCT r)::BIGINT AS reach
         FROM hops WHERE id <> r GROUP BY id
         ORDER BY reach DESC, id LIMIT 50""",
    "assortativity" -> s"""WITH $GraphCte,
         deg AS (SELECT src AS id, count(*)::BIGINT AS deg
                 FROM edges GROUP BY src),
         ends AS (
           SELECT dx.deg AS dx, dy.deg AS dy
           FROM edges e JOIN deg dx ON e.src = dx.id
                        JOIN deg dy ON e.dst = dy.id),
         st AS (SELECT count(*)::BIGINT AS m, sum(dx)::BIGINT AS sx,
                       sum(dx * dx)::BIGINT AS sxx,
                       sum(dx * dy)::BIGINT AS sxy
                FROM ends)
         SELECT m AS n_edge_ends,
                floor((sxy::DOUBLE / m - (sx::DOUBLE / m) * (sx::DOUBLE / m))
                    / (sxx::DOUBLE / m - (sx::DOUBLE / m) * (sx::DOUBLE / m))
                    * 1e6 + 0.5) / 1e6 AS assortativity
         FROM st""",
    "bfs_distances" -> s"""WITH RECURSIVE $GraphCte,
         walk(id, dist) AS (
           SELECT CAST(1 AS BIGINT) AS id, 0 AS dist
           UNION
           SELECT e.dst AS id, w.dist + 1 AS dist
           FROM walk w JOIN edges e ON e.src = w.id
           WHERE w.dist < 4)
         SELECT id, min(dist)::INT AS dist FROM walk GROUP BY id""",
    "bpe_pair_counts" -> s"""$TokCte,
         ex AS (SELECT unnest(ts) AS tok FROM toks),
         cs AS (SELECT string_split(tok, '') AS cs FROM ex
                WHERE len(tok) >= 2),
         pairs AS (
           SELECT unnest(list_transform(range(1, len(cs)),
                    i -> cs[i] || cs[i + 1])) AS pair
           FROM cs)
         SELECT pair, count(*)::BIGINT AS n
         FROM pairs GROUP BY pair ORDER BY n DESC, pair LIMIT 40""",
    // the greedy left-to-right merge replays as a per-token recursive
    // scan: carry one symbol; carry=x followed by y emits the merged
    // xy (which can't re-match as x), anything else flushes the carry
    "bpe_iter2_counts" ->
      s"""WITH RECURSIVE ${TokCte.stripPrefix("WITH ")},
         ex AS (SELECT unnest(ts) AS tok FROM toks),
         cs AS (SELECT row_number() OVER () AS tid,
                       string_split(tok, '') AS cs
                FROM ex WHERE len(tok) >= 2),
         p1 AS (
           SELECT unnest(list_transform(range(1, len(cs)),
                    i -> cs[i] || cs[i + 1])) AS pair
           FROM cs),
         xy AS (
           SELECT pair[1] AS x, pair[2] AS y FROM (
             SELECT pair, count(*) AS n FROM p1
             GROUP BY 1 ORDER BY n DESC, pair LIMIT 1)),
         m(tid, cs, pos, carry, out) AS (
           SELECT tid, cs, 1, NULL::VARCHAR, []::VARCHAR[] FROM cs
           UNION ALL
           SELECT tid, cs, pos + 1,
                  CASE WHEN carry IS NULL THEN cs[pos]
                       WHEN carry = x AND cs[pos] = y THEN NULL
                       ELSE cs[pos] END,
                  CASE WHEN carry IS NULL THEN out
                       WHEN carry = x AND cs[pos] = y
                         THEN list_append(out, x || y)
                       ELSE list_append(out, carry) END
           FROM m, xy WHERE pos <= len(cs)),
         fin AS (
           SELECT tid, CASE WHEN carry IS NULL THEN out
                            ELSE list_append(out, carry) END AS ms
           FROM m WHERE pos = len(cs) + 1),
         p2 AS (
           SELECT unnest(list_transform(range(1, len(ms)),
                    i -> ms[i] || '+' || ms[i + 1])) AS pair
           FROM fin WHERE len(ms) >= 2)
         SELECT pair, count(*)::BIGINT AS n
         FROM p2 GROUP BY pair ORDER BY n DESC, pair LIMIT 40""",
    "containment_pairs" -> s"""$TokCte,
         sh AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(ts) >= 3
               THEN list_transform(range(1, len(ts) - 1),
                      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
               ELSE [array_to_string(ts, ' ')] END) AS shs
           FROM toks),
         ex AS (SELECT doc_id, unnest(shs) AS sh FROM sh),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  count(*)::BIGINT AS inter
           FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id <> b.doc_id
           GROUP BY 1, 2),
         cont AS (
           SELECT doc_a, doc_b,
                  inter::DOUBLE / sa.n AS cont
           FROM inter
           JOIN (SELECT doc_id, len(shs) AS n FROM sh) sa
             ON doc_a = sa.doc_id
           WHERE inter::DOUBLE / sa.n >= 0.5)
         SELECT doc_a AS contained, doc_b AS container,
                round(cont, 6) AS containment
         FROM (SELECT doc_a, doc_b, cont, row_number() OVER
                 (PARTITION BY doc_a ORDER BY cont DESC, doc_b) AS rn
               FROM cont)
         WHERE rn = 1""",
    "embedding_prototypes" ->
      """WITH e AS (
           SELECT label, embedding::DOUBLE[] AS x FROM embeddings),
         n AS (
           SELECT label,
             sqrt(list_reduce(list_prepend(0.0,
               list_transform(x, v -> v * v)), (a, b) -> a + b)) AS nrm,
             x
           FROM e),
         u AS (
           SELECT label, unnest(list_transform(x,
               v -> CAST(floor(v / nrm * 1e9 + 0.5) AS BIGINT))) AS v,
             generate_subscripts(x, 1) - 1 AS pos
           FROM n)
         SELECT label, pos,
                floor(sum(v)::DOUBLE / count(*) / 1e9 * 1e6 + 0.5) / 1e6
                  AS proto
         FROM u GROUP BY label, pos""",
    "frequent_pairs" ->
      """WITH items AS (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem),
         small AS (
           SELECT ok FROM items GROUP BY ok HAVING count(*) <= 30),
         b AS (SELECT i.ok, i.pk FROM items i JOIN small USING (ok))
         SELECT a.pk AS p1, c.pk AS p2, count(*)::BIGINT AS support
         FROM b a JOIN b c ON a.ok = c.ok AND a.pk < c.pk
         GROUP BY 1, 2 HAVING count(*) >= 3
         ORDER BY support DESC, p1, p2""",
    "q2_mincost_shape" ->
      """WITH li AS (
           SELECT l_partkey, l_suppkey,
                  CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                    AS cents,
                  l_quantity::BIGINT AS qty
           FROM lineitem),
         best AS (
           SELECT l_partkey, min(cents::DOUBLE / qty) AS mu
           FROM li GROUP BY l_partkey)
         SELECT l_partkey, min(l_suppkey) AS best_supp,
                floor(min(mu) * 1e6 + 0.5) / 1e6 AS unit_price
         FROM li JOIN best USING (l_partkey)
         WHERE cents::DOUBLE / qty = mu
         GROUP BY l_partkey ORDER BY l_partkey LIMIT 50""",
    "rolling_median_daily" ->
      """WITH daily0 AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  count(*)::BIGINT AS y
           FROM events GROUP BY 1),
         spine AS (
           SELECT unnest(range((SELECT min(day) FROM daily0),
                               (SELECT max(day) FROM daily0) + 1)) AS day),
         daily AS (
           SELECT s.day, coalesce(y, 0)::BIGINT AS y
           FROM spine s LEFT JOIN daily0 d ON s.day = d.day)
         SELECT day, y AS n_events,
                -- lower median of the trailing 7-row frame (exact ints)
                (list_sort(list(y) OVER
                   (ORDER BY day ROWS 6 PRECEDING)))
                  [(count(*) OVER (ORDER BY day ROWS 6 PRECEDING)
                    + 1) // 2]
                  AS rolling_median
         FROM daily ORDER BY day""",
    "pagerank_global" -> pagerankOracleSql(6, 20),
    "stream_late_replay" ->
      """WITH main AS (
           SELECT * FROM events WHERE event_id % 97 <> 0),
         wm AS (
           SELECT max(epoch_ms(ts)) - 1800000 AS wm FROM main),
         kept AS (
           SELECT ts, event_type FROM main
           UNION ALL
           SELECT ts, event_type FROM events, wm
           WHERE event_id % 97 = 0
             AND (epoch_ms(ts) // 3600000 + 1) * 3600000 > wm)
         SELECT (epoch_ms(ts) // 3600000 * 3600) AS hour_epoch,
                event_type, count(*)::BIGINT AS cnt
         FROM kept GROUP BY 1, 2""",
    "weighted_ppr" -> weightedPprOracleSql(1L, 6, 20),
    "eccentricity_sample" -> s"""WITH RECURSIVE $GraphCte,
         srcs AS (SELECT unnest([1, 2, 3]::BIGINT[]) AS source),
         walk(source, id, dist) AS (
           SELECT source, source AS id, 0 AS dist FROM srcs
           UNION
           SELECT w.source, e.dst AS id, w.dist + 1 AS dist
           FROM walk w JOIN edges e ON e.src = w.id
           WHERE w.dist < 4),
         d AS (SELECT source, id, min(dist) AS dist
               FROM walk GROUP BY 1, 2)
         SELECT source, dist::INT AS dist, count(*)::BIGINT AS n_nodes
         FROM d GROUP BY 1, 2""",
    "hll_rollup" ->
      """WITH daily AS (
           SELECT event_type, ts::DATE AS day FROM events GROUP BY 1, 2)
         SELECT e.event_type,
                (SELECT count(*) FROM daily d
                 WHERE d.event_type = e.event_type)::BIGINT AS n_days,
                count(DISTINCT e.user_id) AS exact_users,
                TRUE AS est_ok
         FROM events e GROUP BY e.event_type ORDER BY e.event_type""",
    "zonemap_prune" ->
      """WITH z AS (
           SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber,
             list_sum(list_transform(range(0, 16), i ->
               (((l_partkey >> i) & 1) << (2 * i)) +
               (((l_suppkey >> i) & 1) << (2 * i + 1)))) AS z
           FROM lineitem),
         b AS (
           SELECT l_partkey, l_suppkey,
             ntile(64) OVER (ORDER BY z, l_orderkey, l_linenumber)
               AS bucket
           FROM z),
         zb AS (
           SELECT bucket, count(*)::BIGINT AS n_rows,
                  min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
                  min(l_suppkey) AS min_sk, max(l_suppkey) AS max_sk
           FROM b GROUP BY bucket),
         f AS (
           SELECT *,
             (min_pk <= 300 AND max_pk >= 100 AND
              min_sk <= 40 AND max_sk >= 10) AS hit
           FROM zb)
         SELECT count(*)::BIGINT AS n_buckets,
                sum(CASE WHEN hit THEN 1 ELSE 0 END)::BIGINT AS scanned,
                (count(*) - sum(CASE WHEN hit THEN 1 ELSE 0 END))::BIGINT
                  AS skipped,
                sum(CASE WHEN hit THEN n_rows ELSE 0 END)::BIGINT
                  AS rows_scanned,
                sum(n_rows)::BIGINT AS rows_total,
                floor(sum(CASE WHEN hit THEN n_rows ELSE 0 END)::DOUBLE
                      / sum(n_rows) * 1e6 + 0.5) / 1e6 AS scan_frac
         FROM f""",
    "eventually_follows" ->
      """WITH ev AS (
           SELECT user_id, event_type, epoch_us(ts) AS us, event_id
           FROM events),
         spans AS (
           SELECT user_id, event_type,
                  first(us ORDER BY us, event_id) AS f_us,
                  first(event_id ORDER BY us, event_id) AS f_id,
                  last(us ORDER BY us, event_id) AS l_us,
                  last(event_id ORDER BY us, event_id) AS l_id
           FROM ev GROUP BY 1, 2)
         SELECT a.event_type AS a, b.event_type AS b,
                count(*)::BIGINT AS n_users
         FROM spans a JOIN spans b ON a.user_id = b.user_id
           AND a.event_type <> b.event_type
         WHERE a.f_us < b.l_us OR (a.f_us = b.l_us AND a.f_id < b.l_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "bounce_rate" ->
      """WITH e AS (
           SELECT user_id, event_id, ts,
                  epoch_ms(ts) // 1000 AS ep,
                  CASE WHEN lag(epoch_ms(ts) // 1000) OVER w IS NULL
                         OR epoch_ms(ts) // 1000
                            - lag(epoch_ms(ts) // 1000) OVER w > 1800
                       THEN 1 ELSE 0 END AS new_s
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT *, sum(new_s) OVER (PARTITION BY user_id
             ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
           FROM e),
         sess AS (
           SELECT user_id, session_seq, count(*) AS n_events,
                  min(ep) AS start_epoch
           FROM s GROUP BY 1, 2)
         SELECT start_epoch // 86400 AS day,
                count(*)::BIGINT AS n_sessions,
                sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)::BIGINT
                  AS n_bounces,
                floor(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)::DOUBLE
                      / count(*) * 1e6 + 0.5) / 1e6 AS bounce_rate
         FROM sess GROUP BY 1 ORDER BY 1""",
    "mad_anomalies" ->
      """WITH daily AS (
           SELECT event_type, epoch_ms(ts) // 1000 // 86400 AS day,
                  count(*)::BIGINT AS y
           FROM events GROUP BY 1, 2),
         med AS (SELECT event_type, quantile_cont(y, 0.5) AS med
                 FROM daily GROUP BY 1),
         mad AS (
           SELECT d.event_type,
                  quantile_cont(abs(y - med), 0.5) AS mad,
                  any_value(med) AS med
           FROM daily d JOIN med USING (event_type)
           GROUP BY d.event_type),
         sc AS (
           SELECT d.event_type, day, y,
                  floor((y - med) / nullif(mad, 0.0) * 1e4 + 0.5) / 1e4
                    AS mad_score
           FROM daily d JOIN mad USING (event_type))
         SELECT event_type, day, y, mad_score
         FROM sc WHERE abs(mad_score) > 3.0
         ORDER BY event_type, day""",
    "clustering_coeff" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
         co AS (SELECT a.l_suppkey AS s1, b.l_suppkey AS s2, count(*) AS c
                FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                  AND a.l_suppkey < b.l_suppkey
                GROUP BY 1, 2),
         thr AS (SELECT quantile_cont(c, 0.9) AS t FROM co),
         e AS (SELECT s1 AS u, s2 AS v FROM co, thr WHERE c >= t),
         deg AS (SELECT x, count(*)::BIGINT AS d FROM
                   (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
                 GROUP BY x),
         orient AS (
           SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                       THEN e.u ELSE e.v END AS s,
                  CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                       THEN e.v ELSE e.u END AS t,
                  CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                       THEN dv.d ELSE du.d END AS dt
           FROM e JOIN deg du ON du.x = e.u JOIN deg dv ON dv.x = e.v),
         w AS (SELECT o1.s AS a, o1.t AS b, o2.t AS c
               FROM orient o1 JOIN orient o2 ON o1.s = o2.s
               WHERE o1.dt < o2.dt OR (o1.dt = o2.dt AND o1.t < o2.t)),
         tr AS (SELECT w.a, w.b, w.c
                FROM w JOIN orient o3 ON o3.s = w.b AND o3.t = w.c),
         tri AS (
           SELECT x, count(*)::BIGINT AS t
           FROM (SELECT unnest([a, b, c]) AS x FROM tr) GROUP BY x)
         SELECT deg.x AS id, deg.d AS degree,
                coalesce(t, 0)::BIGINT AS triangles,
                floor(2.0 * coalesce(t, 0) / (d * (d - 1)) * 1e6 + 0.5)
                  / 1e6 AS coeff
         FROM deg LEFT JOIN tri USING (x)
         WHERE d >= 2 ORDER BY coeff DESC, id LIMIT 30""",
    "psi_drift" ->
      """WITH ev0 AS (
           SELECT event_type, epoch_ms(ts) // 1000 // 86400 AS day, value
           FROM events WHERE value IS NOT NULL),
         cut AS (
           SELECT day AS cut FROM (
             SELECT day, sum(count(*)) OVER
               (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum
             FROM ev0 GROUP BY day)
           WHERE cum >= (SELECT count(*) // 2 FROM ev0)
           ORDER BY day LIMIT 1),
         ev AS (
           SELECT event_type,
                  CASE WHEN day <= cut THEN 'a' ELSE 'b' END AS slice,
                  value
           FROM ev0, cut),
         ed AS (
           SELECT event_type,
                  quantile_cont(value,
                    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
                    AS edges
           FROM ev WHERE slice = 'a' GROUP BY 1),
         bk AS (
           SELECT e.event_type, slice,
                  len(list_filter(edges, x -> value > x)) AS bucket
           FROM ev e JOIN ed USING (event_type)),
         bc AS (
           SELECT event_type, bucket,
                  sum(CASE WHEN slice = 'a' THEN 1 ELSE 0 END)::BIGINT
                    AS na,
                  sum(CASE WHEN slice = 'b' THEN 1 ELSE 0 END)::BIGINT
                    AS nb
           FROM bk GROUP BY 1, 2),
         tot AS (SELECT event_type, sum(na)::BIGINT AS ta,
                        sum(nb)::BIGINT AS tb
                 FROM bc GROUP BY 1),
         terms AS (
           SELECT bc.event_type,
             CAST(floor((greatest(na::DOUBLE / ta, 1e-6)
                         - greatest(nb::DOUBLE / tb, 1e-6))
                   * ln(greatest(na::DOUBLE / ta, 1e-6)
                        / greatest(nb::DOUBLE / tb, 1e-6))
                   * 1e6 + 0.5) AS BIGINT) AS ti
           FROM bc JOIN tot USING (event_type))
         SELECT event_type, sum(ti)::DOUBLE / 1e6 AS psi,
                count(*)::BIGINT AS n_buckets
         FROM terms GROUP BY 1 ORDER BY 1""",
    "negative_samples" ->
      """WITH emb AS (
           SELECT vec_id, label,
                  ((vec_id % 2147483648) * 8388593) % 100 AS h
           FROM embeddings),
         cands AS (
           SELECT label AS neg_label, vec_id AS neg_id, h AS neg_h
           FROM (SELECT *, row_number() OVER
                   (PARTITION BY label ORDER BY h, vec_id) AS rn
                 FROM emb)
           WHERE rn <= 3),
         j AS (
           SELECT e.vec_id, c.neg_id, c.neg_label, c.neg_h
           FROM emb e JOIN cands c ON e.label <> c.neg_label)
         SELECT vec_id, rank, neg_id, neg_label FROM (
           SELECT *, row_number() OVER
             (PARTITION BY vec_id ORDER BY neg_h, neg_id) AS rank
           FROM j)
         WHERE rank <= 3""",
    "hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
                           label AS qlab
                    FROM embeddings WHERE vec_id < 50),
              e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
                    FROM embeddings)
         SELECT query_id, negative_id, neg_label, sim FROM (
           SELECT q.query_id, e.vec_id AS negative_id,
                  e.label AS neg_label,
                  round(list_cosine_similarity(q.qv, e.v), 6) AS sim,
                  row_number() OVER (PARTITION BY q.query_id
                    ORDER BY round(list_cosine_similarity(q.qv, e.v), 6)
                      DESC, e.vec_id) AS rn
           FROM q CROSS JOIN e WHERE e.label <> q.qlab)
         WHERE rn = 1""",
    "pair_lift" ->
      """WITH items AS (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem),
         small AS (
           SELECT ok FROM items GROUP BY ok HAVING count(*) <= 30),
         b AS (SELECT i.ok, i.pk FROM items i JOIN small USING (ok)),
         nb AS (SELECT count(DISTINCT ok)::DOUBLE AS n FROM b),
         singles AS (SELECT pk, count(*)::BIGINT AS s1 FROM b GROUP BY pk),
         pr AS (
           SELECT a.pk AS p1, c.pk AS p2, count(*)::BIGINT AS support
           FROM b a JOIN b c ON a.ok = c.ok AND a.pk < c.pk
           GROUP BY 1, 2 HAVING count(*) >= 3)
         SELECT p1, p2, support,
                floor(support::DOUBLE * (SELECT n FROM nb)
                      / (sa.s1 * sb.s1) * 1e4 + 0.5) / 1e4 AS lift
         FROM pr JOIN singles sa ON p1 = sa.pk
                 JOIN singles sb ON p2 = sb.pk
         ORDER BY lift DESC, p1, p2 LIMIT 40""",
    "shortest_path_counts" -> spcOracleSql(1L, 4),
    // sketch internals are merge-order-dependent; the CONTRACT (exact
    // deciles + in-band flags) is not — the approx_agg pattern
    "mp_quantiles" ->
      """WITH q AS (
           SELECT l_returnflag,
                  quantile_cont(l_extendedprice,
                    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
           FROM lineitem GROUP BY 1),
         u AS (SELECT l_returnflag, unnest(qs) AS e,
                      generate_subscripts(qs, 1) AS i
               FROM q)
         SELECT l_returnflag, i / 10.0 AS p,
                floor(e * 1e4 + 0.5) / 1e4 AS exact_q,
                TRUE AS in_band
         FROM u""",
    "session_entropy" ->
      """WITH e AS (
           SELECT user_id, event_id, ts, event_type,
                  CASE WHEN lag(epoch_ms(ts) // 1000) OVER w IS NULL
                         OR epoch_ms(ts) // 1000
                            - lag(epoch_ms(ts) // 1000) OVER w > 1800
                       THEN 1 ELSE 0 END AS new_s
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT *, sum(new_s) OVER (PARTITION BY user_id
             ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
           FROM e),
         bt AS (
           SELECT user_id, session_seq, event_type, count(*)::BIGINT AS c
           FROM s GROUP BY 1, 2, 3),
         ps AS (
           SELECT user_id, session_seq, sum(c)::BIGINT AS n,
                  sum(CAST(floor(c::DOUBLE * ln(c) * 1e9 + 0.5)
                      AS BIGINT))::BIGINT AS sti
           FROM bt GROUP BY 1, 2),
         bands AS (
           SELECT least(n, 5) AS len_band,
                  CAST(floor((ln(n) - sti::DOUBLE / 1e9 / n) * 1e6 + 0.5)
                    AS BIGINT) AS hi
           FROM ps)
         SELECT len_band, count(*)::BIGINT AS n_sessions,
                (sum(hi)::DOUBLE / count(*)) / 1e6 AS avg_entropy
         FROM bands GROUP BY 1 ORDER BY 1""",
    // same exact-percentile decile bucketing as k_anonymity; the
    // sensitive attribute is the decile, QI = (type, hour)
    "l_diversity" ->
      """WITH ev AS (
           SELECT event_type, extract(hour FROM ts)::INT AS hr,
                  value, user_id
           FROM events WHERE value IS NOT NULL),
         ed AS (
           SELECT quantile_cont(value,
             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS edges
           FROM ev),
         cr AS (
           SELECT event_type, hr,
                  len(list_filter(edges, x -> value > x)) AS vb,
                  user_id
           FROM ev, ed),
         cls AS (
           SELECT event_type, hr,
                  count(DISTINCT vb)::BIGINT AS l_div,
                  count(DISTINCT user_id)::BIGINT AS n_users
           FROM cr GROUP BY 1, 2),
         risk AS (
           SELECT count(DISTINCT user_id)::BIGINT AS users_at_risk
           FROM cr WHERE EXISTS (
             SELECT 1 FROM cls c
             WHERE c.l_div < 3 AND c.event_type = cr.event_type
               AND c.hr = cr.hr)),
         tot AS (SELECT count(DISTINCT user_id)::BIGINT AS total_users
                 FROM ev),
         agg AS (
           SELECT count(*)::BIGINT AS n_classes,
                  sum(CASE WHEN l_div < 3 THEN 1 ELSE 0 END)::BIGINT
                    AS weak_classes,
                  min(l_div)::BIGINT AS min_l
           FROM cls)
         SELECT n_classes, weak_classes, min_l,
           floor(users_at_risk::DOUBLE / total_users * 1e6 + 0.5) / 1e6
             AS at_risk_share
         FROM agg CROSS JOIN risk CROSS JOIN tot""",
    // Kaplan–Meier: survival probabilities as exact-integer hazards;
    // each ln(1 - d/n) factor floor-quantized to the 1e-9 LONG grid
    // before the (order-free) prefix sum, mirroring Events.kaplanMeier
    // exact-integer survival fold s6 <- floor(s6*(n-d)/n) replayed by
    // a recursive CTE in the same IEEE op order as the engine's
    // aggregate() lambda — no ln/exp anywhere (engine-proof)
    "kaplan_meier" ->
      """WITH RECURSIVE pu AS (
           SELECT user_id, min(ts)::DATE AS d0,
                  min(CASE WHEN event_type = 'purchase' THEN ts END)::DATE
                    AS dconv
           FROM events GROUP BY user_id),
         hz AS (SELECT max(ts)::DATE AS dmax FROM events),
         durs AS (
           SELECT CASE WHEN dconv IS NOT NULL
                       THEN date_diff('day', d0, dconv)
                       ELSE date_diff('day', d0, dmax) END AS t,
                  CASE WHEN dconv IS NOT NULL THEN 1 ELSE 0 END AS event
           FROM pu CROSS JOIN hz),
         byt AS (
           SELECT t, sum(event)::BIGINT AS d,
                  sum(1 - event)::BIGINT AS c, count(*)::BIGINT AS k
           FROM durs GROUP BY t),
         n AS (SELECT count(*)::BIGINT AS nn FROM durs),
         r AS (
           SELECT t, d, c,
                  nn - coalesce(sum(k) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS n_risk
           FROM byt CROSS JOIN n),
         dr AS (
           SELECT t, d, c, n_risk,
                  row_number() OVER (ORDER BY t) AS rn
           FROM r WHERE d > 0),
         fold AS (
           SELECT rn, t, d, c, n_risk,
                  CAST(floor(1000000::BIGINT::DOUBLE
                    * (n_risk - d)::DOUBLE / n_risk::DOUBLE) AS BIGINT)
                    AS s6
           FROM dr WHERE rn = 1
           UNION ALL
           SELECT k.rn, k.t, k.d, k.c, k.n_risk,
                  CAST(floor(f.s6::DOUBLE
                    * (k.n_risk - k.d)::DOUBLE / k.n_risk::DOUBLE)
                    AS BIGINT)
           FROM fold f JOIN dr k ON k.rn = f.rn + 1)
         SELECT t::BIGINT AS t_day, n_risk::BIGINT AS n_risk,
                d AS deaths, c AS censored,
                s6 AS surv6, s6::DOUBLE / 1e6 AS surv
         FROM fold ORDER BY t_day""",
    // Holt linear smoothing: recursive CTE replays the engine's fold in
    // the same IEEE op order; smoothing constants appear as (1 - a)
    // expressions so both engines derive the identical double
    "holt_forecast" ->
      s"""WITH RECURSIVE $HoltCte,
         last AS (SELECT * FROM r ORDER BY rn DESC LIMIT 1),
         fc AS (
           SELECT (l.day + h.h)::BIGINT AS day, h.h::BIGINT AS horizon,
                  NULL::DOUBLE AS actual,
                  floor((l.level + h.h * l.trend) * 1e6 + 0.5) / 1e6
                    AS fitted
           FROM last l CROSS JOIN (SELECT unnest(range(1, 8)) AS h) h)
         SELECT day::BIGINT AS day, 0::BIGINT AS horizon,
                floor(x * 1e6 + 0.5) / 1e6 AS actual,
                floor(fitted * 1e6 + 0.5) / 1e6 AS fitted
         FROM r
         UNION ALL
         SELECT * FROM fc
         ORDER BY day, horizon""",
    "k_anonymity" ->
      """WITH ev AS (
           SELECT event_type, extract(hour FROM ts)::INT AS hr,
                  value, user_id
           FROM events WHERE value IS NOT NULL),
         ed AS (
           SELECT quantile_cont(value,
             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS edges
           FROM ev),
         cr AS (
           SELECT event_type, hr,
                  len(list_filter(edges, x -> value > x)) AS vb,
                  user_id
           FROM ev, ed),
         cls AS (
           SELECT event_type, hr, vb,
                  count(DISTINCT user_id)::BIGINT AS n_users
           FROM cr GROUP BY 1, 2, 3),
         risk AS (
           SELECT count(DISTINCT user_id)::BIGINT AS users_at_risk
           FROM cr WHERE EXISTS (
             SELECT 1 FROM cls c
             WHERE c.n_users < 5 AND c.event_type = cr.event_type
               AND c.hr = cr.hr AND c.vb = cr.vb)),
         tot AS (SELECT count(DISTINCT user_id)::BIGINT AS total_users
                 FROM ev),
         agg AS (
           SELECT count(*)::BIGINT AS n_classes,
                  sum(CASE WHEN n_users < 5 THEN 1 ELSE 0 END)::BIGINT
                    AS violating_classes,
                  min(n_users) AS min_class_users
           FROM cls)
         SELECT n_classes, violating_classes, min_class_users,
                floor(users_at_risk::DOUBLE / total_users * 1e6 + 0.5)
                  / 1e6 AS at_risk_share
         FROM agg, risk, tot""",
    "harmonic_centrality" -> s"""WITH RECURSIVE $GraphCte,
         srcs AS (SELECT unnest([1, 2, 3]::BIGINT[]) AS source),
         walk(source, id, dist) AS (
           SELECT source, source AS id, 0 AS dist FROM srcs
           UNION
           SELECT w.source, e.dst AS id, w.dist + 1 AS dist
           FROM walk w JOIN edges e ON e.src = w.id
           WHERE w.dist < 4),
         d AS (SELECT source, id, min(dist) AS dist
               FROM walk GROUP BY 1, 2),
         r AS (SELECT source, dist, count(*)::BIGINT AS n
               FROM d GROUP BY 1, 2)
         SELECT source,
                floor((sum(CASE WHEN dist = 1 THEN n ELSE 0 END)::DOUBLE / 1
                     + sum(CASE WHEN dist = 2 THEN n ELSE 0 END)::DOUBLE / 2
                     + sum(CASE WHEN dist = 3 THEN n ELSE 0 END)::DOUBLE / 3
                     + sum(CASE WHEN dist = 4 THEN n ELSE 0 END)::DOUBLE / 4)
                     * 1e6 + 0.5) / 1e6 AS harmonic,
                sum(CASE WHEN dist > 0 THEN n ELSE 0 END)::BIGINT
                  AS reached
         FROM r GROUP BY source ORDER BY source""",
    "graph_summary" -> s"""WITH $GraphCte,
         deg AS (SELECT src, count(*)::BIGINT AS d FROM edges GROUP BY src),
         a AS (SELECT count(*)::BIGINT AS nv, sum(d)::BIGINT AS nde,
                      max(d)::BIGINT AS md
               FROM deg)
         SELECT nv AS n_vertices, nde // 2 AS n_edges, md AS max_degree,
                floor(nde::DOUBLE / nv * 1e4 + 0.5) / 1e4 AS avg_degree,
                floor(nde::DOUBLE / (nv * (nv - 1)) * 1e9 + 0.5) / 1e9
                  AS density
         FROM a""",
    "intersession_gaps" ->
      """WITH e AS (
           SELECT user_id, event_id, ts,
                  epoch_ms(ts) // 1000 AS ep,
                  CASE WHEN lag(epoch_ms(ts) // 1000) OVER w IS NULL
                         OR epoch_ms(ts) // 1000
                            - lag(epoch_ms(ts) // 1000) OVER w > 1800
                       THEN 1 ELSE 0 END AS new_s
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT *, sum(new_s) OVER (PARTITION BY user_id
             ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
           FROM e),
         sess AS (
           SELECT user_id, session_seq, min(ep) AS start_epoch,
                  max(ep) AS end_epoch
           FROM s GROUP BY 1, 2),
         g AS (
           SELECT lead(start_epoch) OVER (PARTITION BY user_id
                    ORDER BY session_seq) - end_epoch AS gap_sec
           FROM sess)
         SELECT count(*)::BIGINT AS n_gaps,
                min(gap_sec) AS min_gap,
                CAST(floor(quantile_cont(gap_sec, 0.5) + 0.5) AS BIGINT)
                  AS p50_gap,
                CAST(floor(quantile_cont(gap_sec, 0.9) + 0.5) AS BIGINT)
                  AS p90_gap,
                max(gap_sec) AS max_gap
         FROM g WHERE gap_sec IS NOT NULL""",
    "user_activity_features" ->
      """WITH ev AS (
           SELECT user_id, epoch_ms(ts) // 1000 AS ep,
                  epoch_ms(ts) // 1000 // 86400 AS day, value
           FROM events),
         mx AS (SELECT max(ep) AS end_ep FROM ev),
         ag AS (
           SELECT user_id, count(*)::BIGINT AS n_events,
                  count(DISTINCT day)::BIGINT AS active_days,
                  min(ep) AS first_ep, max(ep) AS last_ep,
                  sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT))::BIGINT
                    AS vs
           FROM ev GROUP BY user_id)
         SELECT user_id, n_events, active_days,
                ((SELECT end_ep FROM mx) - last_ep) // 86400
                  AS recency_days,
                (last_ep - first_ep) // 86400 AS tenure_days,
                floor(vs::DOUBLE / 1e6 / n_events * 1e4 + 0.5) / 1e4
                  AS avg_value,
                CASE WHEN n_events > 1
                     THEN (last_ep - first_ep) // (n_events - 1) END
                  AS avg_gap_sec
         FROM ag ORDER BY n_events DESC, user_id LIMIT 100""",
    "benford_digits" ->
      """WITH d AS (
           SELECT CAST(regexp_extract(abs(value)::VARCHAR, '[1-9]', 0)
                  AS INT) AS digit
           FROM events WHERE value IS NOT NULL AND value <> 0),
         c AS (SELECT digit, count(*)::BIGINT AS n FROM d
               WHERE digit BETWEEN 1 AND 9 GROUP BY 1),
         t AS (SELECT sum(n)::DOUBLE AS tot FROM c)
         SELECT digit, n,
                floor(n::DOUBLE / tot * 1e6 + 0.5) / 1e6 AS observed,
                floor(ln(1.0 + 1.0 / digit) / ln(10.0) * 1e6 + 0.5) / 1e6
                  AS benford,
                floor(pow(n::DOUBLE - ln(1.0 + 1.0 / digit) / ln(10.0)
                            * tot, 2)
                      / (ln(1.0 + 1.0 / digit) / ln(10.0) * tot)
                      * 1e4 + 0.5) / 1e4 AS chi2_term
         FROM c, t ORDER BY digit""",
    "hist2d" ->
      """WITH cells AS (
           SELECT (l_quantity::BIGINT // 10)::INT AS qty_band,
                  CAST(floor(l_discount * 20 + 0.5) AS INT) AS disc_band,
                  count(*)::BIGINT AS n
           FROM lineitem GROUP BY 1, 2),
         mq AS (SELECT qty_band, sum(n)::BIGINT AS nq
                FROM cells GROUP BY 1),
         md AS (SELECT disc_band, sum(n)::BIGINT AS nd
                FROM cells GROUP BY 1),
         t AS (SELECT sum(n)::DOUBLE AS tot FROM cells)
         SELECT qty_band, disc_band, n,
                floor(n::DOUBLE * tot / (nq * nd) * 1e4 + 0.5) / 1e4
                  AS independence_ratio
         FROM cells JOIN mq USING (qty_band)
                    JOIN md USING (disc_band), t
         ORDER BY qty_band, disc_band""",
    "disappearing_items" ->
      """WITH li AS (SELECT l_partkey, l_shipdate::DATE AS d
                     FROM lineitem),
         mx AS (SELECT max(d) - INTERVAL 60 DAY AS cut FROM li),
         recent AS (
           SELECT DISTINCT l_partkey FROM li, mx WHERE d >= cut),
         hist AS (
           SELECT l_partkey, count(*)::BIGINT AS n_hist,
                  strftime(max(d), '%Y-%m-%d') AS last_seen
           FROM li, mx WHERE d < cut
           GROUP BY 1)
         SELECT h.l_partkey, n_hist, last_seen FROM hist h
         WHERE NOT EXISTS (SELECT 1 FROM recent r
                           WHERE r.l_partkey = h.l_partkey)
         ORDER BY n_hist DESC, l_partkey LIMIT 50""",
    "join_cardinality" ->
      """WITH fa AS (SELECT o_orderkey AS k, count(*)::BIGINT AS ca
                     FROM orders GROUP BY 1),
         fb AS (SELECT l_orderkey AS k, count(*)::BIGINT AS cb
                FROM lineitem GROUP BY 1),
         prod AS (SELECT k, ca * cb AS p FROM fa JOIN fb USING (k))
         SELECT sum(p)::BIGINT AS forecast_rows,
                count(*)::BIGINT AS n_join_keys,
                max(p)::BIGINT AS max_key_rows,
                floor(max(p)::DOUBLE / sum(p) * 1e6 + 0.5) / 1e6
                  AS top_key_share
         FROM prod""",
    "heaps_law" -> s"""$TokCte,
         tok AS (SELECT doc_id, unnest(ts) AS t FROM toks),
         p AS (SELECT greatest(1, count(DISTINCT doc_id) // 10) AS per
               FROM tok),
         f AS (SELECT t, min(doc_id) AS d0 FROM tok GROUP BY t),
         ft AS (SELECT least(d0 // per + 1, 10)::INT AS b,
                       count(*)::BIGINT AS nt
                FROM f, p GROUP BY 1),
         sc AS (SELECT least(doc_id // per + 1, 10)::INT AS b,
                       count(*)::BIGINT AS toks
                FROM tok, p GROUP BY 1),
         pts AS (
           SELECT sc.b,
                  (sum(toks) OVER w)::BIGINT AS n_tokens,
                  (sum(coalesce(nt, 0)) OVER w)::BIGINT AS v_types
           FROM sc LEFT JOIN ft ON sc.b = ft.b
           WINDOW w AS (ORDER BY sc.b ROWS UNBOUNDED PRECEDING)),
         pl AS (
           SELECT b, n_tokens, v_types,
                  CAST(floor(ln(n_tokens::DOUBLE) * 1e9 + 0.5) AS BIGINT)
                    AS lx,
                  CAST(floor(ln(v_types::DOUBLE) * 1e9 + 0.5) AS BIGINT)
                    AS ly
           FROM pts),
         fit AS (
           SELECT count(*)::HUGEINT AS m, sum(lx)::HUGEINT AS sx,
                  sum(ly)::HUGEINT AS sy,
                  sum(lx::HUGEINT * ly) AS sxy,
                  sum(lx::HUGEINT * lx) AS sxx
           FROM pl),
         fb AS (SELECT m * sxy - sx * sy AS num,
                       m * sxx - sx * sx AS den FROM fit)
         SELECT b, n_tokens, v_types,
                CASE WHEN den = 0 THEN 0.0::DOUBLE
                     ELSE floor(num::DOUBLE / den::DOUBLE * 1e6 + 0.5) / 1e6
                END AS beta
         FROM pl, fb ORDER BY b""",
    "embedding_drift" ->
      """WITH e AS (
           SELECT label,
                  CASE WHEN ((vec_id % 2147483648) * 8388593) % 100 < 50
                       THEN 'a' ELSE 'b' END AS half,
                  embedding::DOUBLE[] AS x
           FROM embeddings),
         n AS (
           SELECT label, half,
             sqrt(list_reduce(list_prepend(0.0,
               list_transform(x, v -> v * v)), (a, b) -> a + b)) AS nrm,
             x
           FROM e),
         u AS (
           SELECT label, half,
             unnest(list_transform(x,
               v -> CAST(floor(v / nrm * 1e9 + 0.5) AS BIGINT))) AS v,
             generate_subscripts(x, 1) - 1 AS pos
           FROM n),
         c AS (
           SELECT label, half, pos, sum(v)::BIGINT AS sv
           FROM u GROUP BY 1, 2, 3),
         j AS (
           SELECT a.label, a.sv AS sa, b.sv AS sb
           FROM c a JOIN c b ON a.label = b.label AND a.pos = b.pos
           WHERE a.half = 'a' AND b.half = 'b'),
         ag AS (
           SELECT label,
                  sum(sa::HUGEINT * sb) AS num,
                  sum(sa::HUGEINT * sa) AS na,
                  sum(sb::HUGEINT * sb) AS nb
           FROM j GROUP BY label)
         SELECT label,
                floor(num::DOUBLE / (sqrt(na::DOUBLE) * sqrt(nb::DOUBLE))
                      * 1e6 + 0.5) / 1e6 AS proto_cosine
         FROM ag ORDER BY label""",
    // round-5 batch D ------------------------------------------------
    // exact coalition-game Shapley: v(S) = converting users whose
    // touched set ⊆ S; 24·φ_c stays in LONGs until the final division
    "shapley_attribution" ->
      """WITH ev AS (SELECT user_id, event_type,
                       epoch_ms(ts) // 1000 AS t FROM events),
         fp AS (SELECT user_id, min(t) AS tp FROM ev
                WHERE event_type = 'purchase' GROUP BY 1),
         bits AS (SELECT DISTINCT ev.user_id,
                    CASE ev.event_type WHEN 'click' THEN 1
                      WHEN 'error' THEN 2 WHEN 'signup' THEN 4
                      WHEN 'view' THEN 8 ELSE 0 END AS bit
                  FROM ev JOIN fp USING (user_id)
                  WHERE ev.t < fp.tp AND ev.event_type <> 'purchase'),
         masks AS (SELECT user_id, sum(bit)::BIGINT AS mask
                   FROM bits GROUP BY 1),
         conv AS (SELECT coalesce(mask, 0)::BIGINT AS mask,
                    count(*)::BIGINT AS conv
                  FROM fp LEFT JOIN masks USING (user_id) GROUP BY 1),
         cs AS (SELECT unnest(range(0, 16))::BIGINT AS cs),
         v AS (SELECT cs.cs,
                 coalesce(sum(conv.conv), 0)::BIGINT AS v
               FROM cs LEFT JOIN conv ON (conv.mask & cs.cs) = conv.mask
               GROUP BY 1),
         chan AS (SELECT * FROM (VALUES ('click', 1::BIGINT),
                    ('error', 2::BIGINT), ('signup', 4::BIGINT),
                    ('view', 8::BIGINT)) AS t(channel, cbit)),
         sub AS (SELECT channel, cbit, cs.cs,
                   (cs.cs & 1) + ((cs.cs >> 1) & 1) +
                   ((cs.cs >> 2) & 1) + ((cs.cs >> 3) & 1) AS pc
                 FROM chan, cs WHERE (cs.cs & cbit) = 0),
         phi AS (SELECT channel,
                   sum((CASE pc WHEN 0 THEN 6 WHEN 1 THEN 2
                        WHEN 2 THEN 2 WHEN 3 THEN 6 END)
                       * (vw.v - vo.v))::BIGINT AS phi24
                 FROM sub
                 JOIN v vo ON vo.cs = sub.cs
                 JOIN v vw ON vw.cs = sub.cs + sub.cbit
                 GROUP BY 1),
         tot AS (SELECT sum(phi24)::BIGINT AS tot24 FROM phi)
         SELECT channel, phi24,
           floor(phi24::DOUBLE / 24.0 * 1e6 + 0.5) / 1e6 AS phi,
           CASE WHEN tot24 > 0
             THEN floor(phi24::DOUBLE / tot24 * 1e6 + 0.5) / 1e6
             ELSE 0.0 END AS share
         FROM phi, tot ORDER BY channel""",
    // BH step-up over the welch pair screen, in −ln p space (A&S
    // 7.1.26 erfc polynomial over the already-quantized |t|)
    "fdr_bh" ->
      """WITH st AS (
           SELECT event_type, count(*)::BIGINT AS n,
             sum(vi) AS sv, sum(vi * vi) AS sv2
           FROM (SELECT event_type,
                   CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vi
                 FROM events WHERE value IS NOT NULL)
           GROUP BY event_type),
         p AS (
           SELECT a.event_type AS type_a, b.event_type AS type_b,
             a.n AS n_a, b.n AS n_b,
             a.sv::DOUBLE AS sva, a.sv2::DOUBLE AS sv2a,
             b.sv::DOUBLE AS svb, b.sv2::DOUBLE AS sv2b
           FROM st a JOIN st b ON a.event_type < b.event_type),
         e AS (
           SELECT *,
             ((sv2a - sva * sva / n_a) / (n_a - 1) / 1e12) / n_a AS pa,
             ((sv2b - svb * svb / n_b) / (n_b - 1) / 1e12) / n_b AS pb
           FROM p),
         tq AS (
           SELECT type_a, type_b,
             abs(coalesce(CASE WHEN pa + pb > 0
               THEN floor((sva / n_a / 1e6 - svb / n_b / 1e6)
                 / sqrt(pa + pb) * 1e6 + 0.5) / 1e6
               ELSE NULL END, 0.0)) AS at
           FROM e),
         nl AS (
           SELECT type_a, type_b, at,
             CAST(floor((x * x - ln(
               ((((1.061405429 * kk + -1.453152027) * kk
                  + 1.421413741) * kk + -0.284496736) * kk
                + 0.254829592) * kk)) * 1e6 + 0.5) AS BIGINT) AS nlp_i
           FROM (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS kk
                 FROM (SELECT *, at / 1.4142135623730951 AS x FROM tq))),
         rk AS (
           SELECT type_a, type_b, at, nlp_i,
             row_number() OVER (ORDER BY nlp_i DESC, type_a, type_b)
               ::BIGINT AS p_rank
           FROM nl),
         mm AS (SELECT count(*)::BIGINT AS m FROM rk),
         fl AS (
           SELECT rk.*, CASE WHEN nlp_i >= CAST(floor(
               ln(m::DOUBLE / (p_rank * 0.05)) * 1e6 + 0.5) AS BIGINT)
             THEN 1 ELSE 0 END AS bh_ok
           FROM rk, mm),
         km AS (SELECT max(CASE WHEN bh_ok = 1 THEN p_rank
                          ELSE 0 END)::BIGINT AS k_max FROM fl)
         SELECT type_a, type_b, at AS abs_t,
           floor(nlp_i::DOUBLE / 1e6 * 1e6 + 0.5) / 1e6 AS neg_log_p,
           p_rank, k_max,
           (CASE WHEN p_rank <= k_max THEN 1 ELSE 0 END)::BIGINT
             AS reject
         FROM fl, km ORDER BY p_rank""",
    // closed-form ridge: exact HUGEINT Gram stats, Cramer 3×3 in one
    // literal double chain (first-row expansion, same term order)
    "ridge_regression" ->
      """WITH li AS (
           SELECT CAST(floor(l_quantity * 1e6 + 0.5) AS BIGINT) AS x1,
                  CAST(floor(l_discount * 1e6 + 0.5) AS BIGINT) AS x2,
                  CAST(floor(l_extendedprice * 1e6 + 0.5) AS BIGINT) AS y
           FROM lineitem),
         st AS (SELECT count(*)::BIGINT AS n,
           sum(x1)::HUGEINT AS s1, sum(x2)::HUGEINT AS s2,
           sum(y)::HUGEINT AS sy,
           sum(x1::HUGEINT * x1) AS s11, sum(x1::HUGEINT * x2) AS s12,
           sum(x2::HUGEINT * x2) AS s22, sum(x1::HUGEINT * y) AS s1y,
           sum(x2::HUGEINT * y) AS s2y
           FROM li),
         a AS (SELECT n,
           s11::DOUBLE / 1e12 + 0.1 AS a11,
           s12::DOUBLE / 1e12 AS a12,
           s1::DOUBLE / 1e6 AS a13,
           s22::DOUBLE / 1e12 + 0.1 AS a22,
           s2::DOUBLE / 1e6 AS a23,
           n::DOUBLE + 0.1 AS a33,
           s1y::DOUBLE / 1e12 AS b1,
           s2y::DOUBLE / 1e12 AS b2,
           sy::DOUBLE / 1e6 AS b3
           FROM st),
         d AS (SELECT n,
           a11 * (a22 * a33 - a23 * a23)
             - a12 * (a12 * a33 - a23 * a13)
             + a13 * (a12 * a23 - a22 * a13) AS dA,
           b1 * (a22 * a33 - a23 * a23)
             - a12 * (b2 * a33 - a23 * b3)
             + a13 * (b2 * a23 - a22 * b3) AS d1,
           a11 * (b2 * a33 - a23 * b3)
             - b1 * (a12 * a33 - a23 * a13)
             + a13 * (a12 * b3 - b2 * a13) AS d2,
           a11 * (a22 * b3 - b2 * a23)
             - a12 * (a12 * b3 - b2 * a13)
             + b1 * (a12 * a23 - a22 * a13) AS d3
           FROM a)
         SELECT n,
           floor(d1 / dA * 1e6 + 0.5) / 1e6 AS beta_quantity,
           floor(d2 / dA * 1e6 + 0.5) / 1e6 AS beta_discount,
           floor(d3 / dA * 1e6 + 0.5) / 1e6 AS intercept
         FROM d""",
    // temporal edge churn: one period-tagged distinct-edge agg
    "graph_churn" ->
      """WITH o AS (SELECT o_orderkey, o_custkey,
                      epoch_ms(o_orderdate) // 1000 AS t FROM orders),
         b AS (SELECT min(t) AS t0, max(t) AS t1 FROM o),
         tg AS (SELECT o_custkey AS c, l_suppkey AS sup,
                  CASE WHEN t <= CAST(floor((t0 + t1) / 2.0) AS BIGINT)
                    THEN 1 ELSE 0 END AS isPre
                FROM lineitem JOIN o ON l_orderkey = o_orderkey, b),
         e AS (SELECT c, sup, max(isPre)::BIGINT AS inPre,
                 max(1 - isPre)::BIGINT AS inPost
               FROM tg GROUP BY 1, 2)
         SELECT sum(inPre)::BIGINT AS edges_pre,
           sum(inPost)::BIGINT AS edges_post,
           sum(inPre * inPost)::BIGINT AS persisted,
           sum(inPre * (1 - inPost))::BIGINT AS dropped,
           sum((1 - inPre) * inPost)::BIGINT AS appeared,
           floor(sum(inPre * inPost)::DOUBLE / count(*) * 1e6 + 0.5)
             / 1e6 AS jaccard
         FROM e""",
    // Dunning G² keyness: exact counts weight 1e-9-grid ln ratios;
    // ties break on the quantized LONG then the term
    "keyness_g2" ->
      """WITH tok AS (
           SELECT CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS inF,
             unnest(list_filter(list_transform(
               string_split_regex(lower(text), '\s+'),
               t -> regexp_replace(t, '(^[^a-z]+|[^a-z]+$)', '', 'g')),
               t -> len(t) > 0)) AS term
           FROM documents),
         c AS (SELECT term, sum(inF)::BIGINT AS a,
                 sum(1 - inF)::BIGINT AS b
               FROM tok GROUP BY 1),
         tot AS (SELECT sum(a)::BIGINT AS na, sum(b)::BIGINT AS nb
                 FROM c),
         sc AS (SELECT term, a, b,
             (CASE WHEN a > 0 THEN a * CAST(floor(ln(
                (a::DOUBLE * (na::DOUBLE + nb::DOUBLE))
                / (na::DOUBLE * (a::DOUBLE + b::DOUBLE))) * 1e9 + 0.5)
                AS BIGINT) ELSE 0 END
              + CASE WHEN b > 0 THEN b * CAST(floor(ln(
                (b::DOUBLE * (na::DOUBLE + nb::DOUBLE))
                / (nb::DOUBLE * (a::DOUBLE + b::DOUBLE))) * 1e9 + 0.5)
                AS BIGINT) ELSE 0 END) AS g2i,
             CASE WHEN a * nb > b * na THEN 'src0' ELSE 'rest' END
               AS leans
           FROM c, tot)
         SELECT term, a AS n_focus, b AS n_rest,
           floor(2.0 * g2i::DOUBLE / 1e9 * 1e6 + 0.5) / 1e6 AS g2,
           leans
         FROM sc ORDER BY g2i DESC, term LIMIT 30""",
    // round-5 batch E ------------------------------------------------
    // greedy-earliest chains per (user, a, b); alphabet-bounded mins
    "seq_patterns" ->
      """WITH ev AS (SELECT user_id AS u, event_type AS ty,
             (epoch_ms(ts) // 1000) * 1048576 + event_id AS t
           FROM events),
         f AS (SELECT u, ty AS a, min(t) AS t1 FROM ev GROUP BY 1, 2),
         l AS (SELECT u, ty AS c, max(t) AS tl FROM ev GROUP BY 1, 2),
         t2 AS (SELECT ev.u, f.a, ev.ty AS b, min(ev.t) AS t2
                FROM ev JOIN f ON ev.u = f.u WHERE ev.t > f.t1
                GROUP BY 1, 2, 3),
         sp AS (SELECT a, b, c, count(*)::BIGINT AS support
                FROM t2 JOIN l ON t2.u = l.u WHERE l.tl > t2.t2
                GROUP BY 1, 2, 3)
         SELECT a, b, c, support FROM sp
         ORDER BY support DESC, a, b, c LIMIT 20""",
    // two unrolled EM rounds over the 8-pattern spine; 1e9-grid
    // responsibilities keep every M-step sum order-free and exact
    "fs_em_weights" ->
      """WITH p AS (
           SELECT p_partkey AS k, string_split(p_name, ' ')[1] AS adj,
                  string_split(p_name, ' ')[-1] AS noun, p_brand AS b,
                  p_type AS t, p_size // 5 AS band
           FROM part),
         pat0 AS (
           SELECT g, count(*)::BIGINT AS n FROM (
             SELECT (CASE WHEN a.b = b.b THEN 1 ELSE 0 END) * 4 +
                    (CASE WHEN a.t = b.t THEN 1 ELSE 0 END) * 2 +
                    (CASE WHEN a.adj = b.adj THEN 1 ELSE 0 END) AS g
             FROM p a JOIN p b
               ON a.noun = b.noun AND a.band = b.band AND a.k < b.k)
           GROUP BY g),
         pd AS (
           SELECT s.g, coalesce(n, 0)::BIGINT AS n,
             (s.g >> 2) & 1 AS g1, (s.g >> 1) & 1 AS g2,
             s.g & 1 AS g3
           FROM (SELECT unnest(range(0, 8))::BIGINT AS g) s
           LEFT JOIN pat0 ON s.g = pat0.g),
         w1 AS (
           SELECT n, g1, g2, g3,
             CAST(floor(pm / (pm + pu) * 1e9 + 0.5) AS BIGINT) AS wq
           FROM (SELECT *,
               0.1 * ((CASE WHEN g1 = 1 THEN 0.9 ELSE 1.0 - 0.9 END)
                    * (CASE WHEN g2 = 1 THEN 0.9 ELSE 1.0 - 0.9 END)
                    * (CASE WHEN g3 = 1 THEN 0.9 ELSE 1.0 - 0.9 END))
                 AS pm,
               (1.0 - 0.1)
                 * ((CASE WHEN g1 = 1 THEN 0.1 ELSE 1.0 - 0.1 END)
                  * (CASE WHEN g2 = 1 THEN 0.1 ELSE 1.0 - 0.1 END)
                  * (CASE WHEN g3 = 1 THEN 0.1 ELSE 1.0 - 0.1 END))
                 AS pu
             FROM pd)),
         s1 AS (
           SELECT sum(n)::BIGINT AS nn,
             sum(n::HUGEINT * wq) AS sw,
             sum(n::HUGEINT * wq * g1) AS sw1,
             sum(n::HUGEINT * wq * g2) AS sw2,
             sum(n::HUGEINT * wq * g3) AS sw3,
             sum(n::HUGEINT * (1000000000 - wq)) AS su,
             sum(n::HUGEINT * (1000000000 - wq) * g1) AS su1,
             sum(n::HUGEINT * (1000000000 - wq) * g2) AS su2,
             sum(n::HUGEINT * (1000000000 - wq) * g3) AS su3
           FROM w1),
         pr1 AS (
           SELECT sw::DOUBLE / (nn::DOUBLE * 1e9) AS p,
             sw1::DOUBLE / sw::DOUBLE AS m1,
             sw2::DOUBLE / sw::DOUBLE AS m2,
             sw3::DOUBLE / sw::DOUBLE AS m3,
             su1::DOUBLE / su::DOUBLE AS u1,
             su2::DOUBLE / su::DOUBLE AS u2,
             su3::DOUBLE / su::DOUBLE AS u3
           FROM s1),
         w2 AS (
           SELECT n, g1, g2, g3,
             CAST(floor(pm / (pm + pu) * 1e9 + 0.5) AS BIGINT) AS wq
           FROM (SELECT pd.*,
               p * ((CASE WHEN g1 = 1 THEN m1 ELSE 1.0 - m1 END)
                  * (CASE WHEN g2 = 1 THEN m2 ELSE 1.0 - m2 END)
                  * (CASE WHEN g3 = 1 THEN m3 ELSE 1.0 - m3 END))
                 AS pm,
               (1.0 - p)
                 * ((CASE WHEN g1 = 1 THEN u1 ELSE 1.0 - u1 END)
                  * (CASE WHEN g2 = 1 THEN u2 ELSE 1.0 - u2 END)
                  * (CASE WHEN g3 = 1 THEN u3 ELSE 1.0 - u3 END))
                 AS pu
             FROM pd, pr1)),
         s2 AS (
           SELECT sum(n)::BIGINT AS nn,
             sum(n::HUGEINT * wq) AS sw,
             sum(n::HUGEINT * wq * g1) AS sw1,
             sum(n::HUGEINT * wq * g2) AS sw2,
             sum(n::HUGEINT * wq * g3) AS sw3,
             sum(n::HUGEINT * (1000000000 - wq)) AS su,
             sum(n::HUGEINT * (1000000000 - wq) * g1) AS su1,
             sum(n::HUGEINT * (1000000000 - wq) * g2) AS su2,
             sum(n::HUGEINT * (1000000000 - wq) * g3) AS su3
           FROM w2)
         SELECT nn AS n_pairs,
           floor(sw::DOUBLE / (nn::DOUBLE * 1e9) * 1e6 + 0.5) / 1e6
             AS p_match,
           floor(sw1::DOUBLE / sw::DOUBLE * 1e6 + 0.5) / 1e6 AS m_brand,
           floor(sw2::DOUBLE / sw::DOUBLE * 1e6 + 0.5) / 1e6 AS m_type,
           floor(sw3::DOUBLE / sw::DOUBLE * 1e6 + 0.5) / 1e6 AS m_adj,
           floor(su1::DOUBLE / su::DOUBLE * 1e6 + 0.5) / 1e6 AS u_brand,
           floor(su2::DOUBLE / su::DOUBLE * 1e6 + 0.5) / 1e6 AS u_type,
           floor(su3::DOUBLE / su::DOUBLE * 1e6 + 0.5) / 1e6 AS u_adj
         FROM s2""",
    // fold-split sufficient stats in ONE scan; encodings are fixed
    // double chains over exact DECIMAL sums
    "target_encode" ->
      """WITH j AS (
           SELECT c_mktsegment AS segment,
             CAST(floor(o_totalprice * 1e6 + 0.5) AS BIGINT) AS y,
             CASE WHEN ((o_orderkey % 2147483648) * 8388593) % 100 < 50
               THEN 1 ELSE 0 END AS inA
           FROM orders JOIN customer ON o_custkey = c_custkey),
         bs AS (SELECT segment,
             sum(inA)::BIGINT AS na, sum(1 - inA)::BIGINT AS nb,
             sum(CASE WHEN inA = 1 THEN y ELSE 0 END)::HUGEINT AS sa,
             sum(CASE WHEN inA = 0 THEN y ELSE 0 END)::HUGEINT AS sb
           FROM j GROUP BY 1),
         tot AS (SELECT sum(na + nb)::BIGINT AS n_all,
                   sum(sa + sb)::HUGEINT AS s_all FROM bs),
         w AS (SELECT bs.*, n_all, s_all,
                 s_all::DOUBLE / 1e6 / n_all::DOUBLE AS prior
               FROM bs, tot)
         SELECT segment, (na + nb)::BIGINT AS n,
           floor((sa + sb)::DOUBLE / 1e6 / (na + nb)::DOUBLE
             * 1e6 + 0.5) / 1e6 AS mean_raw,
           floor(((sa + sb)::DOUBLE / 1e6 + 20.0 * prior)
             / ((na + nb)::DOUBLE + 20.0) * 1e6 + 0.5) / 1e6
             AS enc_full,
           floor((sa::DOUBLE / 1e6 + 20.0 * prior)
             / (na::DOUBLE + 20.0) * 1e6 + 0.5) / 1e6 AS enc_fold_a,
           floor((sb::DOUBLE / 1e6 + 20.0 * prior)
             / (nb::DOUBLE + 20.0) * 1e6 + 0.5) / 1e6 AS enc_fold_b,
           floor(abs((sa::DOUBLE / 1e6 + 20.0 * prior)
               / (na::DOUBLE + 20.0)
             - (sb::DOUBLE / 1e6 + 20.0 * prior)
               / (nb::DOUBLE + 20.0)) * 1e6 + 0.5) / 1e6 AS fold_gap
         FROM w ORDER BY segment""",
    // slope signs decided on exact integer numerators (denominators
    // ≥ 0 by Cauchy–Schwarz)
    "simpson_audit" ->
      """WITH li AS (SELECT l_returnflag AS stratum,
             CAST(floor(l_discount * 1e6 + 0.5) AS BIGINT) AS x,
             CAST(floor(l_extendedprice * 1e6 + 0.5) AS BIGINT) AS y
           FROM lineitem),
         g AS (SELECT stratum, count(*)::BIGINT AS n,
                 sum(x)::HUGEINT AS sx, sum(y)::HUGEINT AS sy,
                 sum(x::HUGEINT * x) AS sxx, sum(x::HUGEINT * y) AS sxy
               FROM li GROUP BY 1),
         p AS (SELECT sum(n)::HUGEINT AS pn, sum(sx)::HUGEINT AS psx,
                 sum(sy)::HUGEINT AS psy, sum(sxx)::HUGEINT AS psxx,
                 sum(sxy)::HUGEINT AS psxy FROM g)
         SELECT stratum, n,
           floor((n::HUGEINT * sxy - sx * sy)::DOUBLE
             / (n::HUGEINT * sxx - sx * sx)::DOUBLE * 1e6 + 0.5) / 1e6
             AS slope,
           floor((pn * psxy - psx * psy)::DOUBLE
             / (pn * psxx - psx * psx)::DOUBLE * 1e6 + 0.5) / 1e6
             AS pooled_slope,
           (CASE WHEN (n::HUGEINT * sxy - sx * sy) <> 0
                  AND (pn * psxy - psx * psy) <> 0
                  AND (((n::HUGEINT * sxy - sx * sy) < 0) <>
                       ((pn * psxy - psx * psy) < 0))
             THEN 1 ELSE 0 END)::BIGINT AS sign_flip
         FROM g, p ORDER BY stratum""",
    // Murphy decomposition over the calibration binning; per-row and
    // per-bin terms quantized to 1e-9 LONG grids before any sum
    "brier_decomp" -> s"""WITH sc AS (
           SELECT label::BIGINT AS yv, 1.0 / (1.0 + exp(-score)) AS p
           FROM ($sgdApplyOracle)),
         r AS (SELECT yv,
             least(floor(round(p * 10, 5))::INT, 9) AS bin,
             CAST(floor(p * 1e9 + 0.5) AS BIGINT) AS pq,
             CAST(floor((p - yv) * (p - yv) * 1e9 + 0.5) AS BIGINT)
               AS bq
           FROM sc),
         bb AS (SELECT bin, count(*)::BIGINT AS nk,
                  sum(yv)::BIGINT AS posk, sum(pq)::HUGEINT AS spk,
                  sum(bq)::HUGEINT AS sbq
                FROM r GROUP BY 1),
         t AS (SELECT sum(nk)::BIGINT AS n, sum(posk)::BIGINT AS pos,
                 sum(sbq)::HUGEINT AS sbq FROM bb)
         SELECT max(t.n) AS n_rows,
           max(floor(t.sbq::DOUBLE / 1e9 / t.n * 1e6 + 0.5) / 1e6)
             AS brier,
           floor(sum(CAST(floor(nk
               * (posk::DOUBLE / nk - spk::DOUBLE / nk / 1e9)
               * (posk::DOUBLE / nk - spk::DOUBLE / nk / 1e9)
               * 1e9 + 0.5) AS BIGINT))::DOUBLE / 1e9 / max(t.n)
             * 1e6 + 0.5) / 1e6 AS reliability,
           floor(sum(CAST(floor(nk
               * (posk::DOUBLE / nk - t.pos::DOUBLE / t.n)
               * (posk::DOUBLE / nk - t.pos::DOUBLE / t.n)
               * 1e9 + 0.5) AS BIGINT))::DOUBLE / 1e9 / max(t.n)
             * 1e6 + 0.5) / 1e6 AS resolution,
           max(floor(t.pos::DOUBLE / t.n
             * (1.0 - t.pos::DOUBLE / t.n) * 1e6 + 0.5) / 1e6)
             AS uncertainty
         FROM bb, t""",
    // round-5 batch F ------------------------------------------------
    // coarse-bucket join + fine-signature Hamming verify, all integer
    "media_dedup_verify" -> {
      def smp(p: Int, i: Int) =
        s"ascii(substr(text, CAST(floor($i * (length(text) - 1) / $p.0)" +
          s" AS INT) + 1, 1))"
      def pack(p: Int) = (0 until p).map(i =>
        s"(CASE WHEN ${smp(p, i)} < ${smp(p, i + 1)} THEN 1 ELSE 0 END)" +
          s" * ${1L << i}").mkString(" + ")
      s"""WITH m AS (
           SELECT doc_id,
             CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
               ELSE 'video' END AS kind,
             ${pack(8)} AS bucket,
             ${pack(16)} AS sig
           FROM documents WHERE length(text) >= 17)
         SELECT a.kind, count(*)::BIGINT AS candidate_pairs,
           sum(CASE WHEN bit_count(xor(a.sig, b.sig)) <= 2
               THEN 1 ELSE 0 END)::BIGINT AS verified_pairs,
           floor(sum(CASE WHEN bit_count(xor(a.sig, b.sig)) <= 2
               THEN 1 ELSE 0 END)::DOUBLE / count(*) * 1e6 + 0.5) / 1e6
             AS verify_rate
         FROM m a JOIN m b ON a.kind = b.kind AND a.bucket = b.bucket
           AND a.doc_id < b.doc_id
         GROUP BY a.kind ORDER BY a.kind"""
    },
    // supplier-pivoted wedges with the adamic_adar degree cap; C(w,2)
    // identity — no 4-way join
    "butterfly_count" ->
      """WITH e AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sup
                    FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         d AS (SELECT sup, count(*)::BIGINT AS dg FROM e GROUP BY 1),
         ee AS (SELECT e.c, e.sup FROM e JOIN d USING (sup)
                WHERE dg >= 2 AND dg <= 64),
         wdg AS (SELECT a.c AS c1, b.c AS c2, count(*)::BIGINT AS w
                 FROM ee a JOIN ee b ON a.sup = b.sup AND a.c < b.c
                 GROUP BY 1, 2),
         agg AS (SELECT sum(w)::BIGINT AS n_wedges,
                   count(*)::BIGINT AS n_pairs,
                   sum(CASE WHEN w >= 2 THEN 1 ELSE 0 END)::BIGINT
                     AS n_pairs_multi,
                   sum(CAST(w * (w - 1) / 2 AS BIGINT))::BIGINT
                     AS n_butterflies
                 FROM wdg),
         ne AS (SELECT count(*)::BIGINT AS n_edges FROM e)
         SELECT n_edges, n_wedges, n_pairs, n_pairs_multi,
                n_butterflies
         FROM agg, ne""",
    // L = λW two ways: exact session-seconds vs the minute grid
    "littles_law" ->
      """WITH ev AS (SELECT user_id AS u, epoch_ms(ts) // 1000 AS t,
             event_id AS eid FROM events),
         lg AS (SELECT u, t, eid,
             CASE WHEN t - lag(t) OVER w > 1800
                    OR lag(t) OVER w IS NULL THEN 1 ELSE 0 END AS ns
           FROM ev WINDOW w AS (PARTITION BY u ORDER BY t, eid)),
         sd AS (SELECT u, t,
             sum(ns) OVER (PARTITION BY u ORDER BY t, eid
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM lg),
         sess AS (SELECT u, sid, min(t) AS t0, max(t) AS t1
                  FROM sd GROUP BY 1, 2),
         sp AS (SELECT min(t0) AS s0, max(t1) AS s1,
                  count(*)::BIGINT AS n_sessions,
                  sum(t1 - t0)::BIGINT AS sum_dur
                FROM sess),
         oc AS (SELECT sum(t1 // 60 - t0 // 60 + 1)::BIGINT
                  AS occ_minutes FROM sess)
         SELECT n_sessions,
           floor((s1 - s0)::DOUBLE / 3600.0 * 1e6 + 0.5) / 1e6
             AS span_hours,
           floor(n_sessions::DOUBLE / ((s1 - s0)::DOUBLE / 3600.0)
             * 1e6 + 0.5) / 1e6 AS lambda_per_hour,
           floor(sum_dur::DOUBLE / n_sessions / 60.0 * 1e6 + 0.5) / 1e6
             AS w_mean_minutes,
           floor(sum_dur::DOUBLE / (s1 - s0) * 1e6 + 0.5) / 1e6
             AS l_pred,
           floor(occ_minutes::DOUBLE / (s1 // 60 - s0 // 60 + 1)
             * 1e6 + 0.5) / 1e6 AS l_obs_minutes,
           floor(occ_minutes::DOUBLE / (s1 // 60 - s0 // 60 + 1)
             / (sum_dur::DOUBLE / (s1 - s0)) * 1e6 + 0.5) / 1e6
             AS ratio
         FROM sp, oc""",
    // KS sup in scaled integers after one quantized transcendental
    "exp_gap_fit" ->
      """WITH ev AS (SELECT event_type AS ty, epoch_ms(ts) // 1000 AS t,
             event_id AS eid FROM events),
         g0 AS (SELECT ty,
             t - lag(t) OVER (PARTITION BY ty ORDER BY t, eid) AS g
           FROM ev),
         gg AS (SELECT ty, g FROM g0 WHERE g IS NOT NULL),
         st AS (SELECT ty, count(*)::BIGINT AS n, sum(g)::BIGINT AS sg
                FROM gg GROUP BY 1),
         r AS (SELECT gg.ty, n, sg,
             row_number() OVER (PARTITION BY gg.ty ORDER BY g)::BIGINT
               AS i,
             CAST(floor((1.0 - exp(-(n::DOUBLE / sg::DOUBLE * g)))
               * 1e9 + 0.5) AS BIGINT) AS f9
           FROM gg JOIN st ON gg.ty = st.ty),
         dd AS (SELECT ty, n, sg,
             greatest(abs(i * 1000000000 - n * f9),
               abs((i - 1) * 1000000000 - n * f9)) AS d
           FROM r)
         SELECT ty AS event_type, max(n)::BIGINT AS n_gaps,
           floor(max(n)::DOUBLE / max(sg)::DOUBLE * 3600.0 * 1e6 + 0.5)
             / 1e6 AS lambda_per_hour,
           floor(max(d)::DOUBLE / (max(n)::DOUBLE * 1e9) * 1e6 + 0.5)
             / 1e6 AS ks_stat
         FROM dd GROUP BY ty ORDER BY ty""",
    "pq_codebook" -> pqOracleSql(),
    // round-5 batch G ------------------------------------------------
    // SCD2 point-in-time bind: half-open version intervals, custkey-
    // keyed range containment
    "pit_join" ->
      """WITH ch AS (
           SELECT o_custkey AS custkey, o_orderpriority AS priority,
             epoch_ms(o_orderdate) // 1000 AS t_from,
             o_orderkey AS okey,
             lag(o_orderpriority) OVER
               (PARTITION BY o_custkey
                ORDER BY epoch_ms(o_orderdate) // 1000, o_orderkey)
               AS prev
           FROM orders),
         f AS (SELECT custkey, priority, t_from, okey FROM ch
               WHERE prev IS NULL OR prev <> priority),
         dim AS (SELECT custkey, priority, t_from,
             lead(t_from) OVER (PARTITION BY custkey
               ORDER BY t_from, okey) AS t_to
           FROM f),
         facts AS (SELECT l_orderkey,
             epoch_ms(l_shipdate) // 1000 AS ship,
             CAST(floor(l_extendedprice * 1e6 + 0.5) AS BIGINT) AS rev,
             o_custkey AS custkey, o_orderpriority AS order_prio
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
         SELECT dim.priority, count(*)::BIGINT AS n_items,
           floor(sum(rev)::DOUBLE / 1e6 * 1e4 + 0.5) / 1e4 AS revenue,
           sum(CASE WHEN dim.priority <> order_prio THEN 1 ELSE 0 END)
             ::BIGINT AS drifted
         FROM facts JOIN dim ON facts.custkey = dim.custkey
           AND ship >= t_from AND (t_to IS NULL OR ship < t_to)
         GROUP BY dim.priority ORDER BY dim.priority""",
    "perm_importance" -> permImportanceOracleSql(),
    // 1.5-hop structural fingerprints; class-size histogram
    "degree_anonymity" -> s"""WITH $GraphCte,
         deg AS (SELECT src, count(*)::BIGINT AS d
                 FROM edges GROUP BY 1),
         sg AS (SELECT e.src,
             dd.d::VARCHAR || '|' ||
               array_to_string(list_sort(list(nd.d)), ',') AS sig
           FROM edges e
           JOIN deg nd ON e.dst = nd.src
           JOIN deg dd ON e.src = dd.src
           GROUP BY e.src, dd.d),
         cl AS (SELECT sig, count(*)::BIGINT AS cls FROM sg GROUP BY 1)
         SELECT cls AS class_size, count(*)::BIGINT AS n_classes,
           (cls * count(*))::BIGINT AS n_nodes
         FROM cl GROUP BY cls ORDER BY class_size""",
    // round-5 batch L ------------------------------------------------
    // one-cell χ² on exact per-user arm counts
    "ab_srm_check" ->
      """WITH u AS (SELECT user_id,
             max(CASE WHEN ((user_id % 2147483648) * 8388593) % 100 < 50
               THEN 1 ELSE 0 END)::BIGINT AS isA
           FROM events GROUP BY user_id),
         a AS (SELECT sum(isA)::BIGINT AS na,
                 sum(1 - isA)::BIGINT AS nb FROM u)
         SELECT na AS n_a, nb AS n_b,
           floor((na - nb)::DOUBLE * (na - nb)::DOUBLE
             / (na + nb)::DOUBLE * 1e6 + 0.5) / 1e6 AS chi2,
           (CASE WHEN floor((na - nb)::DOUBLE * (na - nb)::DOUBLE
               / (na + nb)::DOUBLE * 1e6 + 0.5) / 1e6 > 3.841
             THEN 1 ELSE 0 END)::BIGINT AS srm_flag
         FROM a""",
    // S and tie-corrected Var(S)·18 exact; one double chain for z
    "mann_kendall" ->
      """WITH d0 AS (SELECT epoch_ms(ts) // 1000 // 86400 AS day,
             count(*)::BIGINT AS y FROM events GROUP BY 1),
         sp AS (SELECT sum(CASE WHEN b.y > a.y THEN 1
                   WHEN b.y < a.y THEN -1 ELSE 0 END)::BIGINT AS s,
                 count(*)::BIGINT AS n_pairs
               FROM d0 a JOIN d0 b ON a.day < b.day),
         nn AS (SELECT count(*)::BIGINT AS n FROM d0),
         ti AS (SELECT coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)
                  ::BIGINT AS tsum
                FROM (SELECT count(*)::BIGINT AS t FROM d0 GROUP BY y)
                WHERE t > 1),
         f AS (SELECT n, s,
             CASE WHEN s > 0 THEN s - 1
                  WHEN s < 0 THEN s + 1 ELSE 0 END AS sadj,
             (n * (n - 1) * (2 * n + 5) - tsum)::BIGINT AS var18
           FROM sp, nn, ti)
         SELECT n, s,
           CASE WHEN var18 > 0 THEN floor(sadj::DOUBLE /
               sqrt(var18::DOUBLE / 18.0) * 1e6 + 0.5) / 1e6
             ELSE 0.0 END AS z,
           (CASE WHEN abs(CASE WHEN var18 > 0 THEN floor(sadj::DOUBLE /
               sqrt(var18::DOUBLE / 18.0) * 1e6 + 0.5) / 1e6
               ELSE 0.0 END) > 1.959964
             THEN 1 ELSE 0 END)::BIGINT AS trend_flag
         FROM f""",
    // round-5 batch K ------------------------------------------------
    // Dirichlet query likelihood: 1e-9-grid ln scores, rank window
    // decided on quantized integers
    "lm_dirichlet_topk" -> s"""$TokCte,
         p AS (SELECT term, doc_id, count(*)::BIGINT AS tf
               FROM (SELECT doc_id, unnest(ts) AS term FROM toks)
               GROUP BY 1, 2),
         lens AS (SELECT doc_id, len(ts)::BIGINT AS dl FROM toks),
         ctf AS (SELECT term, sum(tf)::BIGINT AS ctf FROM p GROUP BY 1),
         coll AS (SELECT sum(dl)::BIGINT AS clen FROM lens),
         sc AS (SELECT p.term, p.doc_id,
             CAST(floor(ln((tf::DOUBLE + 2000.0 * (ctf::DOUBLE / clen))
               / (dl::DOUBLE + 2000.0)) * 1e9 + 0.5) AS BIGINT) AS s9
           FROM p JOIN ctf USING (term) JOIN lens USING (doc_id), coll)
         SELECT term, doc_id,
           floor(s9::DOUBLE / 1e9 * 1e6 + 0.5) / 1e6 AS score
         FROM (SELECT term, doc_id, s9, row_number() OVER
                 (PARTITION BY term ORDER BY s9 DESC, doc_id) AS rnk
               FROM sc)
         WHERE rnk <= 10""",
    // softplus identity keeps the NLL overflow-free; per-(row, T)
    // 1e-9 grid; argmin on exact integers
    "temperature_scaling" -> s"""WITH sc AS (
           SELECT label::BIGINT AS y, score AS z
           FROM ($sgdApplyOracle)),
         g AS (SELECT unnest(range(1, 17))::DOUBLE * 0.25 AS t),
         r AS (SELECT t, CAST(floor((greatest(z / t, 0.0)
               + ln(1.0 + exp(-abs(z / t))) - y * (z / t)) * 1e9 + 0.5)
               AS BIGINT) AS term9
           FROM sc, g),
         bt AS (SELECT t, count(*)::BIGINT AS n,
                  sum(term9)::BIGINT AS nll9
                FROM r GROUP BY t),
         best AS (SELECT t AS btv FROM bt ORDER BY nll9, t LIMIT 1)
         SELECT t, floor(nll9::DOUBLE / 1e9 / n * 1e6 + 0.5) / 1e6
             AS nll,
           (CASE WHEN t = btv THEN 1 ELSE 0 END)::BIGINT AS is_best
         FROM bt, best ORDER BY t""",
    // Neyman ∝ N_h·σ_h; design effect from 1e-6-grid weight sums
    "neyman_allocation" ->
      """WITH st AS (SELECT event_type, count(*)::BIGINT AS nh,
             sum(vi)::HUGEINT AS sv, sum(vi::HUGEINT * vi) AS sv2
           FROM (SELECT event_type,
                   CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vi
                 FROM events WHERE value IS NOT NULL)
           GROUP BY 1),
         w AS (SELECT event_type, nh,
             sqrt((sv2::DOUBLE - sv::DOUBLE * sv::DOUBLE / nh) / nh)
               / 1e6 AS sd
           FROM st),
         w2 AS (SELECT *,
             CAST(floor(nh * sd * 1e6 + 0.5) AS BIGINT) AS w6,
             CAST(floor(nh * sd * sd * 1e6 + 0.5) AS BIGINT) AS vv6
           FROM w),
         t AS (SELECT sum(nh)::BIGINT AS nn, sum(w6)::BIGINT AS sw6,
                 sum(vv6)::BIGINT AS svv6 FROM w2)
         SELECT event_type, nh AS n_rows,
           floor(sd * 1e6 + 0.5) / 1e6 AS sd,
           CAST(floor(1000.0 * w6 / sw6 + 0.5) AS BIGINT) AS n_neyman,
           CAST(floor(1000.0 * nh / nn + 0.5) AS BIGINT)
             AS n_proportional,
           floor(nn::DOUBLE * svv6 /
             (sw6::DOUBLE / 1e3 * (sw6::DOUBLE / 1e3)) * 1e6 + 0.5)
             / 1e6 AS design_effect
         FROM w2, t ORDER BY event_type""",
    // Warner RR with the deterministic hash coin; π̂ = (λ̂−p)/(1−2p)
    "randomized_response" ->
      """WITH ev AS (SELECT
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS b,
             CASE WHEN ((event_id % 2147483648) * 8388593) % 100 < 25
               THEN 1 ELSE 0 END AS flip
           FROM events),
         a AS (SELECT count(*)::BIGINT AS n, sum(b)::BIGINT AS nb,
                 sum(b + flip - 2 * b * flip)::BIGINT AS nr FROM ev)
         SELECT n,
           floor(nb::DOUBLE / n * 1e6 + 0.5) / 1e6 AS true_rate,
           floor(nr::DOUBLE / n * 1e6 + 0.5) / 1e6 AS reported_rate,
           floor((nr::DOUBLE / n - 0.25) / 0.5 * 1e6 + 0.5) / 1e6
             AS debiased_rate,
           floor(abs((nr::DOUBLE / n - 0.25) / 0.5 - nb::DOUBLE / n)
             * 1e6 + 0.5) / 1e6 AS abs_error,
           floor(ln(3.0) * 1e6 + 0.5) / 1e6 AS epsilon
         FROM a""",
    // round-5 batch J ------------------------------------------------
    "bradley_terry" -> bradleyTerryOracleSql,
    // z-normalized 7-day windows on the 1e-6 grid; exact LONG
    // distances; matrix-profile trivial-match exclusion
    "ts_motif" ->
      """WITH d0 AS (SELECT epoch_ms(ts) // 1000 // 86400 AS day,
             count(*)::BIGINT AS y FROM events GROUP BY 1),
         b AS (SELECT min(day) AS dd0, max(day) AS dd1 FROM d0),
         sp AS (SELECT unnest(range(dd0, dd1 + 1)) AS day FROM b),
         daily AS (SELECT day, coalesce(y, 0)::BIGINT AS y
                   FROM sp LEFT JOIN d0 USING (day)),
         wn AS (SELECT day - o AS st, o, y
                FROM daily, (SELECT unnest(range(0, 7)) AS o) os),
         wa AS (SELECT st, count(*)::BIGINT AS nw,
                  sum(y)::BIGINT AS sy, sum(y * y)::BIGINT AS syy,
                  list(y ORDER BY o) AS vs
                FROM wn GROUP BY st HAVING count(*) = 7),
         z AS (SELECT st,
             CASE WHEN syy * 7 = sy * sy
               THEN list_transform(vs, v -> 0::BIGINT)
               ELSE list_transform(vs, v -> CAST(floor(
                 (v - sy::DOUBLE / 7.0) /
                 sqrt((syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / 7.0)
                   / 7.0) * 1e6 + 0.5) AS BIGINT)) END AS z
           FROM wa),
         pd AS (SELECT a.st AS ia, b.st AS ib,
             list_reduce(list_prepend(0::BIGINT,
               list_transform(range(1, 8),
                 i -> (a.z[i] - b.z[i]) * (a.z[i] - b.z[i]))),
               (x, y) -> x + y) AS d2
           FROM z a JOIN z b ON abs(a.st - b.st) >= 4),
         mot AS (SELECT ia AS motif_i, ib AS motif_j,
             floor(d2::DOUBLE / 1e12 * 1e6 + 0.5) / 1e6 AS motif_dist
           FROM pd WHERE ia < ib ORDER BY d2, ia, ib LIMIT 1),
         nn AS (SELECT ia, d2, ib FROM (
             SELECT ia, d2, ib, row_number() OVER (PARTITION BY ia
               ORDER BY d2, ib) AS rn FROM pd)
           WHERE rn = 1),
         dis AS (SELECT ia AS discord_i, ib AS discord_nn,
             floor(d2::DOUBLE / 1e12 * 1e6 + 0.5) / 1e6
               AS discord_dist
           FROM nn ORDER BY d2 DESC, ia LIMIT 1)
         SELECT motif_i, motif_j, motif_dist,
                discord_i, discord_nn, discord_dist
         FROM mot, dis""",
    // the observe() path must agree with the direct restatement
    "observe_metrics" ->
      """SELECT count(*)::BIGINT AS n_rows,
           sum((value IS NULL)::INT)::BIGINT AS null_values,
           sum(((props->>'k') IS NULL)::INT)::BIGINT AS bad_props,
           sum((value < 0)::INT)::BIGINT AS neg_values,
           max(event_id)::BIGINT AS max_event_id
         FROM events""",
    // round-5 batch I ------------------------------------------------
    // HW additive seasonal: the HoltCte recursion carrying a 7-slot
    // seasonal LIST; γ-learned from zero (no first-week seeding)
    "hw_forecast" ->
      s"""WITH RECURSIVE daily AS MATERIALIZED (
           SELECT date_diff('day', DATE '2024-01-01', ts::DATE) AS day,
                  sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT))::DOUBLE
                    / 1e6 AS x
           FROM events GROUP BY 1),
         ord AS MATERIALIZED (
           SELECT day, x, row_number() OVER (ORDER BY day) AS rn
           FROM daily),
         r AS (
           SELECT day, x, rn, x AS level, 0.0::DOUBLE AS trend,
                  x AS fitted,
                  list_transform(range(0, 7), i -> 0.0::DOUBLE) AS seas
           FROM ord WHERE rn = 1
           UNION ALL
           SELECT o.day, o.x, o.rn,
             CASE WHEN o.rn = 2 THEN o.x
                  ELSE 0.3 * (o.x - r.seas[(o.day % 7) + 1])
                    + (1 - 0.3) * (r.level + r.trend) END,
             CASE WHEN o.rn = 2 THEN o.x - r.x
                  ELSE 0.1 * ((0.3 * (o.x - r.seas[(o.day % 7) + 1])
                      + (1 - 0.3) * (r.level + r.trend)) - r.level)
                    + (1 - 0.1) * r.trend END,
             CASE WHEN o.rn = 2 THEN r.level
                  ELSE r.level + r.trend
                    + r.seas[(o.day % 7) + 1] END,
             CASE WHEN o.rn = 2 THEN r.seas
                  ELSE list_transform(range(0, 7), i ->
                    CASE WHEN i = o.day % 7
                      THEN 0.2 * (o.x -
                          (0.3 * (o.x - r.seas[(o.day % 7) + 1])
                            + (1 - 0.3) * (r.level + r.trend)))
                        + (1 - 0.2) * r.seas[(o.day % 7) + 1]
                      ELSE r.seas[i + 1] END) END
           FROM ord o JOIN r ON o.rn = r.rn + 1),
         last AS (SELECT * FROM r ORDER BY rn DESC LIMIT 1),
         fc AS (
           SELECT (l.day + h.h)::BIGINT AS day, h.h::BIGINT AS horizon,
                  NULL::DOUBLE AS actual,
                  floor((l.level + h.h * l.trend
                    + l.seas[((l.day + h.h) % 7) + 1]) * 1e6 + 0.5)
                    / 1e6 AS fitted
           FROM last l CROSS JOIN (SELECT unnest(range(1, 8)) AS h) h)
         SELECT day::BIGINT AS day, 0::BIGINT AS horizon,
                floor(x * 1e6 + 0.5) / 1e6 AS actual,
                floor(fitted * 1e6 + 0.5) / 1e6 AS fitted
         FROM r
         UNION ALL SELECT day, horizon, actual, fitted FROM fc
         ORDER BY day, horizon""",
    // OBF boundaries vs cumulative Welch z at the time quartiles
    "obf_sequential" ->
      """WITH ev AS (SELECT epoch_ms(ts) // 1000 AS t,
             CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vi,
             CASE WHEN ((user_id % 2147483648) * 8388593) % 100 < 50
               THEN 1 ELSE 0 END AS isA
           FROM events WHERE value IS NOT NULL),
         bd AS (SELECT min(t) AS t0, max(t) AS t1 FROM ev),
         qq AS (SELECT least(CAST(floor((t - t0)::DOUBLE /
               ((t1 - t0 + 1)::DOUBLE / 4)) AS BIGINT) + 1, 4) AS k,
             vi, isA
           FROM ev, bd),
         g AS (SELECT k, sum(isA)::BIGINT AS ka,
             sum(1 - isA)::BIGINT AS kb,
             sum(CASE WHEN isA = 1 THEN vi ELSE 0 END)::HUGEINT AS sa,
             sum(CASE WHEN isA = 0 THEN vi ELSE 0 END)::HUGEINT AS sb,
             sum(CASE WHEN isA = 1 THEN vi::HUGEINT * vi ELSE 0 END)
               AS sa2,
             sum(CASE WHEN isA = 0 THEN vi::HUGEINT * vi ELSE 0 END)
               AS sb2
           FROM qq GROUP BY k),
         c AS (SELECT k,
             sum(ka) OVER w AS na, sum(kb) OVER w AS nb,
             sum(sa) OVER w AS csa, sum(sb) OVER w AS csb,
             sum(sa2) OVER w AS csa2, sum(sb2) OVER w AS csb2
           FROM g WINDOW w AS (ORDER BY k ROWS UNBOUNDED PRECEDING)),
         f AS (SELECT k, na, nb,
             CAST(csa // na AS BIGINT) - CAST(csb // nb AS BIGINT)
               AS d6,
             CAST((na::HUGEINT * csa2 - csa * csa)
                 // (na::HUGEINT * na * (na - 1)) AS BIGINT)
               + CAST((nb::HUGEINT * csb2 - csb * csb)
                 // (nb::HUGEINT * nb * (nb - 1)) AS BIGINT) AS vp12
           FROM c),
         zz AS (SELECT k, na, nb, d6, vp12,
             CASE WHEN vp12 > 0
               THEN floor(d6::DOUBLE / sqrt(vp12::DOUBLE) * 1e6 + 0.5)
                 / 1e6
               ELSE 0.0 END AS z,
             floor(2.024 * sqrt(4.0 / k::DOUBLE) * 1e6 + 0.5) / 1e6
               AS boundary
           FROM f)
         SELECT k AS look, na::BIGINT AS n_a, nb::BIGINT AS n_b,
           d6, vp12, z, boundary,
           (CASE WHEN vp12 > 0 AND
               d6::HUGEINT * d6 * k * 1000000 >=
               4096576::HUGEINT * 4 * vp12
             THEN 1 ELSE 0 END)::BIGINT AS crossed
         FROM zz ORDER BY look""",
    // bounded Bellman–Ford; exact-integer path costs make min()
    // engine-order-free
    "weighted_sssp" -> {
      val rounds = (1 to 6).map { i =>
        val prev = s"d${i - 1}"
        s"""d$i AS (SELECT node, min(dist)::BIGINT AS dist FROM (
             SELECT node, dist FROM $prev
             UNION ALL
             SELECT e.dst AS node, d.dist + e.w AS dist
             FROM $prev d JOIN edges e ON d.node = e.src)
           GROUP BY node)"""
      }.mkString(",\n         ")
      s"""WITH cnt AS (
           SELECT o_custkey AS c, l_suppkey + 1000000 AS sup,
             count(*)::BIGINT AS cnt
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           GROUP BY 1, 2),
         mx AS (SELECT max(cnt)::BIGINT AS mc FROM cnt),
         ew AS (SELECT c, sup,
             CAST(floor(ln(mc::DOUBLE / cnt) * 1e9 + 0.5) AS BIGINT)
               AS w
           FROM cnt, mx),
         edges AS MATERIALIZED (
           SELECT c AS src, sup AS dst, w FROM ew
           UNION ALL SELECT sup, c, w FROM ew),
         d0 AS (SELECT 1::BIGINT AS node, 0::BIGINT AS dist),
         $rounds
         SELECT node, dist AS dist9,
           floor(dist::DOUBLE / 1e9 * 1e6 + 0.5) / 1e6 AS dist
         FROM d6 ORDER BY dist9, node LIMIT 50"""
    },
    // round-5 batch H ------------------------------------------------
    // hypergeometric O−E per death time, 1e-9-grid E and V sums
    "logrank_test" ->
      """WITH pu AS (
           SELECT user_id, min(ts)::DATE AS d0,
             min(CASE WHEN event_type = 'purchase' THEN ts END)::DATE
               AS dconv
           FROM events GROUP BY user_id),
         hz AS (SELECT max(ts)::DATE AS dmax FROM events),
         durs AS (
           SELECT CASE WHEN dconv IS NOT NULL
                    THEN date_diff('day', d0, dconv)
                    ELSE date_diff('day', d0, dmax) END AS t,
             CASE WHEN dconv IS NOT NULL THEN 1 ELSE 0 END AS event,
             CASE WHEN ((user_id % 2147483648) * 8388593) % 100 < 50
               THEN 1 ELSE 0 END AS isA
           FROM pu CROSS JOIN hz),
         byt AS (
           SELECT t, sum(event * isA)::BIGINT AS d1,
             sum(event * (1 - isA))::BIGINT AS d2,
             sum(isA)::BIGINT AS k1, sum(1 - isA)::BIGINT AS k2
           FROM durs GROUP BY t),
         tt AS (SELECT sum(k1)::BIGINT AS na, sum(k2)::BIGINT AS nb
                FROM byt),
         r AS (
           SELECT t, d1, d2, na, nb,
             na - coalesce(sum(k1) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n1,
             nb - coalesce(sum(k2) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n2
           FROM byt CROSS JOIN tt),
         f AS (
           SELECT *, n1 + n2 AS n, d1 + d2 AS d FROM r
           WHERE d1 + d2 > 0 AND n1 + n2 > 1),
         g AS (
           SELECT na, nb, d1,
             CAST(floor(d::DOUBLE * n1 / n * 1e9 + 0.5) AS BIGINT)
               AS e19,
             CAST(floor(d::DOUBLE * n1 * n2 * (n - d)
               / (n::DOUBLE * n * (n - 1)) * 1e9 + 0.5) AS BIGINT)
               AS v9
           FROM f),
         a AS (SELECT max(na)::BIGINT AS n_a, max(nb)::BIGINT AS n_b,
                 sum(d1)::BIGINT AS obs_a, sum(e19)::BIGINT AS e9,
                 sum(v9)::BIGINT AS vv9
               FROM g)
         SELECT n_a, n_b, obs_a,
           floor(e9::DOUBLE / 1e9 * 1e6 + 0.5) / 1e6 AS expected_a,
           CASE WHEN vv9 > 0 THEN
             floor((obs_a::DOUBLE - e9::DOUBLE / 1e9)
               * (obs_a::DOUBLE - e9::DOUBLE / 1e9)
               / (vv9::DOUBLE / 1e9) * 1e6 + 0.5) / 1e6
             ELSE 0.0 END AS chi2
         FROM a""",
    // z-scored marker-term frequencies on exact grids; zero-variance
    // exclusion decided in DECIMAL
    "burrows_delta" ->
      """WITH tok AS (
           SELECT source,
             unnest(list_filter(list_transform(
               string_split_regex(lower(text), '\s+'),
               t -> regexp_replace(t, '(^[^a-z]+|[^a-z]+$)', '', 'g')),
               t -> len(t) > 0)) AS term
           FROM documents),
         tc AS (SELECT source, term, count(*)::BIGINT AS c
                FROM tok GROUP BY 1, 2),
         topk AS (SELECT term FROM (
             SELECT term, sum(c)::BIGINT AS ct FROM tc GROUP BY term)
           ORDER BY ct DESC, term LIMIT 30),
         ps AS (SELECT source, sum(c)::BIGINT AS ns FROM tc GROUP BY 1),
         ns AS (SELECT count(*)::BIGINT AS s FROM ps),
         grid AS (
           SELECT ps.source, topk.term,
             CAST(floor(coalesce(tc.c, 0)::DOUBLE / ps.ns * 1e9 + 0.5)
               AS BIGINT) AS f9
           FROM ps CROSS JOIN topk
           LEFT JOIN tc ON tc.source = ps.source
             AND tc.term = topk.term),
         mo AS (SELECT term, sum(f9)::BIGINT AS sf,
                  sum(f9::HUGEINT * f9) AS sf2
                FROM grid GROUP BY term),
         z AS (
           SELECT g.source, g.term,
             (g.f9 - mo.sf::DOUBLE / s) /
               sqrt((mo.sf2::DOUBLE - mo.sf::DOUBLE * mo.sf::DOUBLE / s)
                 / s) AS z
           FROM grid g JOIN mo USING (term) CROSS JOIN ns
           WHERE mo.sf2 * s > mo.sf::HUGEINT * mo.sf),
         pr AS (
           SELECT a.source AS source_a, b.source AS source_b,
             CAST(floor(abs(a.z - b.z) * 1e9 + 0.5) AS BIGINT) AS dz9
           FROM z a JOIN z b ON a.term = b.term
             AND a.source < b.source)
         SELECT source_a, source_b, count(*)::BIGINT AS n_terms,
           floor(sum(dz9)::DOUBLE / 1e9 / count(*) * 1e6 + 0.5) / 1e6
             AS delta
         FROM pr GROUP BY 1, 2 ORDER BY source_a, source_b""",
    // AA-scored pre wedges vs post-period ground truth; Mann–Whitney
    // midrank AUC over the exact-integer score table
    "link_pred_eval" ->
      """WITH o AS (SELECT o_orderkey, o_custkey,
             epoch_ms(o_orderdate) // 1000 AS t FROM orders),
         b AS (SELECT min(t) AS t0, max(t) AS t1 FROM o),
         tg AS (SELECT o_custkey AS c, l_suppkey AS sup,
             CASE WHEN t <= CAST(floor((t0 + t1) / 2.0) AS BIGINT)
               THEN 1 ELSE 0 END AS isPre
           FROM lineitem JOIN o ON l_orderkey = o_orderkey, b),
         e AS (SELECT c, sup, max(isPre)::BIGINT AS inPre,
             max(1 - isPre)::BIGINT AS inPost
           FROM tg GROUP BY 1, 2),
         preDeg AS (SELECT sup, count(*)::BIGINT AS d FROM e
                    WHERE inPre = 1 GROUP BY 1
                    HAVING count(*) >= 2 AND count(*) <= 64),
         preE AS (SELECT e.c, e.sup,
             CAST(floor(1e9 / ln(d::DOUBLE) + 0.5) AS BIGINT) AS aa9
           FROM e JOIN preDeg USING (sup) WHERE inPre = 1),
         sc AS (SELECT a.c AS c1, b.c AS c2,
             sum(a.aa9)::BIGINT AS score9
           FROM preE a JOIN preE b ON a.sup = b.sup AND a.c < b.c
           GROUP BY 1, 2),
         postDeg AS (SELECT sup, count(*)::BIGINT AS d FROM e
                     WHERE inPost = 1 GROUP BY 1
                     HAVING count(*) >= 2 AND count(*) <= 64),
         postE AS (SELECT e.c, e.sup FROM e JOIN postDeg USING (sup)
                   WHERE inPost = 1),
         pp AS (SELECT DISTINCT a.c AS c1, b.c AS c2
                FROM postE a JOIN postE b
                  ON a.sup = b.sup AND a.c < b.c),
         lab AS (
           SELECT sc.score9::DOUBLE AS sv,
             CASE WHEN pp.c1 IS NOT NULL THEN 1 ELSE 0 END AS y
           FROM sc LEFT JOIN pp USING (c1, c2)),
         cnt AS (SELECT count(*)::BIGINT AS n_candidates,
                   sum(y)::BIGINT AS n_pos FROM lab),
         g AS (SELECT sv, sum(y) AS p, sum(1 - y) AS n
               FROM lab GROUP BY sv),
         cw AS (SELECT sv, p, n,
                  coalesce(sum(n) OVER (ORDER BY sv
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS cumn
                FROM g),
         au AS (SELECT round(sum(p * (cumn + n / 2.0))
                  / (sum(p) * sum(n)), 6) AS auc
                FROM cw)
         SELECT n_candidates, n_pos, auc FROM cnt, au""",
    // erasure cascade sizing down the FK chain
    "deletion_impact" ->
      """WITH coh AS (SELECT c_custkey FROM customer
             WHERE ((c_custkey % 2147483648) * 8388593) % 100 < 5),
         ords AS (SELECT o_orderkey FROM orders
                  WHERE o_custkey IN (SELECT c_custkey FROM coh)),
         li AS (SELECT l_orderkey,
                  CAST(floor(l_extendedprice * 1e6 + 0.5) AS BIGINT)
                    AS rev
                FROM lineitem),
         aff AS (SELECT count(*)::BIGINT AS n_lineitems,
                   sum(rev)::HUGEINT AS rev_del
                 FROM li WHERE l_orderkey IN
                   (SELECT o_orderkey FROM ords)),
         tot AS (SELECT count(*)::BIGINT AS n_li_total,
                   sum(rev)::HUGEINT AS rev_total FROM li),
         nc AS (SELECT count(*)::BIGINT AS n_cust FROM customer),
         ncoh AS (SELECT count(*)::BIGINT AS n_customers FROM coh),
         no AS (SELECT count(*)::BIGINT AS n_orders FROM ords)
         SELECT n_customers, n_cust AS n_customers_total, n_orders,
           n_lineitems,
           floor(rev_del::DOUBLE / rev_total::DOUBLE * 1e6 + 0.5) / 1e6
             AS revenue_share
         FROM ncoh, nc, no, aff, tot""",
    // the IDENTICAL lateral SQL shape DuckDB executes as its own
    // dependent join — total-ordered cut, so row sets match bitwise
    "lateral_join_topk" ->
      """SELECT o_orderkey, o_totalprice, l.l_linenumber,
           l.l_extendedprice
         FROM orders,
           LATERAL (SELECT l_linenumber, l_extendedprice
                    FROM lineitem
                    WHERE l_orderkey = o_orderkey
                    ORDER BY l_extendedprice DESC, l_linenumber
                    LIMIT 2) AS l
         WHERE o_orderdate >= timestamp'1996-03-01 00:00:00'
           AND o_orderdate <  timestamp'1996-04-01 00:00:00'""",
    // per-source JSD to the corpus: mixture ratios collapse to exact
    // integer ratios 2aB/(aB+bA); ln on the 1e-9 LONG grid weighted by
    // the exact a (resp. b); two final divisions (mirrors
    // TextStats.jensenShannon)
    "jensen_shannon" ->
      """WITH tok AS (
           SELECT source,
             unnest(list_filter(list_transform(
               string_split_regex(lower(text), '\s+'),
               t -> regexp_replace(t, '(^[^a-z]+|[^a-z]+$)', '', 'g')),
               t -> len(t) > 0)) AS t
           FROM documents),
         st AS MATERIALIZED (
           SELECT source, t, count(*)::BIGINT AS c_st
           FROM tok GROUP BY 1, 2),
         corpus AS (SELECT t, sum(c_st)::BIGINT AS c_t
                    FROM st GROUP BY 1),
         tot AS (SELECT sum(c_t)::BIGINT AS n, count(*)::BIGINT AS v
                 FROM corpus),
         ps AS (SELECT source, sum(c_st)::BIGINT AS n_s
                FROM st GROUP BY 1),
         grid AS (
           SELECT p.source, p.n_s, tot.n, tot.v,
             (coalesce(s.c_st, 0) + 1)::BIGINT AS a,
             (c.c_t + 1)::BIGINT AS b,
             (p.n_s + tot.v)::DOUBLE AS ad,
             (tot.n + tot.v)::DOUBLE AS bd
           FROM ps p CROSS JOIN corpus c CROSS JOIN tot
           LEFT JOIN st s ON s.source = p.source AND s.t = c.t),
         terms AS (
           SELECT source, n_s, v, n,
             a * CAST(floor(ln(2.0 * (a::DOUBLE * bd)
                 / (a::DOUBLE * bd + b::DOUBLE * ad)) * 1e9 + 0.5)
               AS BIGINT) AS tp,
             b * CAST(floor(ln(2.0 * (b::DOUBLE * ad)
                 / (a::DOUBLE * bd + b::DOUBLE * ad)) * 1e9 + 0.5)
               AS BIGINT) AS tq
           FROM grid),
         agg AS (SELECT source, max(n_s)::BIGINT AS n_tokens,
                   sum(tp)::BIGINT AS np, sum(tq)::BIGINT AS nq,
                   max(n_s + v)::BIGINT AS aa, max(n + v)::BIGINT AS bb
                 FROM terms GROUP BY source)
         SELECT source, n_tokens,
           floor((np::DOUBLE / aa + nq::DOUBLE / bb) / 2e9 * 1e6 + 0.5)
             / 1e6 AS jsd
         FROM agg ORDER BY source""",
    // frequency-of-frequencies + GT-adjusted counts; r=0 row carries
    // the Turing unseen mass N1/N (mirrors TextStats.goodTuring)
    "good_turing" ->
      """WITH tok AS (
           SELECT unnest(list_filter(list_transform(
               string_split_regex(lower(text), '\s+'),
               t -> regexp_replace(t, '(^[^a-z]+|[^a-z]+$)', '', 'g')),
               t -> len(t) > 0)) AS t
           FROM documents),
         cnt AS (SELECT t, count(*)::BIGINT AS c FROM tok GROUP BY 1),
         fof AS MATERIALIZED (
           SELECT c, count(*)::BIGINT AS n_r FROM cnt GROUP BY 1),
         tot AS (SELECT sum(c)::BIGINT AS n FROM cnt),
         spine AS (SELECT unnest(range(0, 6))::BIGINT AS r)
         SELECT r, coalesce(f1.n_r, 0)::BIGINT AS n_r,
           coalesce(f2.n_r, 0)::BIGINT AS n_r1,
           CASE WHEN r = 0 THEN 0.0
                WHEN coalesce(f1.n_r, 0) > 0 THEN
                  floor((r + 1)::DOUBLE * coalesce(f2.n_r, 0) / f1.n_r
                    * 1e6 + 0.5) / 1e6
                ELSE 0.0 END AS r_star,
           floor((r + 1)::DOUBLE * coalesce(f2.n_r, 0) / n * 1e6 + 0.5)
             / 1e6 AS gt_mass
         FROM spine LEFT JOIN fof f1 ON f1.c = r
         LEFT JOIN fof f2 ON f2.c = r + 1
         CROSS JOIN tot ORDER BY r""",
    // tau-b over the zero-filled daily pair join; C/D/T exact integers,
    // one final double (mirrors Events.kendallTau)
    "kendall_tau" ->
      """WITH ev AS (SELECT event_type,
             epoch_ms(ts) // 1000 // 86400 AS day FROM events),
         da AS (SELECT day, count(*)::BIGINT AS a FROM ev
                WHERE event_type = 'click' GROUP BY 1),
         db AS (SELECT day, count(*)::BIGINT AS b FROM ev
                WHERE event_type = 'purchase' GROUP BY 1),
         j AS MATERIALIZED (
           SELECT coalesce(da.day, db.day) AS day,
             coalesce(a, 0)::BIGINT AS a, coalesce(b, 0)::BIGINT AS b
           FROM da FULL OUTER JOIN db ON da.day = db.day),
         pr AS (SELECT count(*)::BIGINT AS n0,
             sum(CASE WHEN sign(y.a - x.a) * sign(y.b - x.b) = 1
               THEN 1 ELSE 0 END)::BIGINT AS c,
             sum(CASE WHEN sign(y.a - x.a) * sign(y.b - x.b) = -1
               THEN 1 ELSE 0 END)::BIGINT AS d
           FROM j x JOIN j y ON x.day < y.day),
         ta AS (SELECT coalesce(sum(t * (t - 1) // 2), 0)::BIGINT AS t_a
                FROM (SELECT count(*)::BIGINT AS t FROM j GROUP BY a)
                WHERE t > 1),
         tb AS (SELECT coalesce(sum(t * (t - 1) // 2), 0)::BIGINT AS t_b
                FROM (SELECT count(*)::BIGINT AS t FROM j GROUP BY b)
                WHERE t > 1),
         nn AS (SELECT count(*)::BIGINT AS n_days FROM j)
         SELECT n_days, c AS concordant, d AS discordant,
           CASE WHEN n0 > t_a AND n0 > t_b THEN
             floor((c - d)::DOUBLE /
               sqrt((n0 - t_a)::DOUBLE * (n0 - t_b)::DOUBLE)
               * 1e6 + 0.5) / 1e6
           ELSE 0.0 END AS tau_b
         FROM pr, ta, tb, nn""",
    // basket-cosine recommender: rank on the exact integer
    // floor(c_ab^2*1e12/(ca*cb)) so no double compare orders the cut
    // (mirrors Relational.itemCfTopk)
    "item_cf_topk" ->
      """WITH b AS MATERIALIZED (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem),
         supp AS (SELECT pk, count(*)::BIGINT AS c FROM b GROUP BY 1),
         co AS (SELECT x.pk AS pa, y.pk AS pb, count(*)::BIGINT AS c_ab
                FROM b x JOIN b y ON x.ok = y.ok AND x.pk <> y.pk
                GROUP BY 1, 2 HAVING count(*) >= 2),
         sc AS (SELECT pa, pb, c_ab, sa.c AS ca, sb.c AS cb,
                  (c_ab * c_ab * 1000000000000) // (sa.c * sb.c) AS key12
                FROM co JOIN supp sa ON sa.pk = pa
                JOIN supp sb ON sb.pk = pb),
         rk AS (SELECT pa, pb, c_ab, ca, cb,
                  row_number() OVER (PARTITION BY pa
                    ORDER BY key12 DESC, pb) AS rn
                FROM sc)
         SELECT pa AS part, rn::BIGINT AS rank, pb AS rec_part,
           c_ab AS co_count,
           floor(c_ab::DOUBLE / sqrt(ca::DOUBLE * cb::DOUBLE) * 1e6 + 0.5)
             / 1e6 AS cosine
         FROM rk WHERE rn <= 3""",
    // paired discordant counts between the stopword-vote lang-id and
    // the 1/8-share baseline; Edwards-corrected chi2 clamped at 0
    // (mirrors Ml.mcnemarTest)
    "mcnemar_test" -> McnemarSql,
    // MoM beta prior on 1e-9-grid rates; v18 validity decided in
    // HUGEINT; posterior mean per user (mirrors Events.betaBinomialEb)
    "beta_binomial_eb" ->
      """WITH per AS MATERIALIZED (
           SELECT user_id, count(*)::BIGINT AS n,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
               END)::BIGINT AS x
           FROM events GROUP BY 1),
         pr AS (SELECT user_id, n, x,
             CAST(floor(x::DOUBLE / n * 1e9 + 0.5) AS BIGINT) AS r9
           FROM per),
         mo AS (SELECT count(*)::BIGINT AS ku, sum(r9)::BIGINT AS s1,
             sum(r9::HUGEINT * r9) AS s2 FROM pr),
         m0 AS (SELECT ku,
             (ku::HUGEINT * s2 - s1::HUGEINT * s1) AS v18x,
             s1::DOUBLE / ku / 1e9 AS m,
             (ku::HUGEINT * s2 - s1::HUGEINT * s1)::DOUBLE / ku / ku
               / 1e18 AS v
           FROM mo),
         m1 AS (SELECT ku, v18x > 0 AS hasvar,
             CASE WHEN v18x > 0 THEN m * (1.0 - m) / v - 1.0
               ELSE 0.0 END AS kap,
             CASE WHEN v18x > 0 THEN
               m * (m * (1.0 - m) / v - 1.0) ELSE 0.0 END AS alpha,
             CASE WHEN v18x > 0 THEN
               (1.0 - m) * (m * (1.0 - m) / v - 1.0)
               ELSE 0.0 END AS beta
           FROM m0)
         SELECT user_id, n AS n_events, x AS n_conv,
           floor(x::DOUBLE / n * 1e6 + 0.5) / 1e6 AS raw_rate,
           CASE WHEN hasvar AND kap > 0 THEN
             floor((alpha + x) / (alpha + beta + n) * 1e6 + 0.5) / 1e6
           ELSE floor(x::DOUBLE / n * 1e6 + 0.5) / 1e6 END AS eb_rate,
           CASE WHEN hasvar AND kap > 0 THEN 1 ELSE 0 END::BIGINT
             AS shrunk
         FROM pr CROSS JOIN m1
         ORDER BY eb_rate DESC, user_id LIMIT 15""",
    // lag-1..3 Pearson r on the 1e-9 LONG grid, Durbin-Levinson
    // unrolled; 1-r1^2 != 0 decided on the exact LONG
    // (mirrors Events.pacfDaily)
    "pacf_daily" ->
      """WITH daily0 AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  count(*)::BIGINT AS y
           FROM events GROUP BY 1),
         spine AS (
           SELECT unnest(range((SELECT min(day) FROM daily0),
                               (SELECT max(day) FROM daily0) + 1)) AS day),
         daily AS (
           SELECT s.day, coalesce(y, 0)::BIGINT AS y
           FROM spine s LEFT JOIN daily0 d ON s.day = d.day),
         lags AS (SELECT unnest(range(1, 4))::INT AS lag),
         pairs AS (
           SELECT l.lag, a.y AS x, b.y AS y
           FROM lags l JOIN daily a ON true
           JOIN daily b ON b.day = a.day + l.lag),
         st AS (
           SELECT lag, count(*)::BIGINT AS n,
                  sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                  sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy,
                  sum(x * y)::BIGINT AS sxy
           FROM pairs GROUP BY lag),
         rq AS (SELECT lag,
             CAST(floor((n::DOUBLE * sxy - sx::DOUBLE * sy) /
                 (sqrt(n::DOUBLE * sxx - sx::DOUBLE * sx) *
                  sqrt(n::DOUBLE * syy - sy::DOUBLE * sy)) * 1e9 + 0.5)
               AS BIGINT) AS r9
           FROM st),
         one AS (SELECT
             max(CASE WHEN lag = 1 THEN r9 END) AS r91,
             max(CASE WHEN lag = 2 THEN r9 END) AS r92,
             max(CASE WHEN lag = 3 THEN r9 END) AS r93
           FROM rq),
         w1 AS (SELECT r91::DOUBLE / 1e9 AS r1, r92::DOUBLE / 1e9 AS r2,
             r93::DOUBLE / 1e9 AS r3,
             (1000000000000000000 - r91 * r91) <> 0 AS d2ok
           FROM one),
         w2 AS (SELECT r1, r2, r3, d2ok,
             CASE WHEN d2ok THEN (r2 - r1 * r1) / (1.0 - r1 * r1)
               ELSE 0.0 END AS phi22
           FROM w1),
         w3 AS (SELECT r1, r2, r3, phi22,
             CASE WHEN d2ok THEN r1 - phi22 * r1 ELSE r1 END AS phi21,
             CASE WHEN d2ok THEN floor(phi22 * 1e6 + 0.5) / 1e6
               ELSE 0.0 END AS p2q
           FROM w2),
         w4 AS (SELECT r1, r2, r3, p2q, phi21, phi22,
             1.0 - phi21 * r1 - phi22 * r2 AS d3
           FROM w3),
         fin AS (SELECT
             floor(r1 * 1e6 + 0.5) / 1e6 AS acf1,
             floor(r2 * 1e6 + 0.5) / 1e6 AS acf2,
             floor(r3 * 1e6 + 0.5) / 1e6 AS acf3,
             floor(r1 * 1e6 + 0.5) / 1e6 AS p1, p2q AS p2,
             CASE WHEN d3 <> 0.0 THEN
               floor((r3 - phi21 * r2 - phi22 * r1) / d3 * 1e6 + 0.5)
                 / 1e6
             ELSE 0.0 END AS p3
           FROM w4)
         SELECT * FROM (
           SELECT 1::BIGINT AS lag, acf1 AS acf, p1 AS pacf FROM fin
           UNION ALL SELECT 2, acf2, p2 FROM fin
           UNION ALL SELECT 3, acf3, p3 FROM fin)
         ORDER BY lag""",
    // one-way ANOVA (mirrors Events.anovaOneway: 1e-6 value grid,
    // integer grand-mean centering, per-group rational term on the
    // coarse 1e6 grid, all sums exact integer)
    "anova_oneway" ->
      """WITH vi AS (
           SELECT event_type, floor("value" * 1e6 + 0.5)::BIGINT AS vi
           FROM events WHERE "value" IS NOT NULL),
         tot AS (SELECT count(*)::BIGINT AS nn, sum(vi)::HUGEINT AS sv
                 FROM vi),
         c0 AS (SELECT nn, floor(sv::DOUBLE / nn)::BIGINT AS c0 FROM tot),
         d AS (SELECT event_type, nn, vi - c0 AS d FROM vi, c0),
         g AS (SELECT event_type, nn, count(*)::BIGINT AS n,
                 sum(d)::HUGEINT AS sd, sum(d * d)::HUGEINT AS sd2
               FROM d GROUP BY 1, 2),
         a AS (SELECT nn, count(*)::BIGINT AS k,
                 sum(sd)::HUGEINT AS sdt, sum(sd2)::HUGEINT AS sd2t,
                 sum(floor(sd::DOUBLE * sd::DOUBLE / n / 1e6)::BIGINT)
                   ::HUGEINT AS b6
               FROM g GROUP BY 1),
         f AS (SELECT k, nn,
                 b6::DOUBLE * 1e6 -
                   sdt::DOUBLE * sdt::DOUBLE / nn AS ssb,
                 (sd2t::DOUBLE - sdt::DOUBLE * sdt::DOUBLE / nn) -
                   (b6::DOUBLE * 1e6 -
                    sdt::DOUBLE * sdt::DOUBLE / nn) AS ssw
               FROM a)
         SELECT k AS k_groups, nn AS n_total,
           floor(ssb / 1e12 * 1e6 + 0.5) / 1e6 AS ss_between,
           floor(ssw / 1e12 * 1e6 + 0.5) / 1e6 AS ss_within,
           CASE WHEN ssw > 0 AND k > 1 AND nn > k
                THEN floor((ssb / (k - 1)) / (ssw / (nn - k)) * 1e6 + 0.5)
                  / 1e6
                ELSE 0.0 END AS f_stat
         FROM f""",
    // Kruskal-Wallis (mirrors Events.kruskalWallis: exact 2*midrank
    // integers, unit-grid per-group term, integer tie correction)
    "kruskal_wallis" ->
      """WITH vi AS (
           SELECT event_type, floor("value" * 1e6 + 0.5)::BIGINT AS vi
           FROM events WHERE "value" IS NOT NULL),
         hist AS (SELECT vi, count(*)::BIGINT AS t FROM vi GROUP BY 1),
         ranked AS (
           SELECT vi, t,
             coalesce(sum(t) OVER (ORDER BY vi
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0)::BIGINT * 2 + t + 1 AS r2
           FROM hist),
         gv AS (SELECT event_type, vi, count(*)::BIGINT AS tg
                FROM vi GROUP BY 1, 2),
         rg AS (SELECT event_type, sum(tg * r2)::HUGEINT AS r2g,
                  sum(tg)::BIGINT AS n
                FROM gv JOIN ranked USING (vi) GROUP BY 1),
         ties AS (SELECT coalesce(sum(t * t * t - t), 0)::HUGEINT AS tt
                  FROM hist WHERE t > 1),
         a AS (SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS nn,
                 sum(floor(r2g::DOUBLE / 2 * r2g::DOUBLE / 2 / n)
                   ::BIGINT)::HUGEINT AS b1
               FROM rg),
         h AS (SELECT k, nn,
                 12.0 / (nn::DOUBLE * (nn::DOUBLE + 1)) * b1::DOUBLE -
                   3.0 * (nn::DOUBLE + 1) AS h,
                 1.0 - tt::DOUBLE /
                   (nn::DOUBLE * nn::DOUBLE * nn::DOUBLE - nn::DOUBLE)
                   AS corr
               FROM a, ties)
         SELECT k AS k_groups, nn AS n_total,
           floor(h * 1e6 + 0.5) / 1e6 AS h_stat,
           CASE WHEN corr > 0 THEN floor(h / corr * 1e6 + 0.5) / 1e6
                ELSE floor(h * 1e6 + 0.5) / 1e6 END AS h_adj
         FROM h""",
    // Wald-Wolfowitz runs test (mirrors Events.runsTest: zero-change
    // days dropped, run breaks counted on the filtered sign sequence)
    "runs_test" ->
      """WITH daily AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  count(*)::BIGINT AS c
           FROM events GROUP BY 1),
         sg0 AS (SELECT day,
                   sign(c - lag(c) OVER (ORDER BY day))::BIGINT AS sg
                 FROM daily),
         sg AS (SELECT day, sg FROM sg0
                WHERE sg IS NOT NULL AND sg <> 0),
         brk AS (SELECT sg,
                   CASE WHEN sg = lag(sg) OVER (ORDER BY day)
                        THEN 0 ELSE 1 END AS b
                 FROM sg),
         r AS (SELECT sum(b)::BIGINT AS r,
                 sum(CASE WHEN sg = 1 THEN 1 ELSE 0 END)::BIGINT AS n_up,
                 sum(CASE WHEN sg = -1 THEN 1 ELSE 0 END)::BIGINT
                   AS n_down
               FROM brk)
         SELECT n_up, n_down, r AS runs,
           CASE WHEN n_up > 0 AND n_down > 0
                 AND n_up::DOUBLE + n_down::DOUBLE > 1
                 AND 2.0 * n_up::DOUBLE * n_down::DOUBLE *
                     (2.0 * n_up::DOUBLE * n_down::DOUBLE -
                      (n_up::DOUBLE + n_down::DOUBLE)) /
                     ((n_up::DOUBLE + n_down::DOUBLE) *
                      (n_up::DOUBLE + n_down::DOUBLE) *
                      (n_up::DOUBLE + n_down::DOUBLE - 1)) > 0
                THEN floor((r::DOUBLE -
                  (2.0 * n_up::DOUBLE * n_down::DOUBLE /
                   (n_up::DOUBLE + n_down::DOUBLE) + 1)) /
                  sqrt(2.0 * n_up::DOUBLE * n_down::DOUBLE *
                    (2.0 * n_up::DOUBLE * n_down::DOUBLE -
                     (n_up::DOUBLE + n_down::DOUBLE)) /
                    ((n_up::DOUBLE + n_down::DOUBLE) *
                     (n_up::DOUBLE + n_down::DOUBLE) *
                     (n_up::DOUBLE + n_down::DOUBLE - 1))) * 1e6 + 0.5)
                  / 1e6
                ELSE 0.0 END AS z
         FROM r""",
    // Page-Hinkley (mirrors Events.pageHinkley: delta=2.0, lambda=40,
    // deviations on the 1e-9 LONG grid BEFORE the cumulative sum)
    "page_hinkley" ->
      """WITH daily AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  count(*)::BIGINT AS c
           FROM events GROUP BY 1),
         cum AS (SELECT day, c,
                   row_number() OVER (ORDER BY day)::BIGINT AS i,
                   sum(c) OVER (ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS sc
                 FROM daily),
         d9 AS (SELECT day, i,
                  floor((c::DOUBLE - sc::DOUBLE / i - 2.0) * 1e9 + 0.5)
                    ::BIGINT AS d9
                FROM cum),
         p1 AS (SELECT day, i,
                  sum(d9) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    ::BIGINT AS ph9
                FROM d9),
         p2 AS (SELECT i, ph9,
                  min(ph9) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    ::BIGINT AS mn9
                FROM p1)
         SELECT count(*)::BIGINT AS n_days,
           floor(max(ph9 - mn9)::DOUBLE / 1e9 * 1e6 + 0.5) / 1e6
             AS max_excursion,
           coalesce(min(CASE WHEN ph9 - mn9 > 40000000000
                             THEN i END), -1)::BIGINT AS first_alarm_i,
           sum(CASE WHEN ph9 - mn9 > 40000000000 THEN 1 ELSE 0 END)
             ::BIGINT AS alarm_days
         FROM p2""",
    // Cramer's V over the full lang x source grid incl. empty cells
    // (mirrors TextStats.cramersV: per-cell 1e-9 LONG terms)
    "cramers_v" ->
      """WITH cells AS (SELECT lang, source, count(*)::BIGINT AS o
                        FROM documents GROUP BY 1, 2),
         rowm AS (SELECT lang, sum(o)::BIGINT AS nl FROM cells GROUP BY 1),
         colm AS (SELECT source, sum(o)::BIGINT AS nc
                  FROM cells GROUP BY 1),
         n AS (SELECT count(*)::BIGINT AS nn,
                 count(DISTINCT lang)::BIGINT AS r_levels,
                 count(DISTINCT source)::BIGINT AS c_levels
               FROM documents),
         grid AS (SELECT rowm.lang, colm.source, nl, nc,
                    coalesce(o, 0)::BIGINT AS o, nn, r_levels, c_levels
                  FROM rowm CROSS JOIN colm
                  LEFT JOIN cells USING (lang, source) CROSS JOIN n),
         s AS (SELECT nn, r_levels, c_levels,
                 sum(floor((o - nl::DOUBLE * nc / nn) *
                   (o - nl::DOUBLE * nc / nn) /
                   (nl::DOUBLE * nc / nn) * 1e9 + 0.5)::BIGINT)
                   ::HUGEINT AS chi9
               FROM grid GROUP BY 1, 2, 3)
         SELECT nn AS n_docs, r_levels, c_levels,
           floor(chi9::DOUBLE / 1e9 * 1e6 + 0.5) / 1e6 AS chi2,
           floor(sqrt(chi9::DOUBLE / 1e9 /
             (nn * (least(r_levels, c_levels) - 1))) * 1e6 + 0.5) / 1e6
             AS v
         FROM s""",
    // Cohen's kappa between the char-length and token-count raters
    // (mirrors TextStats.cohensKappa: thresholds 300 chars / 55 tokens)
    "cohens_kappa" -> s"""$TokCte,
         r AS (SELECT (n_chars >= 300)::BIGINT AS ra,
                 (len(ts) >= 55)::BIGINT AS rb
               FROM documents JOIN toks USING (doc_id)),
         c AS (SELECT count(*)::BIGINT AS n,
                 sum(ra * rb)::BIGINT AS n11,
                 sum(ra * (1 - rb))::BIGINT AS n10,
                 sum((1 - ra) * rb)::BIGINT AS n01,
                 sum((1 - ra) * (1 - rb))::BIGINT AS n00
               FROM r),
         k AS (SELECT n, n11, n10, n01, n00,
                 (n11 + n00)::DOUBLE / n::DOUBLE AS po,
                 ((n11 + n10)::DOUBLE * (n11 + n01) +
                  (n01 + n00)::DOUBLE * (n10 + n00)) /
                 (n::DOUBLE * n::DOUBLE) AS pe
               FROM c)
         SELECT n AS n_docs, n11, n10, n01, n00,
           floor(po * 1e6 + 0.5) / 1e6 AS p_observed,
           floor(pe * 1e6 + 0.5) / 1e6 AS p_expected,
           CASE WHEN pe < 1.0
                THEN floor((po - pe) / (1.0 - pe) * 1e6 + 0.5) / 1e6
                ELSE 0.0 END AS kappa
         FROM k""",
    // HHI of supplier-nation revenue shares per region (mirrors
    // Relational.herfindahlIndex: exact 1e-4-unit revenue integers,
    // share^2 on the 1e-12 LONG grid)
    "herfindahl_index" ->
      """WITH dims AS (
           SELECT s_suppkey, n_name, r_name
           FROM supplier
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey),
         rev AS (SELECT l_suppkey,
                   floor(l_extendedprice * 100 + 0.5)::BIGINT *
                   (100 - floor(l_discount * 100 + 0.5)::BIGINT) AS rv
                 FROM lineitem),
         bn AS (SELECT r_name, n_name, sum(rv)::HUGEINT AS nrev
                FROM rev JOIN dims ON l_suppkey = s_suppkey
                GROUP BY 1, 2),
         br AS (SELECT r_name, sum(nrev)::HUGEINT AS rrev
                FROM bn GROUP BY 1)
         SELECT bn.r_name AS region, count(*)::BIGINT AS n_nations,
           floor(sum(floor(nrev::DOUBLE / rrev::DOUBLE *
             (nrev::DOUBLE / rrev::DOUBLE) * 1e12 + 0.5)::BIGINT)
             ::DOUBLE / 1e12 * 1e6 + 0.5) / 1e6 AS hhi
         FROM bn JOIN br USING (r_name)
         GROUP BY 1 ORDER BY region""",
    // Lorenz deciles + Gini of per-customer revenue (mirrors
    // Relational.lorenzGini: exact DECIMAL sums, (rev, custkey) order)
    "lorenz_gini" ->
      """WITH rev AS (SELECT l_orderkey,
                   floor(l_extendedprice * 100 + 0.5)::BIGINT *
                   (100 - floor(l_discount * 100 + 0.5)::BIGINT) AS rv
                 FROM lineitem),
         per AS (SELECT o_custkey, sum(rv)::HUGEINT AS x
                 FROM rev JOIN orders ON l_orderkey = o_orderkey
                 GROUP BY 1),
         rk AS (SELECT o_custkey, x,
                  row_number() OVER (ORDER BY x, o_custkey)::BIGINT AS i
                FROM per),
         tot AS (SELECT count(*)::BIGINT AS n, sum(x)::HUGEINT AS sx,
                   sum(x * i)::HUGEINT AS six
                 FROM rk),
         cum AS (SELECT i, x,
                   sum(x) OVER (ORDER BY x, o_custkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     ::HUGEINT AS cumx
                 FROM rk),
         dec AS (SELECT (floor((i - 1) * 10 / n) + 1)::INT AS decile,
                   max(cumx)::HUGEINT AS cumx, n, sx, six
                 FROM cum, tot GROUP BY 1, n, sx, six)
         SELECT decile,
           floor(cumx::DOUBLE / sx::DOUBLE * 1e6 + 0.5) / 1e6
             AS cum_rev_share,
           floor((2.0 * six::DOUBLE - (n + 1)::DOUBLE * sx::DOUBLE) /
             (n::DOUBLE * sx::DOUBLE) * 1e6 + 0.5) / 1e6 AS gini
         FROM dec ORDER BY decile""",
    // Katz centrality: exact integer walk counts, unrolled 6 rounds
    "katz_centrality" -> katzOracleSql(6, 0.05, 20),
    // Monroe log-odds with informative Dirichlet prior (mirrors
    // TextStats.logOddsTerms: a0=500, srcA='src0')
    "log_odds_terms" -> s"""$TokCte,
         tok AS (SELECT d.source, unnest(t.ts) AS tk
                 FROM toks t JOIN documents d USING (doc_id)),
         counts AS (SELECT tk AS term,
                      sum((source = 'src0')::BIGINT)::BIGINT AS ya,
                      sum((source <> 'src0')::BIGINT)::BIGINT AS yb
                    FROM tok GROUP BY 1),
         tots AS (SELECT sum(ya)::BIGINT AS na, sum(yb)::BIGINT AS nb
                  FROM counts),
         sc AS (SELECT term, ya, yb, na, nb,
                  500.0 * (ya + yb) / (na + nb) AS aw
                FROM counts, tots),
         z AS (SELECT term, ya, yb,
                 ln((ya + aw) / (na + 500.0 - ya - aw)) -
                   ln((yb + aw) / (nb + 500.0 - yb - aw)) AS delta,
                 1.0 / (ya + aw) + 1.0 / (yb + aw) AS s2
               FROM sc)
         SELECT term, ya, yb,
           floor(delta * 1e6 + 0.5) / 1e6 AS delta,
           floor(delta / sqrt(s2) * 1e6 + 0.5) / 1e6 AS z
         FROM z ORDER BY z DESC, term LIMIT 15""",
    // average precision of the en-stopword-share ranker (mirrors
    // TextStats.prAuc: 1e-9 share grid, (share, doc_id) total order)
    "pr_auc" -> s"""$TokCte,
         sc AS (SELECT t.doc_id, (d.lang = 'en')::BIGINT AS y,
                  floor(len(list_filter(t.ts, x -> list_contains(
                    ${sqlList(graft.operators.TextStats.Stopwords.head._2)},
                    x)))::DOUBLE * 1e9 / len(t.ts))::BIGINT AS s9
                FROM toks t JOIN documents d USING (doc_id)
                WHERE len(t.ts) > 0),
         rk AS (SELECT doc_id, y, s9,
                  row_number() OVER (ORDER BY s9 DESC, doc_id)::BIGINT
                    AS k,
                  sum(y) OVER (ORDER BY s9 DESC, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    ::BIGINT AS tp
                FROM sc),
         a AS (SELECT count(*)::BIGINT AS n_docs,
                 sum(y)::BIGINT AS n_pos,
                 sum(CASE WHEN y = 1
                     THEN floor(tp::DOUBLE * 1e9 / k + 0.5)::BIGINT
                     ELSE 0 END)::BIGINT AS ap9,
                 max(CASE WHEN k <= 10 THEN tp END)::BIGINT AS tp10
               FROM rk)
         SELECT n_docs, n_pos,
           floor(ap9::DOUBLE / n_pos / 1e9 * 1e6 + 0.5) / 1e6 AS ap,
           floor(tp10::DOUBLE / 10 * 1e6 + 0.5) / 1e6 AS p_at_10
         FROM a""",
    // two-sample Cramer-von Mises on combined ranks (mirrors
    // Events.cvmTest: (grid, type, event_id) total order)
    "cvm_test" ->
      """WITH vi AS (
           SELECT event_type, event_id,
                  floor("value" * 1e6 + 0.5)::BIGINT AS vi
           FROM events
           WHERE "value" IS NOT NULL
             AND event_type IN ('click', 'purchase')),
         rk AS (SELECT event_type,
                  row_number() OVER (ORDER BY vi, event_type, event_id)
                    ::BIGINT AS r,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY vi, event_type, event_id)::BIGINT AS i
                FROM vi),
         g AS (SELECT event_type, count(*)::BIGINT AS n,
                 sum((r - i) * (r - i))::HUGEINT AS sq
               FROM rk GROUP BY 1),
         ab AS (SELECT a.n AS n_a, a.sq AS sq_a, b.n AS n_b, b.sq AS sq_b
                FROM (SELECT * FROM g WHERE event_type = 'click') a,
                     (SELECT * FROM g WHERE event_type = 'purchase') b)
         SELECT n_a, n_b,
           floor(((n_a::HUGEINT * sq_a + n_b::HUGEINT * sq_b)::DOUBLE /
             (n_a::DOUBLE * n_b::DOUBLE * (n_a::DOUBLE + n_b::DOUBLE)) -
             (4.0 * n_a::DOUBLE * n_b::DOUBLE - 1) /
             (6.0 * (n_a::DOUBLE + n_b::DOUBLE))) * 1e6 + 0.5) / 1e6
             AS t_stat
         FROM ab""",
    // exact moment skew/kurtosis (mirrors Events.skewKurtosis: 1e-2
    // grid, per-group integer-mean centering, DECIMAL power sums)
    "skew_kurtosis" ->
      """WITH vi AS (
           SELECT event_type, floor("value" * 100 + 0.5)::BIGINT AS vi
           FROM events WHERE "value" IS NOT NULL),
         c AS (SELECT event_type AS et,
                 floor(sum(vi)::DOUBLE / count(*))::BIGINT AS c0
               FROM vi GROUP BY 1),
         d AS (SELECT event_type, c0, vi - c0 AS d
               FROM vi JOIN c ON event_type = et),
         g AS (SELECT event_type, c0, count(*)::BIGINT AS n,
                 sum(d)::HUGEINT AS s1, sum(d * d)::HUGEINT AS s2,
                 sum(d * d * d)::HUGEINT AS s3,
                 sum(d * d * d * d)::HUGEINT AS s4
               FROM d GROUP BY 1, 2),
         m AS (SELECT event_type, n, c0, s1::DOUBLE / n AS m1,
                 s2::DOUBLE / n AS r2, s3::DOUBLE / n AS r3,
                 s4::DOUBLE / n AS r4
               FROM g),
         mm AS (SELECT event_type, n, c0, m1,
                  r2 - m1 * m1 AS m2,
                  r3 - 3.0 * m1 * r2 + 2.0 * m1 * m1 * m1 AS m3,
                  r4 - 4.0 * m1 * r3 + 6.0 * m1 * m1 * r2 -
                    3.0 * m1 * m1 * m1 * m1 AS m4
                FROM m)
         SELECT event_type, n,
           floor((c0::DOUBLE + m1) / 100 * 1e6 + 0.5) / 1e6 AS mean,
           CASE WHEN m2 > 0
                THEN floor(m3 / (m2 * sqrt(m2)) * 1e6 + 0.5) / 1e6
                ELSE 0.0 END AS skewness,
           CASE WHEN m2 > 0
                THEN floor((m4 / (m2 * m2) - 3) * 1e6 + 0.5) / 1e6
                ELSE 0.0 END AS kurtosis_excess
         FROM mm ORDER BY event_type""",
    // Gaussian NB confusion matrix (mirrors Similarity.gaussianNb:
    // 1e-9 coordinate grid, per-dim 1e-9 log-density terms, smallest-
    // label argmax tiebreak)
    "gaussian_nb" ->
      """WITH xd AS (
           SELECT vec_id, label,
                  floor(x::DOUBLE * 1e9 + 0.5)::BIGINT AS x9, pos
           FROM (SELECT vec_id, label, unnest(embedding) AS x,
                        generate_subscripts(embedding, 1) AS pos
                 FROM embeddings)),
         st AS (SELECT label AS cls, pos, count(*)::BIGINT AS n,
                  sum(x9)::HUGEINT AS sv,
                  sum(x9 * x9)::HUGEINT AS sv2
                FROM xd GROUP BY 1, 2),
         pr AS (SELECT label AS cls,
                  floor(ln(count(*)::DOUBLE /
                    (SELECT count(*) FROM embeddings)) * 1e9 + 0.5)
                    ::BIGINT AS prior9
                FROM embeddings GROUP BY 1),
         t AS (SELECT xd.vec_id, xd.label, st.cls,
                 CASE WHEN (sv2::DOUBLE -
                        sv::DOUBLE * sv::DOUBLE / n) / n > 0
                      THEN floor((-(x9 - sv::DOUBLE / n) *
                        (x9 - sv::DOUBLE / n) /
                        (2.0 * ((sv2::DOUBLE -
                          sv::DOUBLE * sv::DOUBLE / n) / n)) -
                        ln(6.283185307179586 *
                          ((sv2::DOUBLE -
                            sv::DOUBLE * sv::DOUBLE / n) / n) / 1e18)
                          / 2) * 1e9 + 0.5)::BIGINT
                      ELSE 0 END AS t9
               FROM xd JOIN st ON xd.pos = st.pos),
         ll AS (SELECT vec_id, label, cls, sum(t9)::BIGINT AS s9
                FROM t GROUP BY 1, 2, 3),
         scr AS (SELECT vec_id, label, ll.cls,
                   row_number() OVER (PARTITION BY vec_id
                     ORDER BY s9 + prior9 DESC, ll.cls) AS rn
                 FROM ll JOIN pr ON ll.cls = pr.cls)
         SELECT label, cls AS predicted, count(*)::BIGINT AS n_vectors
         FROM scr WHERE rn = 1
         GROUP BY 1, 2 ORDER BY label, predicted""",
    // Ljung-Box on exact-integer z_t = n*y_t - sum(y) autocorrelations
    // (mirrors Events.ljungBox: lags 1..7, 1e-12 LONG Q terms)
    "ljung_box" ->
      """WITH daily0 AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  count(*)::BIGINT AS y
           FROM events GROUP BY 1),
         spine AS (
           SELECT unnest(range((SELECT min(day) FROM daily0),
                               (SELECT max(day) FROM daily0) + 1)) AS day),
         dense AS (SELECT s.day, coalesce(y, 0)::BIGINT AS y
                   FROM spine s LEFT JOIN daily0 USING (day)),
         tot AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS sy
                 FROM dense),
         z AS (SELECT day, n, (n * y - sy)::BIGINT AS z FROM dense, tot),
         a0 AS (SELECT sum(z * z)::HUGEINT AS a0, max(n)::BIGINT AS n
                FROM z),
         lags AS (SELECT unnest(range(1, 8))::INT AS lag),
         ak AS (SELECT lag, sum(z1.z * z2.z)::HUGEINT AS ak
                FROM lags l
                JOIN z z1 ON true
                JOIN z z2 ON z2.day = z1.day + l.lag
                GROUP BY 1),
         t AS (SELECT lag, ak::DOUBLE / a0::DOUBLE AS rho, n,
                 floor(ak::DOUBLE / a0::DOUBLE *
                   (ak::DOUBLE / a0::DOUBLE) / (n - lag) * 1e12)
                   ::BIGINT AS t12
               FROM ak, a0),
         cum AS (SELECT lag, rho, n,
                   sum(t12) OVER (ORDER BY lag
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     ::BIGINT AS c12
                 FROM t)
         SELECT lag, floor(rho * 1e6 + 0.5) / 1e6 AS rho,
           floor(n::DOUBLE * (n::DOUBLE + 2) * (c12::DOUBLE / 1e12) *
             1e6 + 0.5) / 1e6 AS q_stat
         FROM cum ORDER BY lag""",
    // mean-removed DFT power at periods 2..14 (mirrors
    // Events.periodogramTopk: phase reduced mod p before cos/sin,
    // per-term 1e-6 LONG grid)
    "periodogram_topk" ->
      """WITH daily0 AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  count(*)::BIGINT AS y
           FROM events GROUP BY 1),
         spine AS (
           SELECT unnest(range((SELECT min(day) FROM daily0),
                               (SELECT max(day) FROM daily0) + 1)) AS day),
         dense AS (
           SELECT s.day - (SELECT min(day) FROM daily0) AS t,
                  coalesce(y, 0)::BIGINT AS y
           FROM spine s LEFT JOIN daily0 USING (day)),
         tot AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS sy
                 FROM dense),
         z AS (SELECT t, n, (n * y - sy)::BIGINT AS z FROM dense, tot),
         ps AS (SELECT unnest(range(2, 15))::INT AS p),
         terms AS (SELECT p, n,
                     floor(z * cos(6.283185307179586 *
                       ((t % p)::DOUBLE / p)) * 1e6 + 0.5)::BIGINT AS c6,
                     floor(z * sin(6.283185307179586 *
                       ((t % p)::DOUBLE / p)) * 1e6 + 0.5)::BIGINT AS s6
                   FROM z, ps),
         g AS (SELECT p, n, sum(c6)::BIGINT AS cs, sum(s6)::BIGINT AS ss
               FROM terms GROUP BY 1, 2)
         SELECT p AS period,
           floor(((cs::DOUBLE / 1e6) * (cs::DOUBLE / 1e6) +
                  (ss::DOUBLE / 1e6) * (ss::DOUBLE / 1e6)) /
             (n::DOUBLE * n::DOUBLE) * 1e6 + 0.5) / 1e6 AS power
         FROM g ORDER BY power DESC, period LIMIT 3""",
    // AMS F2 sign-sketch vs exact second moment (mirrors
    // Relational.amsF2: 16 rows, middle-bit poly-hash coin)
    "ams_f2_audit" ->
      """WITH counts AS (SELECT l_orderkey, count(*)::BIGINT AS c
                         FROM lineitem GROUP BY 1),
         ex AS (SELECT sum(c * c)::HUGEINT AS f2,
                  count(*)::BIGINT AS n_keys
                FROM counts),
         iz AS (SELECT unnest(range(0, 16)) AS i),
         sk AS (SELECT i,
                  sum((CASE WHEN substr(md5(l_orderkey::VARCHAR || '-' ||
                    i::VARCHAR), 32, 1) IN ('1','3','5','7','9','b',
                    'd','f') THEN -1 ELSE 1 END) * c)::HUGEINT AS x
                FROM counts, iz GROUP BY 1),
         sx AS (SELECT sum(x * x)::HUGEINT AS sx2, count(*)::BIGINT AS r
                FROM sk)
         SELECT n_keys, f2::DOUBLE AS f2_exact,
           floor(sx2::DOUBLE / r * 1e2 + 0.5) / 1e2 AS f2_est,
           floor(abs(sx2::DOUBLE / r - f2::DOUBLE) / f2::DOUBLE * 1e6 +
             0.5) / 1e6 AS rel_err
         FROM ex, sx""",
    // priority sampling estimator vs exact total (mirrors
    // Relational.prioritySample: k=100, hash uniforms, tau = q_(k+1))
    "priority_sample_audit" ->
      """WITH rev AS (SELECT l_orderkey,
                   floor(l_extendedprice * 100 + 0.5)::BIGINT *
                   (100 - floor(l_discount * 100 + 0.5)::BIGINT) AS rv
                 FROM lineitem),
         per AS (SELECT o_orderkey AS key, sum(rv)::HUGEINT AS w
                 FROM rev JOIN orders ON l_orderkey = o_orderkey
                 GROUP BY 1),
         ex AS (SELECT sum(w)::HUGEINT AS tot, count(*)::BIGINT AS n
                FROM per),
         rr AS (SELECT key, w,
                  w::DOUBLE / ((('0x' || substr(md5(key::VARCHAR), 1, 7))
                    ::BIGINT + 1)::DOUBLE / 268435456.0) AS q,
                  row_number() OVER (ORDER BY w::DOUBLE /
                    ((('0x' || substr(md5(key::VARCHAR), 1, 7))::BIGINT
                    + 1)::DOUBLE / 268435456.0) DESC, key) AS rn
                FROM per),
         tau AS (SELECT coalesce(min(CASE WHEN rn = 101 THEN q END),
                   0.0) AS tau FROM rr),
         est AS (SELECT sum(floor(greatest(w::DOUBLE, tau) * 1e2 + 0.5)
                   ::BIGINT)::HUGEINT AS e2
                 FROM rr, tau WHERE rn <= 100)
         SELECT n AS n_items, 100 AS k,
           floor(tot::DOUBLE / 1e4 * 1e2 + 0.5) / 1e2 AS exact_total,
           floor(e2::DOUBLE / 1e2 / 1e4 * 1e2 + 0.5) / 1e2 AS est_total,
           floor(abs(e2::DOUBLE / 1e2 - tot::DOUBLE) / tot::DOUBLE *
             1e6 + 0.5) / 1e6 AS rel_err
         FROM ex, est""",
    // two unrolled IPF rounds to uniform lang x source marginals
    // (mirrors Curation.ipfRaking: 1e-6 LONG regrid after every scale)
    "ipf_raking" ->
      """WITH cells AS (SELECT lang, source, count(*)::BIGINT AS n
                        FROM documents GROUP BY 1, 2),
         g AS (SELECT sum(n)::BIGINT AS tt,
                 count(DISTINCT lang)::BIGINT AS r,
                 count(DISTINCT source)::BIGINT AS c
               FROM cells),
         w0 AS (SELECT lang, source, n, tt, r, c,
                  n * 1000000 AS w6
                FROM cells, g),
         r1 AS (SELECT lang, source, n, tt, r, c,
                  floor(w6::DOUBLE * (tt::DOUBLE * 1e6 / r) / s6 + 0.5)
                    ::BIGINT AS w6
                FROM (SELECT w0.*, sum(w6) OVER (PARTITION BY lang)
                        AS s6 FROM w0)),
         c1 AS (SELECT lang, source, n, tt, r, c,
                  floor(w6::DOUBLE * (tt::DOUBLE * 1e6 / c) / s6 + 0.5)
                    ::BIGINT AS w6
                FROM (SELECT r1.*, sum(w6) OVER (PARTITION BY source)
                        AS s6 FROM r1)),
         r2 AS (SELECT lang, source, n, tt, r, c,
                  floor(w6::DOUBLE * (tt::DOUBLE * 1e6 / r) / s6 + 0.5)
                    ::BIGINT AS w6
                FROM (SELECT c1.*, sum(w6) OVER (PARTITION BY lang)
                        AS s6 FROM c1)),
         c2 AS (SELECT lang, source, n,
                  floor(w6::DOUBLE * (tt::DOUBLE * 1e6 / c) / s6 + 0.5)
                    ::BIGINT AS w6
                FROM (SELECT r2.*, sum(w6) OVER (PARTITION BY source)
                        AS s6 FROM r2))
         SELECT lang, source, n,
           floor(w6::DOUBLE / 1e6 * 1e6 + 0.5) / 1e6 AS w_raked
         FROM c2 ORDER BY lang, source""",
    // disparity-filter backbone (mirrors Graph.graphBackbone: alpha
    // 0.05, either-endpoint min-p rule, k=1 pinned to p=1)
    "graph_backbone" ->
      """WITH pairsm AS MATERIALIZED (
           SELECT o_custkey AS c, l_suppkey + 1000000 AS sup
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         em AS (SELECT c AS src, sup AS dst FROM pairsm
                UNION ALL SELECT sup, c FROM pairsm),
         we AS MATERIALIZED (
           SELECT src, dst, count(*)::BIGINT AS w FROM em GROUP BY 1, 2),
         st AS (SELECT src, sum(w)::BIGINT AS st,
                  count(*)::BIGINT AS deg
                FROM we GROUP BY 1),
         wp AS (SELECT we.src, we.dst, w,
                  CASE WHEN deg = 1 THEN 1.0
                       ELSE exp((deg - 1) * ln(1.0 - w::DOUBLE / st))
                  END AS p
                FROM we JOIN st ON we.src = st.src),
         und AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b,
                   w, min(floor(p * 1e9 + 0.5)::BIGINT) AS p9
                 FROM wp GROUP BY 1, 2, 3),
         cnts AS (SELECT count(*)::BIGINT AS n_edges,
                    sum((p9 < 50000000)::BIGINT)::BIGINT AS n_kept
                  FROM und)
         SELECT n_edges, n_kept, a AS src, b AS dst, w,
           floor(p9::DOUBLE / 1e9 * 1e6 + 0.5) / 1e6 AS p_value
         FROM und, cnts WHERE p9 < 50000000
         ORDER BY w DESC, a, b LIMIT 15""",
    // exact quantity-weighted price quantiles (mirrors
    // Relational.weightedMedian: integer cross-multiplied thresholds)
    "weighted_median" ->
      """WITH hist AS (SELECT l_returnflag,
                   floor(l_extendedprice * 100 + 0.5)::BIGINT AS pc,
                   sum(floor(l_quantity + 0.5)::BIGINT)::BIGINT AS w
                 FROM lineitem GROUP BY 1, 2),
         tot AS (SELECT l_returnflag AS rf, sum(w)::BIGINT AS wt
                 FROM hist GROUP BY 1),
         cum AS (SELECT l_returnflag, pc, wt,
                   sum(w) OVER (PARTITION BY l_returnflag ORDER BY pc
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     ::BIGINT AS cw
                 FROM hist JOIN tot ON l_returnflag = rf)
         SELECT l_returnflag, max(wt)::BIGINT AS w_total,
           floor(min(CASE WHEN cw * 2 >= wt THEN pc END)::DOUBLE / 100
             * 1e2 + 0.5) / 1e2 AS p50_price,
           floor(min(CASE WHEN cw * 10 >= wt * 9 THEN pc END)::DOUBLE
             / 100 * 1e2 + 0.5) / 1e2 AS p90_price
         FROM cum GROUP BY 1 ORDER BY 1""",
    // within-basket ordered 3-way join (mirrors
    // Relational.frequentTriples: minSup=2, top-15)
    "frequent_triples" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS ok,
                          l_partkey AS pk
                        FROM lineitem)
         SELECT a.pk AS a, b.pk AS b, c.pk AS c,
           count(*)::BIGINT AS support
         FROM items a
         JOIN items b ON a.ok = b.ok AND a.pk < b.pk
         JOIN items c ON b.ok = c.ok AND b.pk < c.pk
         GROUP BY 1, 2, 3 HAVING count(*) >= 2
         ORDER BY support DESC, a, b, c LIMIT 15""",
    // rescaled-range Hurst (mirrors Events.hurstRs: m in {5,10,15},
    // integer R and variance radicand, HUGEINT-exact ln-ln fit)
    "hurst_rs" ->
      """WITH daily0 AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  count(*)::BIGINT AS y
           FROM events GROUP BY 1),
         spine AS (
           SELECT unnest(range((SELECT min(day) FROM daily0),
                               (SELECT max(day) FROM daily0) + 1)) AS day),
         dense AS (
           SELECT s.day - (SELECT min(day) FROM daily0) AS t,
                  coalesce(y, 0)::BIGINT AS y
           FROM spine s LEFT JOIN daily0 USING (day)),
         ms AS (SELECT unnest([5, 10, 15])::BIGINT AS m),
         nn AS (SELECT count(*)::BIGINT AS nn FROM dense),
         fl AS (SELECT m, t // m AS blk, t, y FROM dense, ms, nn
                WHERE t // m < nn // m),
         bs AS (SELECT m, blk, sum(y)::BIGINT AS sy,
                  sum(y * y)::BIGINT AS sy2
                FROM fl GROUP BY 1, 2),
         z AS (SELECT f.m, f.blk, t, f.m * y - sy AS z,
                 f.m * sy2 - sy * sy AS d2
               FROM fl f JOIN bs ON f.m = bs.m AND f.blk = bs.blk),
         cum AS (SELECT m, blk, d2,
                   sum(z) OVER (PARTITION BY m, blk ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     ::BIGINT AS cz
                 FROM z),
         pb0 AS (SELECT m, blk, d2,
                   (max(cz) - min(cz))::BIGINT AS rz
                 FROM cum GROUP BY 1, 2, 3),
         pb AS (SELECT m,
                  floor(rz::DOUBLE / sqrt(d2) * 1e9 + 0.5)::BIGINT
                    AS rs9
                FROM pb0 WHERE d2 > 0),
         pm AS (SELECT m, count(*)::BIGINT AS n_blocks,
                  sum(rs9)::BIGINT AS srs9
                FROM pb GROUP BY 1),
         pts AS (SELECT m, n_blocks,
                   srs9::DOUBLE / n_blocks / 1e9 AS rs_mean,
                   floor(ln(m::DOUBLE) * 1e9 + 0.5)::BIGINT AS lx,
                   floor(ln(srs9::DOUBLE / n_blocks / 1e9) * 1e9 + 0.5)
                     ::BIGINT AS ly
                 FROM pm),
         fit AS (SELECT count(*)::HUGEINT AS kk, sum(lx)::HUGEINT AS sx,
                   sum(ly)::HUGEINT AS sy, sum(lx::HUGEINT * ly) AS sxy,
                   sum(lx::HUGEINT * lx) AS sxx
                 FROM pts),
         fb AS (SELECT (kk * sxy - sx * sy)::DOUBLE AS num,
                  (kk * sxx - sx * sx)::DOUBLE AS den
                FROM fit)
         SELECT m, n_blocks,
           floor(rs_mean * 1e6 + 0.5) / 1e6 AS rs_mean,
           CASE WHEN den <> 0
                THEN floor(num / den * 1e6 + 0.5) / 1e6
                ELSE 0.0 END AS hurst
         FROM pts, fb ORDER BY m""",
    // Cook's distance screen on the daily trend fit (mirrors
    // Events.olsInfluence: integer leverage, 1e-6-grid e^2 sum, k=5)
    "ols_influence" ->
      """WITH daily0 AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  count(*)::BIGINT AS y
           FROM events GROUP BY 1),
         spine AS (
           SELECT unnest(range((SELECT min(day) FROM daily0),
                               (SELECT max(day) FROM daily0) + 1)) AS day),
         dense AS (
           SELECT s.day - (SELECT min(day) FROM daily0) AS t,
                  coalesce(y, 0)::BIGINT AS y
           FROM spine s LEFT JOIN daily0 USING (day)),
         tot AS (SELECT count(*)::BIGINT AS n, sum(t)::BIGINT AS st,
                   sum(y)::BIGINT AS sy, sum(t * t)::BIGINT AS stt,
                   sum(t * y)::BIGINT AS sty
                 FROM dense),
         r0 AS (SELECT t, y, n,
                  y::DOUBLE - (((sy::DOUBLE -
                    ((n * sty - st * sy)::DOUBLE /
                     (n * stt - st * st)::DOUBLE) * st) / n) +
                    ((n * sty - st * sy)::DOUBLE /
                     (n * stt - st * st)::DOUBLE) * t) AS e,
                  (n * t - st) * (n * t - st) AS dt2,
                  n * (n * stt - st * st) AS sdd
                FROM dense, tot),
         s2 AS (SELECT max(n)::BIGINT AS nx,
                  sum(floor(e * e * 1e6 + 0.5)::BIGINT)::BIGINT AS se6
                FROM r0)
         SELECT t AS day_index, y,
           floor(e * 1e6 + 0.5) / 1e6 AS residual,
           floor((1.0 / n + dt2::DOUBLE / sdd::DOUBLE) * 1e6 + 0.5)
             / 1e6 AS leverage,
           floor(e * e * (1.0 / n + dt2::DOUBLE / sdd::DOUBLE) /
             (2.0 * (se6::DOUBLE / 1e6 / (nx - 2)) *
              (1.0 - (1.0 / n + dt2::DOUBLE / sdd::DOUBLE)) *
              (1.0 - (1.0 / n + dt2::DOUBLE / sdd::DOUBLE))) * 1e6
             + 0.5) / 1e6 AS cooks_d
         FROM r0, s2
         ORDER BY cooks_d DESC, day_index LIMIT 5""",
    // moment-collapsed quadratic-kernel MMD^2 (mirrors
    // Similarity.mmdPoly: hash halves, 1e-15-grid difference terms)
    "mmd_poly" ->
      """WITH xd AS (
           SELECT vec_id,
                  CASE WHEN ((vec_id % 2147483648) * 8388593) % 100 < 50
                       THEN 'a' ELSE 'b' END AS half,
                  pos, floor(x::DOUBLE * 1e9 + 0.5)::BIGINT AS x9
           FROM (SELECT vec_id, unnest(embedding) AS x,
                        generate_subscripts(embedding, 1) AS pos
                 FROM embeddings)),
         nv AS (SELECT half, count(*)::BIGINT AS n FROM xd
                WHERE pos = 1 GROUP BY 1),
         mu AS (SELECT half, pos, sum(x9)::HUGEINT AS s
                FROM xd GROUP BY 1, 2),
         mud AS (SELECT a.pos,
                   a.s::DOUBLE / na.n / 1e9 AS va,
                   b.s::DOUBLE / nb.n / 1e9 AS vb
                 FROM (SELECT * FROM mu WHERE half = 'a') a
                 JOIN (SELECT * FROM mu WHERE half = 'b') b USING (pos)
                 JOIN nv na ON na.half = 'a'
                 JOIN nv nb ON nb.half = 'b'),
         m15 AS (SELECT sum(floor((va - vb) * (va - vb) * 1e15 + 0.5)
                   ::BIGINT)::BIGINT AS mu15
                 FROM mud),
         xx AS (SELECT a.half, a.pos AS i, b.pos AS j,
                  sum(a.x9 * b.x9)::HUGEINT AS s2
                FROM xd a JOIN xd b ON a.vec_id = b.vec_id
                GROUP BY 1, 2, 3),
         xxm AS (SELECT i, j,
                   xa.s2::DOUBLE / na.n / 1e18 AS va,
                   xb.s2::DOUBLE / nb.n / 1e18 AS vb
                 FROM (SELECT * FROM xx WHERE half = 'a') xa
                 JOIN (SELECT * FROM xx WHERE half = 'b') xb
                   USING (i, j)
                 JOIN nv na ON na.half = 'a'
                 JOIN nv nb ON nb.half = 'b'),
         f15 AS (SELECT sum(floor((va - vb) * (va - vb) * 1e15 + 0.5)
                   ::BIGINT)::BIGINT AS fro15
                 FROM xxm)
         SELECT na.n AS n_a, nb.n AS n_b,
           floor(fro15::DOUBLE / 1e15 * 1e9 + 0.5) / 1e9 AS moment_gap,
           floor(2.0 * mu15::DOUBLE / 1e15 * 1e9 + 0.5) / 1e9
             AS mean_gap,
           floor((fro15::DOUBLE + 2.0 * mu15::DOUBLE) / 1e15 * 1e9
             + 0.5) / 1e9 AS mmd2
         FROM f15, m15, nv na, nv nb
         WHERE na.half = 'a' AND nb.half = 'b'""",
    // round-5 batch S ------------------------------------------------
    // Σm²·V_m is exact-integer everywhere; one final double ratio
    "yule_k" ->
      """WITH ytk AS (
           SELECT source,
             list_filter(list_transform(
               string_split_regex(lower(text), '\s+'),
               t -> regexp_replace(t, '(^[^a-z]+|[^a-z]+$)', '', 'g')),
               t -> len(t) > 0) AS ts
           FROM documents),
         tf AS (SELECT source, t, count(*)::BIGINT AS m
                FROM (SELECT source, unnest(ts) AS t FROM ytk)
                GROUP BY 1, 2),
         cc AS (SELECT source, m, count(*)::BIGINT AS vm
                FROM tf GROUP BY 1, 2),
         a AS (SELECT source, sum(m * vm)::HUGEINT AS n,
                 sum(m * m * vm)::HUGEINT AS s2, sum(vm)::BIGINT AS v
               FROM cc GROUP BY 1)
         SELECT source, n::BIGINT AS n_tokens, v AS v_types,
           floor(1e4 * (s2 - n)::DOUBLE / (n::DOUBLE * n::DOUBLE)
             * 1e6 + 0.5) / 1e6 AS yule_k
         FROM a ORDER BY source""",
    // per-rank precisions quantize to 1e-9 ints BEFORE the per-term
    // sum; ranking/tiebreaks mirror ranking_metrics exactly
    "map_at_10" -> s"""$TokCte,
         lens AS (SELECT doc_id, len(ts)::BIGINT AS dl FROM toks),
         po AS (SELECT term, doc_id, count(*)::BIGINT AS tf
                FROM (SELECT doc_id, unnest(ts) AS term FROM toks)
                GROUP BY 1, 2),
         dft AS (SELECT term, count(*)::BIGINT AS df FROM po GROUP BY 1),
         top AS (SELECT term, df FROM dft ORDER BY df DESC, term LIMIT 10),
         c AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl
               FROM lens),
         g AS (SELECT po.term, t.df, po.doc_id,
                 floor(ln(1.0 + (n_docs - t.df + 0.5) / (t.df + 0.5))
                   * po.tf
                   * 2.2 / (po.tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
                   * 1e6 + 0.5) / 1e6 AS score,
                 (CASE WHEN po.tf >= 4 THEN 1 ELSE 0 END)::BIGINT AS rel
               FROM po JOIN top t USING (term)
                 JOIN lens USING (doc_id) CROSS JOIN c),
         r AS (SELECT *,
                 row_number() OVER (PARTITION BY term
                   ORDER BY score DESC, doc_id) AS rnk,
                 sum(rel) OVER (PARTITION BY term
                   ORDER BY score DESC, doc_id
                   ROWS UNBOUNDED PRECEDING) AS relcnt
               FROM g),
         d AS (SELECT term, df, sum(rel)::BIGINT AS n_rel,
                 sum(CASE WHEN rnk <= 10 AND rel = 1
                   THEN CAST(floor(relcnt::DOUBLE / rnk * 1e9 + 0.5)
                     AS BIGINT) ELSE 0 END)::BIGINT AS ap9
               FROM r GROUP BY 1, 2)
         SELECT term, df, n_rel,
           CASE WHEN n_rel > 0 THEN floor(ap9::DOUBLE / 1e9 /
               least(n_rel, 10)::DOUBLE * 1e6 + 0.5) / 1e6
             ELSE 0.0 END AS ap
         FROM d ORDER BY term""",
    // z_t = n·y_t − Σy keeps the Yule-Walker scalars exact HUGEINTs;
    // φ's are single divisions of exact terms
    "ar2_forecast" ->
      """WITH d0 AS (SELECT epoch_ms(ts) // 1000 // 86400 AS day,
             count(*)::BIGINT AS y FROM events GROUP BY 1),
         bo AS (SELECT min(day) AS dmin, max(day) AS dmax FROM d0),
         spine AS (SELECT unnest(range(dmin, dmax + 1)) AS day FROM bo),
         d1 AS (SELECT s.day, coalesce(y, 0)::BIGINT AS y
                FROM spine s LEFT JOIN d0 USING (day)),
         t AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS sy,
                 max(day)::BIGINT AS dmax FROM d1),
         z AS (SELECT day, (n * y - sy)::BIGINT AS z, dmax FROM d1, t),
         st AS (SELECT
                 sum((a.z * coalesce(b1.z, 0))::HUGEINT) AS a,
                 sum((a.z * coalesce(b2.z, 0))::HUGEINT) AS b,
                 sum((a.z * a.z)::HUGEINT) AS c,
                 max(CASE WHEN a.day = a.dmax THEN a.z END) AS zn,
                 max(CASE WHEN a.day = a.dmax - 1 THEN a.z END) AS zn1
               FROM z a LEFT JOIN z b1 ON b1.day = a.day + 1
                 LEFT JOIN z b2 ON b2.day = a.day + 2),
         f AS (SELECT n, sy, a, b, c, zn, zn1,
                 (c * c - a * a) AS den FROM st, t)
         SELECT n AS n_days,
           floor(sy::DOUBLE / n * 1e6 + 0.5) / 1e6 AS mean_daily,
           CASE WHEN den::DOUBLE > 0 THEN floor((a * (c - b))::DOUBLE
               / den::DOUBLE * 1e6 + 0.5) / 1e6
             ELSE 0.0 END AS phi1,
           CASE WHEN den::DOUBLE > 0 THEN floor((b * c - a * a)::DOUBLE
               / den::DOUBLE * 1e6 + 0.5) / 1e6
             ELSE 0.0 END AS phi2,
           CASE WHEN den::DOUBLE > 0 THEN floor((sy::DOUBLE
               + (a * (c - b))::DOUBLE / den::DOUBLE * zn
               + (b * c - a * a)::DOUBLE / den::DOUBLE * zn1) / n
               * 1e4 + 0.5) / 1e4
             ELSE floor(sy::DOUBLE / n * 1e4 + 0.5) / 1e4
           END AS forecast
         FROM f""",
    // md5 sign coin; 1e-6-grid coordinates make every projected
    // coordinate and both squared distances exact LONGs
    "jl_distortion" ->
      """WITH u AS (
           SELECT vec_id,
             unnest(list_transform(embedding::DOUBLE[],
               v -> CAST(floor(v * 1e6 + 0.5) AS BIGINT))) AS e6,
             generate_subscripts(embedding, 1) - 1 AS pos
           FROM embeddings),
         js AS (SELECT unnest(range(0, 16)) AS j),
         ps AS (SELECT DISTINCT pos FROM u),
         sg AS (SELECT pos, j,
             CASE WHEN substring(md5(pos::VARCHAR || '-' || j::VARCHAR),
                 32, 1) IN ('1','3','5','7','9','b','d','f')
               THEN -1 ELSE 1 END AS sgn
           FROM ps, js),
         p AS (SELECT vec_id, j, sum(sgn * e6)::BIGINT AS p
               FROM u JOIN sg USING (pos) GROUP BY 1, 2),
         dp AS (SELECT a.vec_id,
                 sum((a.p - b.p) * (a.p - b.p))::BIGINT AS dp2
               FROM p a JOIN p b ON b.vec_id = a.vec_id - 1
                 AND b.j = a.j
               GROUP BY 1),
         dg AS (SELECT a.vec_id,
                 sum((a.e6 - b.e6) * (a.e6 - b.e6))::BIGINT AS do2
               FROM u a JOIN u b ON b.vec_id = a.vec_id - 1
                 AND b.pos = a.pos
               GROUP BY 1),
         r AS (SELECT CAST(floor(dp2::DOUBLE / 16.0 / do2::DOUBLE
                 * 1e6 + 0.5) AS BIGINT) AS r6
               FROM dp JOIN dg USING (vec_id) WHERE do2 > 0)
         SELECT count(*)::BIGINT AS n_pairs,
           floor(sum(r6)::DOUBLE / count(*) / 1e6 * 1e6 + 0.5) / 1e6
             AS mean_ratio,
           floor(min(r6)::DOUBLE / 1e6 * 1e6 + 0.5) / 1e6 AS min_ratio,
           floor(max(r6)::DOUBLE / 1e6 * 1e6 + 0.5) / 1e6 AS max_ratio,
           floor(sum(CASE WHEN r6 < 500000 OR r6 > 2000000 THEN 1
               ELSE 0 END)::DOUBLE / count(*) * 1e6 + 0.5) / 1e6
             AS bad_share
         FROM r""",
    // exact integer medians by cross-multiplied cumulative threshold;
    // the anova recipe on |len − med|
    "brown_forsythe" ->
      """WITH h AS (SELECT source, n_chars AS len, count(*)::BIGINT AS w
               FROM documents GROUP BY 1, 2),
         t AS (SELECT source, sum(w)::BIGINT AS nt FROM h GROUP BY 1),
         c AS (SELECT h.source, len, w, nt,
                 sum(w) OVER (PARTITION BY h.source ORDER BY len
                   ROWS UNBOUNDED PRECEDING) AS cw
               FROM h JOIN t USING (source)),
         med AS (SELECT source,
                 min(CASE WHEN cw * 2 >= nt THEN len END)::BIGINT AS med
               FROM c GROUP BY 1),
         z AS (SELECT d.source, abs(d.n_chars - med)::BIGINT AS z
               FROM documents d JOIN med ON d.source = med.source),
         g AS (SELECT source, count(*)::BIGINT AS ng,
                 sum(z)::HUGEINT AS sg, sum(z * z)::HUGEINT AS qg
               FROM z GROUP BY 1),
         a AS (SELECT count(*)::BIGINT AS k, sum(ng)::BIGINT AS nn,
                 sum(sg)::HUGEINT AS st, sum(qg)::HUGEINT AS qt,
                 sum(CAST(floor(sg::DOUBLE * sg::DOUBLE / ng * 1e6)
                   AS HUGEINT)) AS b6
               FROM g),
         f AS (SELECT k, nn,
                 b6::DOUBLE / 1e6
                   - st::DOUBLE * st::DOUBLE / nn AS ssb,
                 qt::DOUBLE - b6::DOUBLE / 1e6 AS ssw
               FROM a)
         SELECT k AS k_groups, nn AS n_docs,
           floor(ssb * 1e4 + 0.5) / 1e4 AS ss_between,
           floor(ssw * 1e4 + 0.5) / 1e4 AS ss_within,
           CASE WHEN ssw > 0 AND k > 1 AND nn > k
             THEN floor((ssb / (k - 1)) / (ssw / (nn - k)) * 1e6 + 0.5)
               / 1e6
             ELSE 0.0 END AS f_stat
         FROM f""",
    // quartiles exact on the 1e-2 grid; fences compare exact LONGs on
    // the doubled grid (2v vs 5Q1−3Q3 / 5Q3−3Q1)
    "tukey_outliers" ->
      """WITH h AS (SELECT event_type,
             CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS v2,
             count(*)::BIGINT AS w
           FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         t AS (SELECT event_type, sum(w)::BIGINT AS nt
               FROM h GROUP BY 1),
         c AS (SELECT h.event_type, v2, w, nt,
                 sum(w) OVER (PARTITION BY h.event_type ORDER BY v2
                   ROWS UNBOUNDED PRECEDING) AS cw
               FROM h JOIN t USING (event_type)),
         qs AS (SELECT event_type, max(nt) AS n,
                 min(CASE WHEN cw * 4 >= nt THEN v2 END) AS q1v,
                 min(CASE WHEN cw * 4 >= nt * 3 THEN v2 END) AS q3v
               FROM c GROUP BY 1),
         o AS (SELECT h.event_type, n, q1v, q3v,
                 sum(CASE WHEN v2 * 2 < q1v * 5 - q3v * 3 THEN w
                   ELSE 0 END)::BIGINT AS n_low,
                 sum(CASE WHEN v2 * 2 > q3v * 5 - q1v * 3 THEN w
                   ELSE 0 END)::BIGINT AS n_high
               FROM h JOIN qs USING (event_type) GROUP BY 1, 2, 3, 4)
         SELECT event_type, n AS n_values,
           floor(q1v::DOUBLE / 100 * 1e2 + 0.5) / 1e2 AS q1,
           floor(q3v::DOUBLE / 100 * 1e2 + 0.5) / 1e2 AS q3,
           n_low, n_high,
           floor((n_low + n_high)::DOUBLE / n::DOUBLE * 1e6 + 0.5)
             / 1e6 AS outlier_share
         FROM o ORDER BY event_type""",
    // embeddedness = common-neighbor count per edge; bridge ⇔ 0
    "local_bridges" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS sk
               FROM lineitem),
         co AS (SELECT a.sk AS u, b.sk AS v, count(*)::BIGINT AS c
               FROM li a JOIN li b ON a.ok = b.ok AND a.sk < b.sk
               GROUP BY 1, 2),
         e AS (SELECT u, v, least(c, 6)::BIGINT AS w FROM co
               WHERE c >= 2),
         und AS (SELECT u AS x, v AS y FROM e
                 UNION ALL SELECT v, u FROM e),
         sup AS (SELECT e.u, e.v, count(*)::BIGINT AS sup
               FROM e JOIN und n1 ON n1.x = e.u
                 JOIN und n2 ON n2.x = e.v AND n2.y = n1.y
               GROUP BY 1, 2),
         j AS (SELECT w, CASE WHEN coalesce(sup, 0) = 0 THEN 1 ELSE 0
                 END AS isb
               FROM e LEFT JOIN sup USING (u, v))
         SELECT w AS tie_weight, count(*)::BIGINT AS n_edges,
           sum(isb)::BIGINT AS n_bridges,
           floor(sum(isb)::DOUBLE / count(*)::DOUBLE * 1e6 + 0.5) / 1e6
             AS bridge_share
         FROM j GROUP BY 1 ORDER BY 1""",
    // all sufficient statistics exact; Z² divides exact HUGEINT terms
    // once, flagged at the χ²₁ 5% critical value
    "cochran_armitage" ->
      """WITH m AS (SELECT
             (year(o_orderdate) * 12 + month(o_orderdate))::BIGINT AS s,
             count(*)::BIGINT AS n,
             sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0
               END)::BIGINT AS d
           FROM orders GROUP BY 1),
         a AS (SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS nn,
                 sum(d)::BIGINT AS dd, sum(s * d)::HUGEINT AS sd,
                 sum(s * n)::HUGEINT AS sn,
                 sum(s * s * n)::HUGEINT AS s2n
               FROM m),
         f AS (SELECT k, nn, dd,
                 (nn * sd - dd * sn) AS num,
                 (dd * (nn - dd))::HUGEINT
                   * (nn * s2n - sn * sn) AS vart
               FROM a)
         SELECT k AS n_months, nn AS n_orders, dd AS n_fulfilled,
           CASE WHEN vart::DOUBLE > 0
             THEN floor(nn::DOUBLE * num::DOUBLE * num::DOUBLE
               / vart::DOUBLE * 1e6 + 0.5) / 1e6
             ELSE 0.0 END AS z2,
           (CASE WHEN (CASE WHEN vart::DOUBLE > 0
               THEN floor(nn::DOUBLE * num::DOUBLE * num::DOUBLE
                 / vart::DOUBLE * 1e6 + 0.5) / 1e6
               ELSE 0.0 END) > 3.841 THEN 1 ELSE 0 END)::BIGINT
             AS trend_flag
         FROM f""",
    // midranks via the cumulative-count identity over DISTINCT grid
    // values; 2R1 and 2U1 exact integers, tie-corrected z + Cliff's
    // delta each divide once (mirrors Events.mannWhitney)
    "mann_whitney" ->
      """WITH vi AS (
           SELECT event_type, floor("value" * 1e6 + 0.5)::BIGINT AS vi
           FROM events
           WHERE "value" IS NOT NULL
             AND event_type IN ('click', 'purchase')),
         bv AS (SELECT vi, count(*)::BIGINT AS ct,
                  sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                    END)::BIGINT AS ca
                FROM vi GROUP BY 1),
         rk AS (SELECT ct, ca,
                  coalesce(sum(ct) OVER (ORDER BY vi
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0)::BIGINT AS cb
                FROM bv),
         a AS (SELECT sum(ca)::BIGINT AS na, sum(ct)::BIGINT AS ntot,
                 sum(ca * (2 * cb + ct + 1))::HUGEINT AS r2,
                 sum(ct * ct * ct - ct)::HUGEINT AS tie
               FROM rk),
         u AS (SELECT na, ntot, tie,
                 (r2 - na::HUGEINT * (na + 1)) AS u2,
                 na::DOUBLE AS nad, (ntot - na)::DOUBLE AS nbd,
                 ntot::DOUBLE AS nnd
               FROM a)
         SELECT na AS n_a, (ntot - na) AS n_b, u2::BIGINT AS u2_stat,
           floor((u2::DOUBLE / 2 - nad * nbd / 2) /
             sqrt(nad * nbd / 12 *
               ((nnd + 1) - tie::DOUBLE / (nnd * (nnd - 1))))
             * 1e6 + 0.5) / 1e6 AS z_stat,
           floor((2.0 * (u2::DOUBLE / 2) / (nad * nbd) - 1) * 1e6 + 0.5)
             / 1e6 AS cliffs_delta
         FROM u""",
    // identical moment expansion (and evaluation order) to
    // skew_kurtosis; JB = n/6*(S^2 + K^2/4), p = exp(-JB/2)
    "jarque_bera" ->
      """WITH vi AS (
           SELECT event_type, floor("value" * 100 + 0.5)::BIGINT AS vi
           FROM events WHERE "value" IS NOT NULL),
         c AS (SELECT event_type AS et,
                 floor(sum(vi)::DOUBLE / count(*))::BIGINT AS c0
               FROM vi GROUP BY 1),
         d AS (SELECT event_type, vi - c0 AS d
               FROM vi JOIN c ON event_type = et),
         g AS (SELECT event_type, count(*)::BIGINT AS n,
                 sum(d)::HUGEINT AS s1, sum(d * d)::HUGEINT AS s2,
                 sum(d * d * d)::HUGEINT AS s3,
                 sum(d * d * d * d)::HUGEINT AS s4
               FROM d GROUP BY 1),
         m AS (SELECT event_type, n, s1::DOUBLE / n AS m1,
                 s2::DOUBLE / n AS r2, s3::DOUBLE / n AS r3,
                 s4::DOUBLE / n AS r4
               FROM g),
         mm AS (SELECT event_type, n, m1,
                  r2 - m1 * m1 AS m2,
                  r3 - 3.0 * m1 * r2 + 2.0 * m1 * m1 * m1 AS m3,
                  r4 - 4.0 * m1 * r3 + 6.0 * m1 * m1 * r2 -
                    3.0 * m1 * m1 * m1 * m1 AS m4
                FROM m),
         jb AS (SELECT event_type, n,
                  n::DOUBLE / 6 * ((m3 / (m2 * sqrt(m2)))
                      * (m3 / (m2 * sqrt(m2)))
                    + (m4 / (m2 * m2) - 3.0)
                      * (m4 / (m2 * m2) - 3.0) / 4) AS jb
                FROM mm)
         SELECT event_type, n,
           floor(jb * 1e4 + 0.5) / 1e4 AS jb_stat,
           floor(exp(-jb / 2) * 1e9 + 0.5) / 1e9 AS p_approx
         FROM jb ORDER BY event_type""",
    // W1 = integral of |F_A - F_B| over the length axis: exact
    // cross-multiplied integrand per distinct-value gap, one division
    "wasserstein_1d" ->
      """WITH d AS (
           SELECT source, n_chars AS v FROM documents
           WHERE source IN ('src0', 'src1')),
         bv AS (SELECT v,
                  sum(CASE WHEN source = 'src0' THEN 1 ELSE 0
                    END)::BIGINT AS ca,
                  sum(CASE WHEN source = 'src1' THEN 1 ELSE 0
                    END)::BIGINT AS cb
                FROM d GROUP BY 1),
         run AS (SELECT v,
                   sum(ca) OVER (ORDER BY v)::BIGINT AS cum_a,
                   sum(cb) OVER (ORDER BY v)::BIGINT AS cum_b,
                   lead(v) OVER (ORDER BY v) - v AS gap
                 FROM bv),
         tot AS (SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b
                 FROM bv),
         num AS (SELECT sum(gap *
                   abs(cum_a * n_b - cum_b * n_a))::HUGEINT AS num
                 FROM run, tot WHERE gap IS NOT NULL)
         SELECT n_a, n_b,
           floor(num::DOUBLE / (n_a::DOUBLE * n_b::DOUBLE) * 1e6 + 0.5)
             / 1e6 AS w1_chars
         FROM tot, num""",
    // all three CDF integrals from one window pass over the distinct
    // grid (mirrors Events.energyDistance; exact HUGEINT numerators)
    "energy_distance" ->
      """WITH vi AS (
           SELECT event_type, floor("value" * 1e6 + 0.5)::BIGINT AS vi
           FROM events
           WHERE "value" IS NOT NULL
             AND event_type IN ('click', 'purchase')),
         bv AS (SELECT vi,
                  sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                    END)::BIGINT AS ca,
                  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                    END)::BIGINT AS cbn
                FROM vi GROUP BY 1),
         run AS (SELECT vi, ca, cbn,
                   sum(ca) OVER (ORDER BY vi)::BIGINT AS cum_a,
                   sum(cbn) OVER (ORDER BY vi)::BIGINT AS cum_b,
                   lead(vi) OVER (ORDER BY vi) - vi AS gap
                 FROM bv),
         tot AS (SELECT sum(ca)::BIGINT AS n_a, sum(cbn)::BIGINT AS n_b
                 FROM bv),
         sums AS (SELECT n_a, n_b,
             sum(gap * (cum_a * (n_b - cum_b)
               + cum_b * (n_a - cum_a)))::HUGEINT AS ixy,
             sum(gap * cum_a * (n_a - cum_a))::HUGEINT AS ixx,
             sum(gap * cum_b * (n_b - cum_b))::HUGEINT AS iyy
           FROM run, tot WHERE gap IS NOT NULL GROUP BY 1, 2)
         SELECT n_a, n_b,
           floor(ixy::DOUBLE / (n_a::DOUBLE * n_b::DOUBLE * 1e6)
             * 1e6 + 0.5) / 1e6 AS e_xy,
           floor((2.0 * (ixy::DOUBLE / (n_a::DOUBLE * n_b::DOUBLE * 1e6))
               - 2.0 * ixx::DOUBLE / (n_a::DOUBLE * n_a::DOUBLE * 1e6)
               - 2.0 * iyy::DOUBLE / (n_b::DOUBLE * n_b::DOUBLE * 1e6))
             * 1e6 + 0.5) / 1e6 AS e_dist
         FROM sums""",
    // acf_daily's spine + Pearson recipe with two conditional series;
    // negative lags mean clicks lead purchases
    "cross_corr" ->
      """WITH daily0 AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                    END)::BIGINT AS xa,
                  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                    END)::BIGINT AS xb
           FROM events WHERE event_type IN ('click', 'purchase')
           GROUP BY 1),
         spine AS (
           SELECT unnest(range((SELECT min(day) FROM daily0),
                               (SELECT max(day) FROM daily0) + 1)) AS day),
         daily AS (
           SELECT s.day, coalesce(xa, 0)::BIGINT AS xa,
                  coalesce(xb, 0)::BIGINT AS xb
           FROM spine s LEFT JOIN daily0 d ON s.day = d.day),
         lags AS (SELECT unnest(range(-3, 4))::INT AS lag),
         pairs AS (
           SELECT l.lag, a.xa AS x, b.xb AS y
           FROM lags l JOIN daily a ON true
           JOIN daily b ON b.day = a.day + l.lag),
         st AS (
           SELECT lag, count(*)::BIGINT AS n,
                  sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                  sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy,
                  sum(x * y)::BIGINT AS sxy
           FROM pairs GROUP BY lag)
         SELECT lag, n AS n_pairs,
                CASE WHEN sqrt(n::DOUBLE * sxx - sx::DOUBLE * sx) *
                          sqrt(n::DOUBLE * syy - sy::DOUBLE * sy) > 0
                  THEN floor((n::DOUBLE * sxy - sx::DOUBLE * sy) /
                         (sqrt(n::DOUBLE * sxx - sx::DOUBLE * sx) *
                          sqrt(n::DOUBLE * syy - sy::DOUBLE * sy)) * 1e6
                         + 0.5) / 1e6
                  ELSE 0.0 END AS ccf
         FROM st ORDER BY lag""",
    // mutual_information's per-term 1e-6 grid for BOTH I(T;H) and
    // H(T); U = I/H(T) divides the two grid sums once
    "theil_u" ->
      """WITH ev AS (
           SELECT event_type AS t, extract(hour FROM ts) AS h
           FROM events),
         joint AS (SELECT t, h, count(*)::BIGINT AS njh
                   FROM ev GROUP BY 1, 2),
         mt AS (SELECT t, count(*)::BIGINT AS nt FROM ev GROUP BY 1),
         mh AS (SELECT h, count(*)::BIGINT AS nh FROM ev GROUP BY 1),
         tot AS (SELECT count(*)::DOUBLE AS tn FROM ev),
         mi AS (
           SELECT sum(CAST(floor((njh::DOUBLE / tn) *
                    ln((njh::DOUBLE * tn) / (nt::DOUBLE * nh::DOUBLE))
                    * 1e6 + 0.5) AS BIGINT)) AS mi6
           FROM joint JOIN mt USING (t) JOIN mh USING (h), tot),
         ht AS (
           SELECT sum(CAST(floor((-(nt::DOUBLE / tn)) *
                    ln(nt::DOUBLE / tn) * 1e6 + 0.5) AS BIGINT)) AS ht6
           FROM mt, tot)
         SELECT floor(mi6::DOUBLE / 1e6 * 1e6 + 0.5) / 1e6 AS mi_nats,
                floor(ht6::DOUBLE / 1e6 * 1e6 + 0.5) / 1e6 AS h_type,
                floor(mi6::DOUBLE / ht6::DOUBLE * 1e6 + 0.5) / 1e6
                  AS theil_u
         FROM mi, ht""",
    // exact 1e-6-grid moment sums; mean gap cross-multiplied before
    // its single division (mirrors Events.effectSizes)
    "effect_sizes" ->
      """WITH vi AS (
           SELECT (event_type = 'click') AS isa,
                  floor("value" * 1e6 + 0.5)::BIGINT AS vi
           FROM events
           WHERE "value" IS NOT NULL
             AND event_type IN ('click', 'purchase')),
         g AS (SELECT
             sum(CASE WHEN isa THEN 1 ELSE 0 END)::BIGINT AS na,
             sum(CASE WHEN isa THEN vi ELSE 0 END)::HUGEINT AS s1a,
             sum(CASE WHEN isa THEN vi * vi ELSE 0 END)::HUGEINT AS s2a,
             sum(CASE WHEN isa THEN 0 ELSE 1 END)::BIGINT AS nb,
             sum(CASE WHEN isa THEN 0 ELSE vi END)::HUGEINT AS s1b,
             sum(CASE WHEN isa THEN 0 ELSE vi * vi END)::HUGEINT AS s2b
           FROM vi),
         e AS (SELECT na, nb,
             (s1a::DOUBLE * nb::DOUBLE - s1b::DOUBLE * na::DOUBLE) /
               (na::DOUBLE * nb::DOUBLE) / 1e6 AS gap,
             (na::DOUBLE * s2a::DOUBLE - s1a::DOUBLE * s1a::DOUBLE) /
               (na::DOUBLE * (na::DOUBLE - 1)) / 1e12 AS vaa,
             (nb::DOUBLE * s2b::DOUBLE - s1b::DOUBLE * s1b::DOUBLE) /
               (nb::DOUBLE * (nb::DOUBLE - 1)) / 1e12 AS vab
           FROM g),
         f AS (SELECT na, nb, gap, vab,
             sqrt(((na::DOUBLE - 1) * vaa + (nb::DOUBLE - 1) * vab) /
               (na::DOUBLE + nb::DOUBLE - 2)) AS sp,
             1.0 - 3.0 / (4.0 * (na::DOUBLE + nb::DOUBLE) - 9) AS jf
           FROM e)
         SELECT na AS n_a, nb AS n_b,
           floor(gap / sp * 1e6 + 0.5) / 1e6 AS cohens_d,
           floor(jf * gap / sp * 1e6 + 0.5) / 1e6 AS hedges_g,
           floor(gap / sqrt(vab) * 1e6 + 0.5) / 1e6 AS glass_delta
         FROM f""",
    // nine exact HUGEINT sufficient statistics; each pairwise r pinned
    // to the 1e-12 grid BEFORE the closed-form partial
    "partial_corr" ->
      """WITH li AS (
           SELECT floor(l_quantity * 100 + 0.5)::BIGINT AS x,
                  floor(l_extendedprice * 100 + 0.5)::BIGINT AS y,
                  floor(l_discount * 100 + 0.5)::BIGINT AS z
           FROM lineitem),
         g AS (SELECT count(*)::BIGINT AS n,
                 sum(x)::HUGEINT AS sx, sum(y)::HUGEINT AS sy,
                 sum(z)::HUGEINT AS sz,
                 sum(x * x)::HUGEINT AS sxx, sum(y * y)::HUGEINT AS syy,
                 sum(z * z)::HUGEINT AS szz,
                 sum(x * y)::HUGEINT AS sxy, sum(x * z)::HUGEINT AS sxz,
                 sum(y * z)::HUGEINT AS syz
               FROM li),
         r AS (SELECT n,
             floor((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) /
               (sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) *
                sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))
               * 1e12 + 0.5) / 1e12 AS rxy,
             floor((n::DOUBLE * sxz::DOUBLE - sx::DOUBLE * sz::DOUBLE) /
               (sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) *
                sqrt(n::DOUBLE * szz::DOUBLE - sz::DOUBLE * sz::DOUBLE))
               * 1e12 + 0.5) / 1e12 AS rxz,
             floor((n::DOUBLE * syz::DOUBLE - sy::DOUBLE * sz::DOUBLE) /
               (sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) *
                sqrt(n::DOUBLE * szz::DOUBLE - sz::DOUBLE * sz::DOUBLE))
               * 1e12 + 0.5) / 1e12 AS ryz
           FROM g)
         SELECT n,
           floor(rxy * 1e6 + 0.5) / 1e6 AS r_xy,
           floor(rxz * 1e6 + 0.5) / 1e6 AS r_xz,
           floor(ryz * 1e6 + 0.5) / 1e6 AS r_yz,
           floor((rxy - rxz * ryz) /
             sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)) * 1e6 + 0.5)
             / 1e6 AS partial_r
         FROM r""",
    // exact-integer OLS trend + dyadic-weight SES over the theta-2
    // line (alpha = 1/2: every weight is a bit-shift ratio)
    "theta_forecast" ->
      """WITH daily0 AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  count(*)::BIGINT AS y
           FROM events GROUP BY 1),
         spine AS (
           SELECT unnest(range((SELECT min(day) FROM daily0),
                               (SELECT max(day) FROM daily0) + 1)) AS day),
         dense AS (
           SELECT s.day, coalesce(y, 0)::BIGINT AS y
           FROM spine s LEFT JOIN daily0 USING (day)),
         tl AS (SELECT day, y,
                  row_number() OVER (ORDER BY day)::BIGINT AS t
                FROM (SELECT day, y, row_number() OVER
                        (ORDER BY day DESC) AS rd FROM dense)
                WHERE rd <= 48),
         st AS (SELECT count(*)::BIGINT AS n, sum(t)::BIGINT AS st,
                  sum(y)::BIGINT AS sy, sum(t * t)::BIGINT AS st2,
                  sum(t * y)::BIGINT AS sty
                FROM tl),
         fit AS (SELECT n,
             (n::DOUBLE * sty - st::DOUBLE * sy::DOUBLE) /
               (n::DOUBLE * st2 - st::DOUBLE * st::DOUBLE) AS b,
             (sy::DOUBLE -
               (n::DOUBLE * sty - st::DOUBLE * sy::DOUBLE) /
                 (n::DOUBLE * st2 - st::DOUBLE * st::DOUBLE) *
               st::DOUBLE) / n::DOUBLE AS a
           FROM st),
         terms AS (SELECT n, a, b,
             floor((2.0 * y - (a + b * t)) *
               ((1::BIGINT << greatest(t - 1, 1)::INT)::DOUBLE /
                (1::BIGINT << n::INT)::DOUBLE) * 1e9 + 0.5)::BIGINT
               AS t9
           FROM tl, fit),
         agg AS (SELECT n, a, b, sum(t9)::BIGINT AS ses9
                 FROM terms GROUP BY 1, 2, 3)
         SELECT n AS n_days, floor(b * 1e6 + 0.5) / 1e6 AS slope,
           floor(ses9::DOUBLE / 1e9 * 1e6 + 0.5) / 1e6 AS ses_theta2,
           floor((ses9::DOUBLE / 1e9 +
             (a + b * (n + 1)::DOUBLE)) / 2 * 1e4 + 0.5) / 1e4
             AS forecast
         FROM agg""",
    // two dyadic SES branches (demand sizes, inter-demand gaps) over
    // the trailing 48 occurrences; forecast = their ratio
    "croston_forecast" ->
      """WITH daily AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  count(*)::BIGINT AS z
           FROM events WHERE event_type = 'error' GROUP BY 1),
         d2 AS (SELECT day, z,
                  day - lag(day) OVER (ORDER BY day) AS p
                FROM daily),
         ztl AS (SELECT z, row_number() OVER (ORDER BY day)::BIGINT AS t
                 FROM (SELECT day, z, row_number() OVER
                         (ORDER BY day DESC) AS rd FROM d2)
                 WHERE rd <= 48),
         zn AS (SELECT count(*)::BIGINT AS n FROM ztl),
         zs AS (SELECT n, sum(floor(z::DOUBLE *
                  ((1::BIGINT << greatest(t - 1, 1)::INT)::DOUBLE /
                   (1::BIGINT << n::INT)::DOUBLE) * 1e9 + 0.5)::BIGINT)
                  ::BIGINT AS s9
                FROM ztl, zn GROUP BY 1),
         ptl AS (SELECT p, row_number() OVER (ORDER BY day)::BIGINT AS t
                 FROM (SELECT day, p, row_number() OVER
                         (ORDER BY day DESC) AS rd FROM d2
                       WHERE p IS NOT NULL)
                 WHERE rd <= 48),
         pn AS (SELECT count(*)::BIGINT AS n FROM ptl),
         ps AS (SELECT n, sum(floor(p::DOUBLE *
                  ((1::BIGINT << greatest(t - 1, 1)::INT)::DOUBLE /
                   (1::BIGINT << n::INT)::DOUBLE) * 1e9 + 0.5)::BIGINT)
                  ::BIGINT AS s9
                FROM ptl, pn GROUP BY 1)
         SELECT zs.n AS n_demands, ps.n AS n_gaps,
           floor(zs.s9::DOUBLE / 1e9 * 1e6 + 0.5) / 1e6 AS z_ses,
           floor(ps.s9::DOUBLE / 1e9 * 1e6 + 0.5) / 1e6 AS p_ses,
           floor((zs.s9::DOUBLE / 1e9) / (ps.s9::DOUBLE / 1e9) * 1e6
             + 0.5) / 1e6 AS croston
         FROM zs, ps""",
    // periodogram_topk's exact power recipe, powers pinned to 1e-6
    // integers, -p*ln p per-term on the 1e-9 grid
    "spectral_entropy" ->
      """WITH daily0 AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  count(*)::BIGINT AS y
           FROM events GROUP BY 1),
         spine AS (
           SELECT unnest(range((SELECT min(day) FROM daily0),
                               (SELECT max(day) FROM daily0) + 1)) AS day),
         dense AS (
           SELECT s.day - (SELECT min(day) FROM daily0) AS t,
                  coalesce(y, 0)::BIGINT AS y
           FROM spine s LEFT JOIN daily0 USING (day)),
         tot AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS sy
                 FROM dense),
         z AS (SELECT t, n, (n * y - sy)::BIGINT AS z FROM dense, tot),
         ps AS (SELECT unnest(range(2, 15))::INT AS p),
         terms AS (SELECT p, n,
                     floor(z * cos(6.283185307179586 *
                       ((t % p)::DOUBLE / p)) * 1e6 + 0.5)::BIGINT AS c6,
                     floor(z * sin(6.283185307179586 *
                       ((t % p)::DOUBLE / p)) * 1e6 + 0.5)::BIGINT AS s6
                   FROM z, ps),
         pows AS (SELECT p,
             floor(((cs::DOUBLE / 1e6) * (cs::DOUBLE / 1e6) +
                    (ss::DOUBLE / 1e6) * (ss::DOUBLE / 1e6)) /
               (n::DOUBLE * n::DOUBLE) * 1e6 + 0.5)::BIGINT AS p6
           FROM (SELECT p, n, sum(c6)::BIGINT AS cs,
                   sum(s6)::BIGINT AS ss
                 FROM terms GROUP BY 1, 2)),
         total AS (SELECT sum(p6)::BIGINT AS tp6, count(*)::BIGINT AS k
                   FROM pows),
         h AS (SELECT coalesce(sum(CAST(floor(
                  (-(p6::DOUBLE / tp6::DOUBLE)) *
                    ln(p6::DOUBLE / tp6::DOUBLE) * 1e9 + 0.5)
                  AS BIGINT)), 0)::BIGINT AS h9
               FROM pows, total WHERE p6 > 0)
         SELECT k AS n_periods,
           (CASE WHEN tp6 > 0 THEN 1 ELSE 0 END)::BIGINT AS defined,
           floor(h9::DOUBLE / 1e9 * 1e6 + 0.5) / 1e6 AS h_nats,
           floor(h9::DOUBLE / 1e9 / ln(k::DOUBLE) * 1e6 + 0.5) / 1e6
             AS h_norm
         FROM h, total""",
    // SampEn(2, floor(0.2 sigma)): i<j template pairs over the day
    // spine, exact integer band conditions, one -ln(A/B)
    "sample_entropy" ->
      """WITH daily0 AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  count(*)::BIGINT AS y
           FROM events GROUP BY 1),
         spine AS (
           SELECT unnest(range((SELECT min(day) FROM daily0),
                               (SELECT max(day) FROM daily0) + 1)) AS day),
         dense AS (
           SELECT s.day, coalesce(y, 0)::BIGINT AS y
           FROM spine s LEFT JOIN daily0 USING (day)),
         st AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS sy,
                  sum(y * y)::BIGINT AS syy
                FROM dense),
         rr AS (SELECT n, greatest(1, floor(0.2 *
                  sqrt((n * syy - sy * sy)::DOUBLE) / n::DOUBLE))
                  ::BIGINT AS r
                FROM st),
         tpl AS (SELECT row_number() OVER (ORDER BY day)::BIGINT AS t,
                   y AS x0, lead(y, 1) OVER (ORDER BY day) AS x1,
                   lead(y, 2) OVER (ORDER BY day) AS x2
                 FROM dense),
         tt AS (SELECT t, x0, x1, x2 FROM tpl WHERE x2 IS NOT NULL),
         pairs AS (SELECT n, r,
             (CASE WHEN abs(a.x2 - b.x2) <= r THEN 1 ELSE 0
              END)::BIGINT AS m3
           FROM tt a JOIN tt b ON a.t < b.t, rr
           WHERE abs(a.x0 - b.x0) <= r AND abs(a.x1 - b.x1) <= r),
         g AS (SELECT n, r, count(*)::BIGINT AS b_pairs,
                 sum(m3)::BIGINT AS a_pairs
               FROM pairs GROUP BY 1, 2)
         SELECT n AS n_days, r, b_pairs, a_pairs,
           (CASE WHEN a_pairs > 0 THEN 1 ELSE 0 END)::BIGINT AS defined,
           CASE WHEN a_pairs > 0
             THEN floor(-ln(a_pairs::DOUBLE / b_pairs::DOUBLE) * 1e6
               + 0.5) / 1e6
             ELSE 0.0 END AS sampen
         FROM g""",
    // Delta-y on lagged-y OLS; gamma's numerator/denominator exact,
    // one fixed t-statistic expression, -2.86 large-n critical value
    "adf_test" ->
      """WITH daily0 AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  count(*)::BIGINT AS y
           FROM events GROUP BY 1),
         spine AS (
           SELECT unnest(range((SELECT min(day) FROM daily0),
                               (SELECT max(day) FROM daily0) + 1)) AS day),
         dense AS (
           SELECT s.day, coalesce(y, 0)::BIGINT AS y
           FROM spine s LEFT JOIN daily0 USING (day)),
         reg0 AS (SELECT lag(y) OVER (ORDER BY day) AS x,
                    (y - lag(y) OVER (ORDER BY day))::BIGINT AS dy
                  FROM dense),
         reg AS (SELECT x, dy FROM reg0 WHERE x IS NOT NULL),
         g AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
                 sum(dy)::BIGINT AS sy, sum(x * x)::BIGINT AS sxx,
                 sum(x * dy)::BIGINT AS sxy, sum(dy * dy)::BIGINT AS syy
               FROM reg),
         f AS (SELECT n,
                 (n::DOUBLE * sxy - sx::DOUBLE * sy::DOUBLE) AS an,
                 (n::DOUBLE * sxx - sx::DOUBLE * sx::DOUBLE) AS bd,
                 (n::DOUBLE * syy - sy::DOUBLE * sy::DOUBLE) / n::DOUBLE
                   AS syyc
               FROM g),
         h AS (SELECT n, an / bd AS gamma, bd / n::DOUBLE AS sxxc,
                 an / n::DOUBLE AS sxyc, syyc
               FROM f),
         i AS (SELECT n, gamma,
                 gamma / sqrt((syyc - gamma * sxyc) / (n::DOUBLE - 2) /
                   sxxc) AS t
               FROM h)
         SELECT n AS n_obs, floor(gamma * 1e6 + 0.5) / 1e6 AS gamma,
           floor(t * 1e4 + 0.5) / 1e4 AS t_stat,
           (CASE WHEN floor(t * 1e4 + 0.5) / 1e4 < -2.86 THEN 1 ELSE 0
            END)::BIGINT AS stationary_flag
         FROM i""",
    "sprt_monitor" -> {
      // identical driver-computed ratio literals in both engines —
      // no cross-libm ln anywhere in the increment
      val l1 = math.log(0.25 / 0.20)
      val l0 = math.log((1 - 0.25) / (1 - 0.20))
      val up = math.floor(math.log(19.0) * 1e9 + 0.5).toLong
      s"""WITH daily AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  count(*)::BIGINT AS n,
                  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                    END)::BIGINT AS k
           FROM events GROUP BY 1),
         t AS (SELECT day, n, k,
                 floor((k::DOUBLE * ($l1) + (n - k)::DOUBLE * ($l0))
                   * 1e9 + 0.5)::BIGINT AS t9
               FROM daily),
         r AS (SELECT day, n, k,
                 sum(t9) OVER (ORDER BY day)::BIGINT AS llr9
               FROM t)
         SELECT day, n, k,
           floor(llr9::DOUBLE / 1e9 * 1e6 + 0.5) / 1e6 AS llr,
           CASE WHEN llr9 >= $up THEN 'accept_h1'
                WHEN llr9 <= -$up THEN 'accept_h0'
                ELSE 'continue' END AS decision
         FROM r ORDER BY day"""
    },
    // lambda = 1/2 closed form: z_t = mu/2^t + (sum y_i 2^i)/2^(t+1),
    // every 2-power a bit shift; flags compare 1e-9 integers
    "ewma_chart" ->
      """WITH daily0 AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  count(*)::BIGINT AS y
           FROM events GROUP BY 1),
         spine AS (
           SELECT unnest(range((SELECT min(day) FROM daily0),
                               (SELECT max(day) FROM daily0) + 1)) AS day),
         dense AS (
           SELECT s.day, coalesce(y, 0)::BIGINT AS y
           FROM spine s LEFT JOIN daily0 USING (day)),
         tl AS (SELECT day, y,
                  row_number() OVER (ORDER BY day)::BIGINT AS t
                FROM (SELECT day, y, row_number() OVER
                        (ORDER BY day DESC) AS rd FROM dense)
                WHERE rd <= 60),
         st AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS sy,
                  sum(y * y)::BIGINT AS syy
                FROM tl),
         base AS (SELECT sy::DOUBLE / n::DOUBLE AS mu,
                    sqrt((n * syy - sy * sy)::DOUBLE) / n::DOUBLE
                      AS sigma
                  FROM st),
         c AS (SELECT day, y, t,
                 sum(y::HUGEINT * (1::BIGINT << t::INT)::HUGEINT)
                   OVER (ORDER BY t)::HUGEINT AS cum
               FROM tl),
         zz AS (SELECT day, y, t, cum, mu, sigma,
                  (1::BIGINT << (61 - t)::INT)::DOUBLE /
                    (1::BIGINT << 61)::DOUBLE AS half
                FROM c, base),
         z2 AS (SELECT day, y, mu,
                  mu * half + cum::DOUBLE /
                    (1::BIGINT << (t + 1)::INT)::DOUBLE AS z,
                  sigma * sqrt((1.0 - half * half) / 3) AS sz
                FROM zz)
         SELECT day, y, floor(z * 1e6 + 0.5) / 1e6 AS ewma,
           floor((mu + 3.0 * sz) * 1e6 + 0.5) / 1e6 AS ucl,
           floor((mu - 3.0 * sz) * 1e6 + 0.5) / 1e6 AS lcl,
           (CASE WHEN floor(abs(z - mu) * 1e9 + 0.5)::BIGINT >
                      floor(3.0 * sz * 1e9 + 0.5)::BIGINT
             THEN 1 ELSE 0 END)::BIGINT AS oob
         FROM z2 ORDER BY day""",
    "ddsketch_audit" -> {
      // one driver-computed ln(gamma) literal in both engines
      val gamma = 1.01 / 0.99
      val lnG = math.log(gamma)
      val mid = (1 + gamma) / 2
      val bound = (gamma - 1) / 2
      s"""WITH vi AS (
           SELECT floor("value" * 1e6 + 0.5)::BIGINT AS v6
           FROM events WHERE "value" IS NOT NULL
             AND floor("value" * 1e6 + 0.5)::BIGINT > 0),
         tot AS (SELECT count(*)::BIGINT AS n FROM vi),
         qs AS (SELECT unnest([50, 90, 99])::INT AS q_pct),
         byb AS (SELECT floor(ln(v6::DOUBLE / 1e6) / ($lnG))::BIGINT
                   AS b, count(*)::BIGINT AS cnt
                 FROM vi GROUP BY 1),
         cb AS (SELECT b, sum(cnt) OVER (ORDER BY b)::BIGINT AS cum
                FROM byb),
         pb AS (SELECT q_pct, min(b) AS b
                FROM cb, tot, qs WHERE cum * 100 >= q_pct * n
                GROUP BY 1),
         byv AS (SELECT v6, count(*)::BIGINT AS cnt FROM vi GROUP BY 1),
         cv AS (SELECT v6, sum(cnt) OVER (ORDER BY v6)::BIGINT AS cum
                FROM byv),
         pv AS (SELECT q_pct, min(v6) AS v6
                FROM cv, tot, qs WHERE cum * 100 >= q_pct * n
                GROUP BY 1)
         SELECT q_pct,
           floor(exp(b::DOUBLE * ($lnG)) * ($mid) * 1e6 + 0.5) / 1e6
             AS est,
           floor(v6::DOUBLE / 1e6 * 1e6 + 0.5) / 1e6 AS exact,
           floor(abs(exp(b::DOUBLE * ($lnG)) * ($mid) -
               v6::DOUBLE / 1e6) / (v6::DOUBLE / 1e6) * 1e6 + 0.5) / 1e6
             AS rel_err,
           (CASE WHEN floor(abs(exp(b::DOUBLE * ($lnG)) * ($mid) -
               v6::DOUBLE / 1e6) / (v6::DOUBLE / 1e6) * 1e6 + 0.5) / 1e6
               <= $bound THEN 1 ELSE 0 END)::BIGINT AS within_bound
         FROM pb JOIN pv USING (q_pct) ORDER BY q_pct"""
    },
    // stopword-delimited phrase runs; word score deg/freq pinned to a
    // 1e-9 grid before the per-phrase sum (mirrors TextStats.rakeKeywords)
    "rake_keywords" -> s"""$TokCte,
         tk AS (SELECT doc_id, unnest(ts) AS t,
                  unnest(range(1, len(ts) + 1)) AS pos
                FROM toks),
         st AS (SELECT doc_id, t, pos,
                  list_contains(${sqlList(
                    graft.operators.TextStats.Stopwords.head._2)}, t)
                    AS stop
                FROM tk),
         pidd AS (SELECT doc_id, t, pos, stop,
                    sum(CASE WHEN stop THEN 1 ELSE 0 END) OVER
                      (PARTITION BY doc_id ORDER BY pos)::BIGINT AS pid
                  FROM st),
         mem AS (SELECT doc_id, pid, t, pos,
                   count(*) OVER (PARTITION BY doc_id, pid)::BIGINT
                     AS plen
                 FROM pidd WHERE NOT stop),
         words AS (SELECT t,
                     floor(sum(plen)::DOUBLE / count(*)::DOUBLE * 1e9
                       + 0.5)::BIGINT AS w9
                   FROM mem GROUP BY 1),
         ph AS (SELECT doc_id, pid,
                  string_agg(m.t, ' ' ORDER BY pos) AS phrase,
                  count(*)::BIGINT AS n_words, sum(w9)::BIGINT AS s9
                FROM mem m JOIN words w ON m.t = w.t GROUP BY 1, 2),
         agg AS (SELECT phrase, min(n_words)::BIGINT AS n_words,
                   count(*)::BIGINT AS n_occur, min(s9)::BIGINT AS s9
                 FROM ph GROUP BY 1)
         SELECT phrase, n_words, n_occur,
           floor(s9::DOUBLE / 1e9 * 1e6 + 0.5) / 1e6 AS score
         FROM agg ORDER BY score DESC, phrase LIMIT 15""",
    // per-doc presence 2x2 vs the target source; exact HUGEINT
    // cross-products, one division at 1e-4
    "chi2_terms" ->
      """WITH ytk AS (
           SELECT doc_id, (source = 'src0') AS pos,
             list_distinct(list_filter(list_transform(
               string_split_regex(lower(text), '\s+'),
               t -> regexp_replace(t, '(^[^a-z]+|[^a-z]+$)', '', 'g')),
               t -> len(t) > 0)) AS ts
           FROM documents),
         dt AS (SELECT doc_id, pos, unnest(ts) AS t FROM ytk),
         tot AS (SELECT count(*)::BIGINT AS nn,
                   sum(CASE WHEN source = 'src0' THEN 1 ELSE 0
                     END)::BIGINT AS n0
                 FROM documents),
         cells0 AS (SELECT t,
                      sum(CASE WHEN pos THEN 1 ELSE 0 END)::BIGINT AS a,
                      sum(CASE WHEN pos THEN 0 ELSE 1 END)::BIGINT AS c
                    FROM dt GROUP BY 1),
         cells AS (SELECT t, a, c FROM cells0 WHERE a + c >= 5),
         f AS (SELECT t, a, (n0 - a)::BIGINT AS b, c,
                 (nn - n0 - c)::BIGINT AS d, nn
               FROM cells, tot)
         SELECT t AS term, a AS df_target, c AS df_rest,
           CASE WHEN (((a + b) * (c + d))::HUGEINT *
                      ((a + c) * (b + d))::HUGEINT) > 0
             THEN floor((nn::HUGEINT *
                 ((a * d - b * c)::HUGEINT * (a * d - b * c)::HUGEINT))
                 ::DOUBLE /
               (((a + b) * (c + d))::HUGEINT *
                ((a + c) * (b + d))::HUGEINT)::DOUBLE * 1e4 + 0.5) / 1e4
             ELSE 0.0 END AS chi2
         FROM f ORDER BY chi2 DESC, term LIMIT 15""",
    // three correlated per-doc items; sample variances from exact
    // HUGEINT sums, fixed-order three-term sum
    "cronbach_alpha" -> s"""$TokCte,
         items AS (
           SELECT d.n_chars::BIGINT AS x1, len(ts)::BIGINT AS x2,
             len(list_distinct(ts))::BIGINT AS x3,
             (d.n_chars + len(ts) + len(list_distinct(ts)))::BIGINT
               AS sm
           FROM documents d JOIN toks USING (doc_id)),
         g AS (SELECT count(*)::BIGINT AS n,
                 sum(x1)::HUGEINT AS s1, sum(x1 * x1)::HUGEINT AS q1,
                 sum(x2)::HUGEINT AS s2, sum(x2 * x2)::HUGEINT AS q2,
                 sum(x3)::HUGEINT AS s3, sum(x3 * x3)::HUGEINT AS q3,
                 sum(sm)::HUGEINT AS ss, sum(sm * sm)::HUGEINT AS qs
               FROM items)
         SELECT n AS n_docs, 3::BIGINT AS k_items,
           floor(3.0 / 2 * (1.0 -
             ((n::DOUBLE * q1 - s1::DOUBLE * s1::DOUBLE) /
                (n::DOUBLE * (n::DOUBLE - 1)) +
              (n::DOUBLE * q2 - s2::DOUBLE * s2::DOUBLE) /
                (n::DOUBLE * (n::DOUBLE - 1)) +
              (n::DOUBLE * q3 - s3::DOUBLE * s3::DOUBLE) /
                (n::DOUBLE * (n::DOUBLE - 1))) /
             ((n::DOUBLE * qs - ss::DOUBLE * ss::DOUBLE) /
                (n::DOUBLE * (n::DOUBLE - 1)))) * 1e6 + 0.5) / 1e6
             AS alpha
         FROM g""",
    // three unrolled integer SALSA rounds: every message is an exact
    // `score // degree` — bit-identical iteration in both engines
    "salsa_scores" -> s"""WITH $GraphCte,
         dc AS (SELECT c, count(*)::BIGINT AS dc FROM pairs GROUP BY 1),
         ds AS (SELECT sup, count(*)::BIGINT AS ds FROM pairs
                GROUP BY 1),
         h0 AS (SELECT c, 1000000000000::BIGINT AS h FROM dc),
         a1 AS (SELECT sup, sum(h // dc)::BIGINT AS a FROM pairs
                JOIN h0 USING (c) JOIN dc USING (c) GROUP BY 1),
         h1 AS (SELECT c, sum(a // ds)::BIGINT AS h FROM pairs
                JOIN a1 USING (sup) JOIN ds USING (sup) GROUP BY 1),
         a2 AS (SELECT sup, sum(h // dc)::BIGINT AS a FROM pairs
                JOIN h1 USING (c) JOIN dc USING (c) GROUP BY 1),
         h2 AS (SELECT c, sum(a // ds)::BIGINT AS h FROM pairs
                JOIN a2 USING (sup) JOIN ds USING (sup) GROUP BY 1),
         a3 AS (SELECT sup, sum(h // dc)::BIGINT AS a FROM pairs
                JOIN h2 USING (c) JOIN dc USING (c) GROUP BY 1),
         h3 AS (SELECT c, sum(a // ds)::BIGINT AS h FROM pairs
                JOIN a3 USING (sup) JOIN ds USING (sup) GROUP BY 1),
         ta AS (SELECT 'auth' AS kind, sup AS id,
                  floor(a::DOUBLE / 1e12 * 1e6 + 0.5) / 1e6 AS score
                FROM a3 ORDER BY a DESC, sup LIMIT 10),
         th AS (SELECT 'hub' AS kind, c AS id,
                  floor(h::DOUBLE / 1e12 * 1e6 + 0.5) / 1e6 AS score
                FROM h3 ORDER BY h DESC, c LIMIT 10)
         SELECT * FROM ta UNION ALL SELECT * FROM th""",
    // per-user consecutive-type transitions; unweighted + Squartini
    // weighted reciprocity, exact counts
    "reciprocity" ->
      """WITH tr AS (
           SELECT user_id, event_type AS b,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS a
           FROM events),
         e AS (SELECT a, b, count(*)::BIGINT AS wab
               FROM tr WHERE a IS NOT NULL AND a <> b GROUP BY 1, 2),
         j AS (SELECT e.wab, coalesce(r.wab, 0)::BIGINT AS wba
               FROM e LEFT JOIN e r ON e.a = r.b AND e.b = r.a)
         SELECT count(*)::BIGINT AS n_edges,
           sum(CASE WHEN wba > 0 THEN 1 ELSE 0 END)::BIGINT AS n_recip,
           floor(sum(CASE WHEN wba > 0 THEN 1 ELSE 0 END)::DOUBLE /
             count(*)::DOUBLE * 1e6 + 0.5) / 1e6 AS recip,
           sum(wab)::BIGINT AS w_total,
           sum(least(wab, wba))::BIGINT AS w_recip,
           floor(sum(least(wab, wba))::DOUBLE / sum(wab)::DOUBLE * 1e6
             + 0.5) / 1e6 AS w_ratio
         FROM j""",
    // month x status strata; per-stratum exact-cents cross-product,
    // treated-weighted sum, one division to dollars
    "cem_att" ->
      """WITH o AS (
           SELECT (o_orderpriority = '1-URGENT') AS tr,
             (year(o_orderdate) * 12 + month(o_orderdate))::BIGINT
               AS sm,
             o_orderstatus AS ss,
             floor(o_totalprice * 100 + 0.5)::BIGINT AS cents
           FROM orders),
         st AS (SELECT sm, ss,
             sum(CASE WHEN tr THEN 1 ELSE 0 END)::BIGINT AS nt,
             sum(CASE WHEN tr THEN cents ELSE 0 END)::HUGEINT AS stt,
             sum(CASE WHEN tr THEN 0 ELSE 1 END)::BIGINT AS nc,
             sum(CASE WHEN tr THEN 0 ELSE cents END)::HUGEINT AS sc
           FROM o GROUP BY 1, 2),
         m AS (SELECT nt,
             floor((stt * nc - sc * nt)::DOUBLE / nc::DOUBLE * 1e6
               + 0.5)::BIGINT AS t6
           FROM st WHERE nt > 0 AND nc > 0),
         dr AS (SELECT coalesce(sum(nt), 0)::BIGINT AS n_unmatched
                FROM st WHERE nc = 0),
         agg AS (SELECT count(*)::BIGINT AS n_strata,
                   sum(nt)::BIGINT AS n_treated,
                   sum(t6)::HUGEINT AS s6
                 FROM m)
         SELECT n_strata, n_treated, n_unmatched,
           floor(s6::DOUBLE / 1e6 / n_treated::DOUBLE / 100 * 1e4 + 0.5)
             / 1e4 AS att_dollars
         FROM agg, dr""",
    // exact-median exposure split; Woolf CI with identical ln/exp
    // arguments in both engines; zero cells surface defined = 0
    "odds_ratio_ci" ->
      """WITH o AS (
           SELECT floor(o_totalprice * 100 + 0.5)::BIGINT AS v,
             (o_orderstatus = 'F') AS f
           FROM orders),
         tot AS (SELECT count(*)::BIGINT AS n FROM o),
         med AS (SELECT min(v) AS med FROM (
             SELECT v, sum(cnt) OVER (ORDER BY v)::BIGINT AS cum
             FROM (SELECT v, count(*)::BIGINT AS cnt FROM o
                   GROUP BY 1)), tot
           WHERE cum * 2 >= n),
         cells AS (SELECT
             sum(CASE WHEN v > med AND f THEN 1 ELSE 0 END)::BIGINT
               AS a,
             sum(CASE WHEN v > med AND NOT f THEN 1 ELSE 0 END)::BIGINT
               AS b,
             sum(CASE WHEN v <= med AND f THEN 1 ELSE 0 END)::BIGINT
               AS c,
             sum(CASE WHEN v <= med AND NOT f THEN 1 ELSE 0 END)
               ::BIGINT AS d
           FROM o, med)
         SELECT a, b, c, d,
           (CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN 1
            ELSE 0 END)::BIGINT AS defined,
           CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
             THEN floor((a * d)::DOUBLE / (b * c)::DOUBLE * 1e6 + 0.5)
               / 1e6
             ELSE 0.0 END AS odds_ratio,
           CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
             THEN floor((a * (c + d))::DOUBLE /
               (c * (a + b))::DOUBLE * 1e6 + 0.5) / 1e6
             ELSE 0.0 END AS risk_ratio,
           CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
             THEN floor(exp(ln((a * d)::DOUBLE / (b * c)::DOUBLE) -
               1.96 * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d))
               * 1e6 + 0.5) / 1e6
             ELSE 0.0 END AS or_lo,
           CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
             THEN floor(exp(ln((a * d)::DOUBLE / (b * c)::DOUBLE) +
               1.96 * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d))
               * 1e6 + 0.5) / 1e6
             ELSE 0.0 END AS or_hi
         FROM cells""",
    // candidate pairs from one key agg (never materialized); truth =
    // the jaccard>=0.8 pipeline; RR + PC exact-count ratios
    "blocking_quality" -> s"""$TokCte,
         keys AS (SELECT d.doc_id,
             concat_ws('|', ts[1], (d.n_chars // 20)::VARCHAR) AS bk
           FROM documents d JOIN toks USING (doc_id)),
         nn AS (SELECT count(*)::BIGINT AS n FROM keys),
         cand AS (SELECT coalesce(sum(cnt * (cnt - 1) // 2), 0)::BIGINT
                    AS n_cand
                  FROM (SELECT bk, count(*)::BIGINT AS cnt FROM keys
                        GROUP BY 1)),
         sh AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(ts) >= 3
               THEN list_transform(range(1, len(ts) - 1),
                      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
               ELSE [array_to_string(ts, ' ')] END) AS shs
           FROM toks),
         ex AS (SELECT doc_id, unnest(shs) AS sh FROM sh),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS inter
           FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         truth AS (
           SELECT doc_a, doc_b FROM inter
           JOIN (SELECT doc_id, len(shs) AS n FROM sh) sa
             ON doc_a = sa.doc_id
           JOIN (SELECT doc_id, len(shs) AS n FROM sh) sb
             ON doc_b = sb.doc_id
           WHERE inter::DOUBLE / (sa.n + sb.n - inter) >= 0.8),
         tm AS (SELECT count(*)::BIGINT AS n_truth,
                  coalesce(sum(CASE WHEN ka.bk = kb.bk THEN 1 ELSE 0
                    END), 0)::BIGINT AS n_matched
                FROM truth t
                JOIN keys ka ON t.doc_a = ka.doc_id
                JOIN keys kb ON t.doc_b = kb.doc_id)
         SELECT n AS n_docs, n_truth, n_cand, n_matched,
           CASE WHEN n_truth > 0
             THEN floor(n_matched::DOUBLE / n_truth::DOUBLE * 1e6 + 0.5)
               / 1e6
             ELSE 1.0 END AS pairs_completeness,
           floor((1.0 - n_cand::DOUBLE / ((n * (n - 1) // 2)::DOUBLE))
             * 1e6 + 0.5) / 1e6 AS reduction_ratio
         FROM nn, cand, tm""",
    "evt_gumbel" -> {
      // method-of-moments Gumbel over daily block maxima; all
      // transcendental constants computed once on the driver
      val c = math.sqrt(6.0) / math.Pi
      val eg = 0.5772156649015329
      def yT(t: Double) = -math.log(-math.log(1 - 1.0 / t))
      s"""WITH mx AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  max(floor("value" * 1e6 + 0.5)::BIGINT) AS m6
           FROM events WHERE "value" IS NOT NULL GROUP BY 1),
         g AS (SELECT count(*)::BIGINT AS n, sum(m6)::HUGEINT AS s1,
                 sum(m6 * m6)::HUGEINT AS s2
               FROM mx),
         f AS (SELECT n, s1::DOUBLE / n::DOUBLE / 1e6 AS mean,
                 sqrt((n::DOUBLE * s2::DOUBLE -
                     s1::DOUBLE * s1::DOUBLE) /
                   (n::DOUBLE * (n::DOUBLE - 1))) / 1e6 AS sd
               FROM g),
         h AS (SELECT n, mean - ($eg) * (sd * ($c)) AS mu,
                 sd * ($c) AS beta
               FROM f)
         SELECT n AS n_days, floor(mu * 1e6 + 0.5) / 1e6 AS mu,
           floor(beta * 1e6 + 0.5) / 1e6 AS beta,
           floor((mu + beta * (${yT(30)})) * 1e4 + 0.5) / 1e4 AS rl_30d,
           floor((mu + beta * (${yT(365)})) * 1e4 + 0.5) / 1e4
             AS rl_365d
         FROM h"""
    },
    // core = RANGE-frame neighbor count; border = within eps of the
    // nearest core on either side; clusters = core chains
    "dbscan_1d" ->
      """WITH pts AS (
           SELECT user_id AS u, epoch_ms(ts) // 1000 AS ep FROM events),
         f1 AS (SELECT u, ep,
                  (count(*) OVER (PARTITION BY u ORDER BY ep
                    RANGE BETWEEN 1800 PRECEDING AND 1800 FOLLOWING))
                    >= 3 AS core
                FROM pts),
         f2 AS (SELECT u, ep, core,
                  max(CASE WHEN core THEN ep END) OVER
                    (PARTITION BY u ORDER BY ep) AS pc,
                  min(CASE WHEN core THEN ep END) OVER
                    (PARTITION BY u ORDER BY ep DESC) AS nc
                FROM f1),
         cl AS (SELECT u, ep,
                  CASE WHEN core THEN 'core'
                       WHEN (pc IS NOT NULL AND ep - pc <= 1800) OR
                            (nc IS NOT NULL AND nc - ep <= 1800)
                         THEN 'border'
                       ELSE 'noise' END AS role
                FROM f2),
         cr AS (SELECT (CASE WHEN gap IS NULL OR gap > 1800 THEN 1
                  ELSE 0 END)::BIGINT AS newc
                FROM (SELECT ep - lag(ep) OVER
                        (PARTITION BY u ORDER BY ep) AS gap
                      FROM f2 WHERE core)),
         ncl AS (SELECT coalesce(sum(newc), 0)::BIGINT AS n_clusters
                 FROM cr)
         SELECT count(*)::BIGINT AS n_points,
           sum(CASE WHEN role = 'core' THEN 1 ELSE 0 END)::BIGINT
             AS n_core,
           sum(CASE WHEN role = 'border' THEN 1 ELSE 0 END)::BIGINT
             AS n_border,
           sum(CASE WHEN role = 'noise' THEN 1 ELSE 0 END)::BIGINT
             AS n_noise,
           n_clusters
         FROM cl, ncl GROUP BY n_clusters""",
    // kaplan_meier's risk-set machinery; hazard increments on a 1e-9
    // grid, H an exact integer cumsum, one exp per surfaced row
    "nelson_aalen" ->
      """WITH pu AS (
           SELECT user_id, min(ts)::DATE AS d0,
                  min(CASE WHEN event_type = 'purchase' THEN ts
                    END)::DATE AS dconv
           FROM events GROUP BY user_id),
         hz AS (SELECT max(ts)::DATE AS dmax FROM events),
         durs AS (
           SELECT CASE WHEN dconv IS NOT NULL
                       THEN date_diff('day', d0, dconv)
                       ELSE date_diff('day', d0, dmax) END AS t,
                  CASE WHEN dconv IS NOT NULL THEN 1 ELSE 0 END AS event
           FROM pu CROSS JOIN hz),
         byt AS (SELECT t, sum(event)::BIGINT AS d,
                   count(*)::BIGINT AS k
                 FROM durs GROUP BY t),
         n AS (SELECT count(*)::BIGINT AS nn FROM durs),
         r AS (SELECT t, d,
                 nn - coalesce(sum(k) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS n_risk
               FROM byt CROSS JOIN n),
         hzd AS (SELECT t, d, n_risk,
                   CAST(floor(d::DOUBLE / n_risk::DOUBLE * 1e9 + 0.5)
                     AS BIGINT) AS h9
                 FROM r),
         cum AS (SELECT t, d, n_risk,
                   (sum(h9) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING))
                     ::BIGINT AS hc9
                 FROM hzd)
         SELECT t::BIGINT AS t_day, n_risk::BIGINT AS n_risk,
           d AS deaths, hc9,
           floor(hc9::DOUBLE / 1e9 * 1e6 + 0.5) / 1e6 AS cum_hazard
         FROM cum WHERE d > 0 ORDER BY t_day""",
    // Ansari-Bradley scale test: exact piecewise f(m) score sums on
    // integer ranks, parity-split classical moments as one pinned
    // double chain (no libm)
    "ansari_bradley" ->
      """WITH ev AS (SELECT CAST(floor(value * 1e6 + 0.5) AS BIGINT)
             AS vi,
           CASE WHEN ((user_id % 2147483648) * 8388593) % 100 < 50
             THEN 1 ELSE 0 END AS isA
           FROM events WHERE value IS NOT NULL),
         byv AS (SELECT vi, count(*)::BIGINT AS ct,
                   sum(isA)::BIGINT AS ca
                 FROM ev GROUP BY 1),
         tot AS (SELECT sum(ct)::BIGINT AS nn, sum(ca)::BIGINT AS na
                 FROM byv),
         blk AS (SELECT ct, ca,
                   coalesce(sum(ct) OVER (ORDER BY vi
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0)::BIGINT AS cb
                 FROM byv),
         pre AS (SELECT nn, na, (nn + 1) // 2 AS h, cb AS m0,
                   cb + ca AS m1
                 FROM blk CROSS JOIN tot),
         fa AS (SELECT nn, na,
                  (CASE WHEN m1 <= h THEN (m1 * (m1 + 1)) // 2
                     ELSE (h * (h + 1)) // 2 +
                       ((2 * nn + 1 - h - m1) * (m1 - h)) // 2 END -
                   CASE WHEN m0 <= h THEN (m0 * (m0 + 1)) // 2
                     ELSE (h * (h + 1)) // 2 +
                       ((2 * nn + 1 - h - m0) * (m0 - h)) // 2 END)
                    ::BIGINT AS fa
                FROM pre),
         g AS (SELECT max(nn)::BIGINT AS nn, max(na)::BIGINT AS na,
                 sum(fa)::BIGINT AS ta FROM fa),
         f AS (SELECT nn, na, (nn - na)::BIGINT AS nb, ta,
                 CASE WHEN nn % 2 = 0
                   THEN (na::DOUBLE * (nn::DOUBLE + 2.0)) / 4.0
                   ELSE (na::DOUBLE * (nn::DOUBLE + 1.0) *
                     (nn::DOUBLE + 1.0)) / (4.0 * nn::DOUBLE) END AS e,
                 CASE WHEN nn % 2 = 0
                   THEN (na::DOUBLE * (nn - na)::DOUBLE *
                     (nn::DOUBLE + 2.0) * (nn::DOUBLE - 2.0)) /
                     (48.0 * (nn::DOUBLE - 1.0))
                   ELSE (na::DOUBLE * (nn - na)::DOUBLE *
                     (nn::DOUBLE + 1.0) *
                     (3.0 + nn::DOUBLE * nn::DOUBLE)) /
                     (48.0 * nn::DOUBLE * nn::DOUBLE) END AS v
               FROM g),
         zz AS (SELECT na, nb, ta,
                  CASE WHEN v > 0
                    THEN floor((ta::DOUBLE - e) / sqrt(v) * 1e6 + 0.5)
                      / 1e6
                    ELSE 0.0 END AS z
                FROM f)
         SELECT na AS n_a, nb AS n_b, ta AS t_ab, z,
           (CASE WHEN abs(z) > 1.959964 THEN 1 ELSE 0 END)::BIGINT
             AS scale_differs
         FROM zz""",
    // Mood's median test: grand median by the cross-multiplied
    // cumulative rule, per-type chi2 terms on the 1e-9 grid,
    // Wilson-Hilferty critical value from a driver z95 literal
    "mood_median" -> {
      val z95 = 1.6448536269514722
      s"""WITH vi AS (SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v2
           FROM events WHERE value IS NOT NULL),
         byv AS (SELECT v2, count(*)::BIGINT AS ct FROM vi GROUP BY 1),
         tot AS (SELECT sum(ct)::BIGINT AS ntot FROM byv),
         med AS (SELECT min(v2)::BIGINT AS med2 FROM (
             SELECT v2, sum(ct) OVER (ORDER BY v2
               ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
             FROM byv) c CROSS JOIN tot
           WHERE cum * 2 >= ntot),
         pt AS (SELECT event_type, count(*)::BIGINT AS n,
                  sum(CASE WHEN v2 > med2 THEN 1 ELSE 0 END)::BIGINT
                    AS a
                FROM vi CROSS JOIN med GROUP BY 1),
         g AS (SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS nn,
                 sum(a)::BIGINT AS m FROM pt),
         terms AS (SELECT k, nn, m,
                     CASE WHEN m > 0 AND m < nn THEN
                       CAST(floor((
                         (a::DOUBLE - n::DOUBLE *
                           (m::DOUBLE / nn::DOUBLE)) *
                         (a::DOUBLE - n::DOUBLE *
                           (m::DOUBLE / nn::DOUBLE)) /
                         (n::DOUBLE * (m::DOUBLE / nn::DOUBLE)) +
                         (a::DOUBLE - n::DOUBLE *
                           (m::DOUBLE / nn::DOUBLE)) *
                         (a::DOUBLE - n::DOUBLE *
                           (m::DOUBLE / nn::DOUBLE)) /
                         (n::DOUBLE * (1.0 - m::DOUBLE / nn::DOUBLE)))
                         * 1e9 + 0.5) AS BIGINT)
                     ELSE 0 END AS t9
                   FROM pt CROSS JOIN g),
         agg AS (SELECT k, nn, m,
                   floor(sum(t9)::DOUBLE / 1e9 * 1e6 + 0.5) / 1e6
                     AS chi2
                 FROM terms GROUP BY 1, 2, 3),
         fin AS (SELECT k, nn, chi2, med2,
                   (k - 1)::DOUBLE AS kk,
                   1.0 - 2.0 / (9.0 * (k - 1)::DOUBLE) +
                     ($z95) * sqrt(2.0 / (9.0 * (k - 1)::DOUBLE)) AS aa
                 FROM agg CROSS JOIN med)
         SELECT k AS n_types, nn AS n_total,
           med2::DOUBLE / 100.0 AS median, chi2,
           floor(kk * aa * (aa * aa) * 1e6 + 0.5) / 1e6 AS chi2_crit,
           (CASE WHEN chi2 > floor(kk * aa * (aa * aa) * 1e6 + 0.5)
              / 1e6 THEN 1 ELSE 0 END)::BIGINT AS median_differs
         FROM fin"""
    },
    // Jonckheere-Terpstra: doubled pairwise-win counts per grid value
    // over the 21 ordered weekday pairs, exact no-tie null moments
    "jonckheere_terpstra" -> {
      val cCols = (0 until 7).map(i =>
        s"sum(CASE WHEN g = $i THEN 1 ELSE 0 END)::BIGINT AS c$i")
        .mkString(", ")
      val ccCols = (0 until 7).map(i =>
        s"coalesce(sum(c$i) OVER w, 0)::BIGINT AS cc$i").mkString(", ")
      val cList = (0 until 7).map(i => s"c$i").mkString(", ")
      val contrib = (for { i <- 0 until 7; j <- i + 1 until 7 } yield
        s"c$j * (2 * cc$i + c$i)").mkString(" + ")
      val nSums = (0 until 7).map(i => s"sum(c$i)::BIGINT AS n$i")
        .mkString(", ")
      val nTot = (0 until 7).map(i => s"n$i").mkString(" + ")
      val sumN2 = (0 until 7).map(i => s"n$i * n$i").mkString(" + ")
      val sumN2w = (0 until 7).map(i =>
        s"n$i * n$i * (2 * n$i + 3)").mkString(" + ")
      s"""WITH ev AS (SELECT
             CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vi,
             (epoch_ms(ts) // 1000 // 86400) % 7 AS g
           FROM events WHERE value IS NOT NULL),
         byv AS (SELECT vi, $cCols FROM ev GROUP BY 1),
         cums AS (SELECT vi, $cList, $ccCols FROM byv
           WINDOW w AS (ORDER BY vi
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         rows_ AS (SELECT ($contrib)::BIGINT AS row2, $cList
                   FROM cums),
         g1 AS (SELECT sum(row2)::BIGINT AS jt2, $nSums FROM rows_),
         g2 AS (SELECT jt2, ($nTot)::BIGINT AS ntot,
                  ($sumN2)::BIGINT AS sn2, ($sumN2w)::BIGINT AS sn2w
                FROM g1),
         g3 AS (SELECT jt2, ntot,
                  (2 * jt2 - (ntot * ntot - sn2))::BIGINT AS d4,
                  (ntot * ntot * (2 * ntot + 3) - sn2w)::BIGINT AS w72
                FROM g2),
         zz AS (SELECT ntot, jt2,
                  CASE WHEN w72 > 0
                    THEN floor((d4::DOUBLE / 4.0) /
                      sqrt(w72::DOUBLE / 72.0) * 1e6 + 0.5) / 1e6
                    ELSE 0.0 END AS z
                FROM g3)
         SELECT ntot AS n_total, jt2, z,
           (CASE WHEN abs(z) > 1.959964 THEN 1 ELSE 0 END)::BIGINT
             AS trend
         FROM zz"""
    },
    // Brown-Forsythe on event values: per-type exact grid medians,
    // |x-med| moment sums, per-group terms on the 1e-3 grid, WH flag
    "brown_forsythe_values" -> {
      val z95 = 1.6448536269514722
      s"""WITH vi AS (SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v2
           FROM events WHERE value IS NOT NULL),
         bytv AS (SELECT event_type, v2, count(*)::BIGINT AS ct
                  FROM vi GROUP BY 1, 2),
         med AS (SELECT event_type AS et, min(v2)::BIGINT AS medg
                 FROM (SELECT event_type, v2,
                         sum(ct) OVER (PARTITION BY event_type
                           ORDER BY v2 ROWS UNBOUNDED PRECEDING)
                           ::BIGINT AS cum,
                         sum(ct) OVER (PARTITION BY event_type)
                           ::BIGINT AS ng
                       FROM bytv) c
                 WHERE cum * 2 >= ng GROUP BY 1),
         z AS (SELECT vi.event_type, abs(v2 - medg)::BIGINT AS z
               FROM vi JOIN med ON vi.event_type = med.et),
         pt AS (SELECT event_type, count(*)::BIGINT AS n,
                  sum(z)::BIGINT AS s1, sum(z * z)::BIGINT AS s2
                FROM z GROUP BY 1),
         g AS (SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS nn,
                 sum(s1)::BIGINT AS st FROM pt),
         terms AS (SELECT k, nn,
                     CAST(floor(n::DOUBLE *
                       ((s1::DOUBLE / n::DOUBLE -
                         st::DOUBLE / nn::DOUBLE) *
                        (s1::DOUBLE / n::DOUBLE -
                         st::DOUBLE / nn::DOUBLE)) * 1e3 + 0.5)
                       AS BIGINT) AS num3,
                     CAST(floor((s2::DOUBLE -
                       (s1::DOUBLE * s1::DOUBLE) / n::DOUBLE) * 1e3
                       + 0.5) AS BIGINT) AS den3
                   FROM pt CROSS JOIN g),
         agg AS (SELECT k, nn, sum(num3)::BIGINT AS num3,
                   sum(den3)::BIGINT AS den3
                 FROM terms GROUP BY 1, 2),
         fin AS (SELECT k, nn,
                   CASE WHEN den3 > 0
                     THEN ((nn - k)::DOUBLE / (k - 1)::DOUBLE) *
                       (num3::DOUBLE / den3::DOUBLE)
                     ELSE 0.0 END AS bfw,
                   (k - 1)::DOUBLE AS kk,
                   1.0 - 2.0 / (9.0 * (k - 1)::DOUBLE) +
                     ($z95) * sqrt(2.0 / (9.0 * (k - 1)::DOUBLE)) AS aa
                 FROM agg)
         SELECT k AS n_types, nn AS n_total,
           floor(bfw * 1e6 + 0.5) / 1e6 AS bf_w,
           floor(kk * aa * (aa * aa) * 1e6 + 0.5) / 1e6 AS chi2_crit,
           (CASE WHEN floor(kk * bfw * 1e6 + 0.5) / 1e6 >
              floor(kk * aa * (aa * aa) * 1e6 + 0.5) / 1e6
            THEN 1 ELSE 0 END)::BIGINT AS variance_heterogeneous
         FROM fin"""
    },
    // Kuiper two-sample: cross-multiplied CDF gaps both ways, exact
    // LONG sups, asymptotic 1.747 flag from driver literals
    "kuiper_two_sample" ->
      """WITH ev AS (SELECT
             CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vi,
           CASE WHEN ((user_id % 2147483648) * 8388593) % 100 < 50
             THEN 1 ELSE 0 END AS isA
           FROM events WHERE value IS NOT NULL),
         byv AS (SELECT vi, count(*)::BIGINT AS ct,
                   sum(isA)::BIGINT AS ca
                 FROM ev GROUP BY 1),
         cums AS (SELECT
             sum(ca) OVER w::BIGINT AS cpa,
             (sum(ct) OVER w - sum(ca) OVER w)::BIGINT AS cpb
           FROM byv
           WINDOW w AS (ORDER BY vi ROWS UNBOUNDED PRECEDING)),
         tot AS (SELECT sum(ca)::BIGINT AS na,
                   (sum(ct) - sum(ca))::BIGINT AS nb
                 FROM byv),
         g AS (SELECT max(na)::BIGINT AS na, max(nb)::BIGINT AS nb,
                 greatest(max(cpa * nb - cpb * na), 0)::BIGINT AS dp,
                 greatest(max(cpb * na - cpa * nb), 0)::BIGINT AS dm
               FROM cums CROSS JOIN tot)
         SELECT na AS n_a, nb AS n_b, dp AS dplus_num,
           dm AS dminus_num,
           floor((dp + dm)::DOUBLE / (na::DOUBLE * nb::DOUBLE) * 1e6
             + 0.5) / 1e6 AS v_stat,
           (CASE WHEN floor((dp + dm)::DOUBLE /
                (na::DOUBLE * nb::DOUBLE) *
                sqrt((na::DOUBLE * nb::DOUBLE) / (na + nb)::DOUBLE)
                * 1e6 + 0.5) / 1e6 > 1.747
            THEN 1 ELSE 0 END)::BIGINT AS distribution_differs
         FROM g""",
    // Hodges-Lehmann shift: exact daily totals, span-bounded pair
    // grid, exact middle-rank selection
    "hodges_lehmann" ->
      """WITH ev AS (SELECT epoch_ms(ts) // 1000 // 86400 AS day,
             CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vi,
           CASE WHEN ((user_id % 2147483648) * 8388593) % 100 < 50
             THEN 1 ELSE 0 END AS isA
           FROM events WHERE value IS NOT NULL),
         da AS (SELECT day, sum(vi)::BIGINT AS va FROM ev
                WHERE isA = 1 GROUP BY 1),
         db AS (SELECT day, sum(vi)::BIGINT AS vb FROM ev
                WHERE isA = 0 GROUP BY 1),
         diffs AS (SELECT (va - vb)::BIGINT AS d
                   FROM da CROSS JOIN db),
         rk AS (SELECT d, row_number() OVER (ORDER BY d) AS rn
                FROM diffs),
         cnts AS (SELECT (SELECT count(*) FROM da)::BIGINT AS na,
                    (SELECT count(*) FROM db)::BIGINT AS nb),
         mm AS (SELECT na, nb, (na * nb)::BIGINT AS m FROM cnts),
         sel AS (SELECT na, nb, m,
                   min(CASE WHEN rn = (m + 1) // 2 THEN d END)::BIGINT
                     AS dlo,
                   min(CASE WHEN rn = m // 2 + 1 THEN d END)::BIGINT
                     AS dhi
                 FROM rk CROSS JOIN mm GROUP BY 1, 2, 3)
         SELECT na AS n_days_a, nb AS n_days_b, m AS n_pairs,
           floor((dlo + dhi)::DOUBLE / 2.0 / 1e6 * 1e6 + 0.5) / 1e6
             AS hl_shift
         FROM sel""",
    // Cochran-Armitage on activity quartiles: deterministic
    // count-grid groups, exact score sums, pinned double chain
    "ca_trend_activity" ->
      """WITH pu AS (SELECT user_id, count(*)::BIGINT AS cnt,
             (CASE WHEN count(DISTINCT CASE WHEN event_type = 'purchase'
                THEN epoch_ms(ts) // 1000 // 86400 END) >= 12
              THEN 1 ELSE 0 END)::BIGINT AS pos
           FROM events GROUP BY 1),
         byc AS (SELECT cnt, count(*)::BIGINT AS nu,
                   sum(pos)::BIGINT AS np
                 FROM pu GROUP BY 1),
         tot AS (SELECT sum(nu)::BIGINT AS nn FROM byc),
         grp AS (SELECT least((4 * cb) // nn, 3)::BIGINT AS g, nu, np
                 FROM (SELECT nu, np,
                         coalesce(sum(nu) OVER (ORDER BY cnt
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1
                             PRECEDING), 0)::BIGINT AS cb
                       FROM byc) b CROSS JOIN tot),
         gg AS (SELECT g, sum(nu)::BIGINT AS ng, sum(np)::BIGINT AS rg
                FROM grp GROUP BY 1),
         agg AS (SELECT sum(ng)::BIGINT AS nn, sum(rg)::BIGINT AS rr,
                   sum(g * rg)::BIGINT AS t, sum(g * ng)::BIGINT AS sn,
                   sum(g * g * ng)::BIGINT AS sn2
                 FROM gg),
         fin AS (SELECT nn, rr, t,
                   (rr::DOUBLE / nn::DOUBLE) * sn::DOUBLE AS e,
                   ((rr::DOUBLE / nn::DOUBLE) *
                     (1.0 - rr::DOUBLE / nn::DOUBLE)) *
                   (sn2::DOUBLE - (sn::DOUBLE * sn::DOUBLE)
                     / nn::DOUBLE) AS vr
                 FROM agg),
         zz AS (SELECT nn, rr, t,
                  CASE WHEN vr > 0
                    THEN floor((t::DOUBLE - e) / sqrt(vr) * 1e6 + 0.5)
                      / 1e6
                    ELSE 0.0 END AS z
                FROM fin)
         SELECT nn AS n_users, rr AS n_positive, t AS t_stat, z,
           (CASE WHEN abs(z) > 1.959964 THEN 1 ELSE 0 END)::BIGINT
             AS trend
         FROM zz""",
    // Grubbs: integer-centered daily moments, one double chain, 3
    // sigma operational flag
    "grubbs_test" ->
      """WITH daily AS (SELECT epoch_ms(ts) // 1000 // 86400 AS day,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS v
           FROM events WHERE value IS NOT NULL GROUP BY 1),
         c AS (SELECT CAST(floor(sum(v)::DOUBLE / count(*)) AS BIGINT)
                 AS c0
               FROM daily),
         d AS (SELECT (v - c0)::BIGINT AS d FROM daily CROSS JOIN c),
         g AS (SELECT count(*)::BIGINT AS n, sum(d)::BIGINT AS s1,
                 sum(d * d)::BIGINT AS q,
                 max(d)::BIGINT AS dmax, min(d)::BIGINT AS dmin
               FROM d),
         fin AS (SELECT n,
                   s1::DOUBLE / n::DOUBLE AS meand,
                   sqrt((q::DOUBLE - (s1::DOUBLE * s1::DOUBLE)
                     / n::DOUBLE) / (n::DOUBLE - 1.0)) AS sd,
                   dmax, dmin
                 FROM g),
         zz AS (SELECT n,
                  CASE WHEN sd > 0
                    THEN floor(greatest(dmax::DOUBLE - meand,
                      meand - dmin::DOUBLE) / sd * 1e6 + 0.5) / 1e6
                    ELSE 0.0 END AS g_stat
                FROM fin)
         SELECT n AS n_days, g_stat,
           (CASE WHEN g_stat > 3.0 THEN 1 ELSE 0 END)::BIGINT
             AS sigma3_outlier
         FROM zz""",
    // record-breaking days: pure integer window comparisons
    "running_records" ->
      """WITH daily AS (SELECT epoch_ms(ts) // 1000 // 86400 AS day,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS v
           FROM events WHERE value IS NOT NULL GROUP BY 1),
         r AS (SELECT day, v,
                 max(v) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                   PRECEDING AND 1 PRECEDING) AS pm
               FROM daily),
         f AS (SELECT day, v,
                 (CASE WHEN pm IS NULL OR v > pm THEN 1 ELSE 0
                   END)::BIGINT AS rec
               FROM r)
         SELECT count(*)::BIGINT AS n_days, sum(rec)::BIGINT
             AS n_records,
           max(CASE WHEN rec = 1 THEN day END)::BIGINT
             AS last_record_day,
           floor(max(v)::DOUBLE / 100.0 * 1e2 + 0.5) / 1e2
             AS max_daily_revenue
         FROM f""",
    // GMD by the sorted-rank identity per value group; exact HUGEINT
    // sums reduced below 2^53 before any double
    "gini_mean_difference" ->
      """WITH v AS (SELECT CAST(floor(o_totalprice * 100 + 0.5)
             AS BIGINT) AS c
           FROM orders),
         byv AS (SELECT c, count(*)::BIGINT AS ct FROM v GROUP BY 1),
         tot AS (SELECT sum(ct)::BIGINT AS n,
                   sum(c::HUGEINT * ct)::HUGEINT AS t
                 FROM byv),
         blk AS (SELECT c, ct,
                   coalesce(sum(ct) OVER (ORDER BY c ROWS BETWEEN
                     UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
                     AS cb
                 FROM byv),
         g AS (SELECT max(n)::BIGINT AS n,
                 CAST(max(t) AS BIGINT) AS t,
                 CAST(sum(c::HUGEINT * ct * (2 * cb + ct - n))
                   AS BIGINT) AS s
               FROM blk CROSS JOIN tot)
         SELECT n AS n_orders,
           floor((2.0 * s::DOUBLE) / (n::DOUBLE * (n::DOUBLE - 1.0))
             / 100.0 * 1e4 + 0.5) / 1e4 AS gmd,
           floor(s::DOUBLE / ((n::DOUBLE - 1.0) * t::DOUBLE) * 1e6
             + 0.5) / 1e6 AS gini
         FROM g""",
    // Benford on order totals: leading digit via integer->string (no
    // float), driver-literal shares, chi2 terms on the 1e-9 grid
    "benford_order_totals" -> {
      val probs = (1 to 9)
        .map(d => s"($d, ${math.log10(1.0 + 1.0 / d)})").mkString(", ")
      s"""WITH spine AS (SELECT digit::BIGINT AS digit, p
             FROM (VALUES $probs) AS t(digit, p)),
         dig AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100
                 + 0.5) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT)
                 AS digit,
               count(*)::BIGINT AS n_obs
             FROM orders WHERE o_totalprice > 0 GROUP BY 1),
         byd AS (SELECT spine.digit, p,
                   coalesce(n_obs, 0)::BIGINT AS n_obs
                 FROM spine LEFT JOIN dig ON spine.digit = dig.digit),
         tot AS (SELECT sum(n_obs)::BIGINT AS n FROM byd),
         terms AS (SELECT digit, n_obs, p, n,
             CAST(floor((n_obs::DOUBLE - n::DOUBLE * p) *
               (n_obs::DOUBLE - n::DOUBLE * p) / (n::DOUBLE * p) * 1e9
               + 0.5) AS BIGINT) AS t9
           FROM byd CROSS JOIN tot),
         c2 AS (SELECT floor(sum(t9)::DOUBLE / 1e9 * 1e6 + 0.5) / 1e6
                  AS chi2
                FROM terms)
         SELECT digit, n_obs,
           floor(n_obs::DOUBLE / n::DOUBLE * 1e6 + 0.5) / 1e6
             AS obs_share,
           floor(p * 1e6 + 0.5) / 1e6 AS benford_share, chi2
         FROM terms CROSS JOIN c2 ORDER BY digit"""
    },
    "dispersion_test" -> {
      val z95 = 1.6448536269514722
      s"""WITH daily AS (
           SELECT event_type, epoch_ms(ts) // 1000 // 86400 AS day,
                  count(*)::BIGINT AS y
           FROM events GROUP BY 1, 2),
         g AS (SELECT event_type, count(*)::BIGINT AS n,
                 sum(y)::BIGINT AS sy, sum(y * y)::BIGINT AS syy
               FROM daily GROUP BY 1),
         f AS (SELECT event_type, n,
                 sy::DOUBLE / n::DOUBLE AS mean,
                 (n::DOUBLE * syy - sy::DOUBLE * sy::DOUBLE) /
                   (n::DOUBLE * (n::DOUBLE - 1)) AS s2,
                 1.0 - 2.0 / (9 * (n::DOUBLE - 1)) +
                   ($z95) * sqrt(2.0 / (9 * (n::DOUBLE - 1))) AS aa
               FROM g)
         SELECT event_type, n AS n_days,
           floor(mean * 1e6 + 0.5) / 1e6 AS mean,
           floor(s2 / mean * 1e6 + 0.5) / 1e6 AS vmr,
           floor((n::DOUBLE - 1) * s2 / mean * 1e4 + 0.5) / 1e4 AS chi2,
           (CASE WHEN floor((n::DOUBLE - 1) * s2 / mean * 1e4 + 0.5)
               / 1e4 >
             floor((n::DOUBLE - 1) * aa * (aa * aa) * 1e4 + 0.5) / 1e4
             THEN 1 ELSE 0 END)::BIGINT AS overdispersed
         FROM f ORDER BY event_type"""
    },
    // three unrolled integer VoteRank rounds: exact 1e6-grid voting
    // abilities, integer decrement floor(1e6*n/(2|E|))
    "vote_rank" -> s"""WITH $GraphCte,
         nds AS (SELECT DISTINCT src AS id FROM edges),
         dl AS (SELECT (1000000 * (SELECT count(*) FROM nds)) //
                  (2 * (SELECT count(*) FROM pairs)) AS delta),
         va0 AS (SELECT id, 1000000::BIGINT AS va FROM nds),
         s1 AS (SELECT e.dst AS id, sum(v.va)::BIGINT AS score
                FROM edges e JOIN va0 v ON e.src = v.id GROUP BY 1),
         t1 AS (SELECT id AS seed, score FROM s1
                ORDER BY score DESC, id LIMIT 1),
         va1 AS (SELECT v.id,
                  (CASE WHEN v.id = (SELECT seed FROM t1) THEN 0
                    WHEN v.id IN (SELECT e.dst FROM edges e
                        WHERE e.src = (SELECT seed FROM t1))
                      THEN greatest(v.va - (SELECT delta FROM dl), 0)
                    ELSE v.va END)::BIGINT AS va
                 FROM va0 v),
         s2 AS (SELECT e.dst AS id, sum(v.va)::BIGINT AS score
                FROM edges e JOIN va1 v ON e.src = v.id GROUP BY 1),
         t2 AS (SELECT id AS seed, score FROM s2
                WHERE id NOT IN (SELECT seed FROM t1)
                ORDER BY score DESC, id LIMIT 1),
         va2 AS (SELECT v.id,
                  (CASE WHEN v.id = (SELECT seed FROM t2) THEN 0
                    WHEN v.id IN (SELECT e.dst FROM edges e
                        WHERE e.src = (SELECT seed FROM t2))
                      THEN greatest(v.va - (SELECT delta FROM dl), 0)
                    ELSE v.va END)::BIGINT AS va
                 FROM va1 v),
         s3 AS (SELECT e.dst AS id, sum(v.va)::BIGINT AS score
                FROM edges e JOIN va2 v ON e.src = v.id GROUP BY 1),
         t3 AS (SELECT id AS seed, score FROM s3
                WHERE id NOT IN (SELECT seed FROM t1)
                  AND id NOT IN (SELECT seed FROM t2)
                ORDER BY score DESC, id LIMIT 1)
         SELECT 1::BIGINT AS round, seed AS seed_id,
           floor(score::DOUBLE / 1e6 * 1e6 + 0.5) / 1e6 AS score
         FROM t1
         UNION ALL SELECT 2::BIGINT, seed,
           floor(score::DOUBLE / 1e6 * 1e6 + 0.5) / 1e6 FROM t2
         UNION ALL SELECT 3::BIGINT, seed,
           floor(score::DOUBLE / 1e6 * 1e6 + 0.5) / 1e6 FROM t3
         ORDER BY round""",
    // degree-oriented wedge join over the pruned part projection;
    // 1e-9-grid p-products, square on the quantized value
    "burt_constraint" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem),
         und AS (SELECT a.pk AS s1, b.pk AS s2, count(*)::BIGINT AS c
                 FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
                 GROUP BY 1, 2),
         e AS (SELECT s1 AS i, s2 AS j FROM und WHERE c >= 2
               UNION ALL SELECT s2, s1 FROM und WHERE c >= 2),
         deg AS (SELECT i, count(*)::BIGINT AS d FROM e GROUP BY 1),
         ew AS (SELECT e.i, e.j, deg.d AS di FROM e JOIN deg USING (i)),
         iq AS (SELECT ew.i, ew.j AS q, ew.di, dq.d AS dq
                FROM ew JOIN deg dq ON ew.j = dq.i),
         ind AS (SELECT iq.i, e2.j,
                   sum(floor(1e9 / (iq.di * iq.dq)::DOUBLE + 0.5)
                     ::BIGINT)::BIGINT AS ind9
                 FROM iq JOIN e e2 ON iq.q = e2.i GROUP BY 1, 2),
         terms AS (SELECT ew.i, ew.di,
                     (floor(1e9 / ew.di::DOUBLE + 0.5)::BIGINT +
                       coalesce(ind.ind9, 0))::BIGINT AS p9
                   FROM ew LEFT JOIN ind
                     ON ew.i = ind.i AND ew.j = ind.j),
         c9 AS (SELECT i, di,
                  floor((p9::DOUBLE / 1e9) * (p9::DOUBLE / 1e9) * 1e9
                    + 0.5)::BIGINT AS c9
                FROM terms),
         fin AS (SELECT i AS part, di AS degree, sum(c9)::BIGINT AS s9
                 FROM c9 GROUP BY 1, 2)
         SELECT part, degree,
           floor(s9::DOUBLE / 1e9 * 1e6 + 0.5) / 1e6 AS "constraint"
         FROM fin WHERE degree >= 3
         ORDER BY "constraint", part LIMIT 15""",
    "rbo_stability" -> {
      // driver-injected geometric weights — no in-engine pow
      val p = 0.9
      val vals = (1 to 20)
        .map(d => s"($d, ${math.pow(p, d - 1)})").mkString(", ")
      s"""$TokCte,
         tok AS (SELECT (doc_id % 2 = 0) AS h, unnest(ts) AS t
                 FROM toks),
         cn AS (SELECT h, t, count(*)::BIGINT AS c FROM tok
                GROUP BY 1, 2),
         rk AS (SELECT h, t, row_number() OVER
                  (PARTITION BY h ORDER BY c DESC, t)::BIGINT AS r
                FROM cn),
         tp AS (SELECT h, t, r FROM rk WHERE r <= 20),
         bt AS (SELECT greatest(a.r, b.r)::BIGINT AS rmax
                  FROM (SELECT t, r FROM tp WHERE h) a
                  JOIN (SELECT t, r FROM tp WHERE NOT h) b USING (t)),
         ov AS (SELECT count(*)::BIGINT AS overlap FROM bt),
         wt AS (SELECT * FROM (VALUES $vals) v(d, w)),
         ad AS (SELECT wt.d, wt.w,
                  (SELECT count(*) FROM bt WHERE rmax <= wt.d)
                    ::BIGINT AS ad
                FROM wt),
         t9 AS (SELECT CAST(floor((${1 - p}) * w *
                  (ad::DOUBLE / d) * 1e9 + 0.5) AS BIGINT) AS t9
                FROM ad)
         SELECT 20::BIGINT AS depth, overlap AS overlap_at_k,
           floor((SELECT sum(t9) FROM t9)::DOUBLE / 1e9 * 1e6 + 0.5)
             / 1e6 AS rbo
         FROM ov"""
    },
    // directed rules over baskets; every metric a cross-multiplied
    // exact rational, conviction guarded at confidence 1
    "assoc_rules" ->
      """WITH bk AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS it
                     FROM lineitem),
         nb AS (SELECT count(DISTINCT ok)::BIGINT AS nn FROM bk),
         items AS (SELECT it, count(*)::BIGINT AS cnt FROM bk
                   GROUP BY 1),
         pairs AS (SELECT a.it AS x, b.it AS y, count(*)::BIGINT AS nab
                   FROM bk a JOIN bk b ON a.ok = b.ok AND a.it < b.it
                   GROUP BY 1, 2),
         fp AS (SELECT * FROM pairs WHERE nab >= 5),
         rules AS (SELECT x AS ante, y AS cons, nab FROM fp
                   UNION ALL SELECT y, x, nab FROM fp),
         rr AS (SELECT r.ante, r.cons, r.nab, ia.cnt AS na,
                  ic.cnt AS nbc, nn
                FROM rules r
                JOIN items ia ON r.ante = ia.it
                JOIN items ic ON r.cons = ic.it, nb)
         SELECT ante, cons, nab AS support,
           floor(nab::DOUBLE / na::DOUBLE * 1e6 + 0.5) / 1e6
             AS confidence,
           floor((nn * nab)::DOUBLE / (na * nbc)::DOUBLE * 1e6 + 0.5)
             / 1e6 AS lift,
           floor((nab * nn - na * nbc)::DOUBLE / (nn * nn)::DOUBLE
             * 1e6 + 0.5) / 1e6 AS leverage,
           (CASE WHEN na > nab THEN 1 ELSE 0 END)::BIGINT
             AS conv_defined,
           CASE WHEN na > nab
             THEN floor(((nn - nbc) * na)::DOUBLE /
               (nn * (na - nab))::DOUBLE * 1e6 + 0.5) / 1e6
             ELSE 0.0 END AS conviction
         FROM rr ORDER BY confidence DESC, ante, cons LIMIT 15""",
    // complete tau-day block sums, exact integer successive diffs,
    // one division per tau
    "allan_variance" ->
      """WITH daily0 AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  count(*)::BIGINT AS y
           FROM events GROUP BY 1),
         spine AS (
           SELECT unnest(range((SELECT min(day) FROM daily0),
                               (SELECT max(day) FROM daily0) + 1)) AS day),
         dense AS (
           SELECT s.day, coalesce(y, 0)::BIGINT AS y
           FROM spine s LEFT JOIN daily0 USING (day)),
         tl AS (SELECT y, row_number() OVER (ORDER BY day)::BIGINT AS t
                FROM dense),
         taus AS (SELECT unnest([1, 2, 4])::BIGINT AS tau),
         blocks AS (SELECT tau, (t - 1) // tau AS b,
                      sum(y)::BIGINT AS sb
                    FROM tl, taus GROUP BY 1, 2
                    HAVING count(*) = tau),
         diffs AS (SELECT tau,
                     sb - lag(sb) OVER (PARTITION BY tau ORDER BY b)
                       AS d
                   FROM blocks),
         g AS (SELECT tau, count(*)::BIGINT AS m1,
                 sum(d * d)::HUGEINT AS sd2
               FROM diffs WHERE d IS NOT NULL GROUP BY 1)
         SELECT tau, (m1 + 1)::BIGINT AS m_blocks,
           floor(sd2::DOUBLE / (2.0 * m1 * (tau * tau)::DOUBLE) * 1e6
             + 0.5) / 1e6 AS avar,
           floor(sqrt(floor(sd2::DOUBLE /
               (2.0 * m1 * (tau * tau)::DOUBLE) * 1e6 + 0.5) / 1e6)
             * 1e6 + 0.5) / 1e6 AS adev
         FROM g ORDER BY tau""",
    // strict local extrema count vs the iid closed form
    "turning_points" ->
      """WITH daily0 AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  count(*)::BIGINT AS y
           FROM events GROUP BY 1),
         spine AS (
           SELECT unnest(range((SELECT min(day) FROM daily0),
                               (SELECT max(day) FROM daily0) + 1)) AS day),
         dense AS (
           SELECT s.day, coalesce(y, 0)::BIGINT AS y
           FROM spine s LEFT JOIN daily0 USING (day)),
         mk AS (SELECT (CASE WHEN (yp < y AND y > yn) OR
                             (yp > y AND y < yn) THEN 1 ELSE 0
                  END)::BIGINT AS tp
                FROM (SELECT y, lag(y) OVER (ORDER BY day) AS yp,
                        lead(y) OVER (ORDER BY day) AS yn
                      FROM dense)
                WHERE yp IS NOT NULL AND yn IS NOT NULL),
         g AS (SELECT (count(*) + 2)::BIGINT AS n, sum(tp)::BIGINT AS t
               FROM mk)
         SELECT n AS n_days, t AS turning_points,
           floor(2.0 * (n::DOUBLE - 2) / 3 * 1e6 + 0.5) / 1e6
             AS expected,
           floor((t::DOUBLE - 2.0 * (n::DOUBLE - 2) / 3) /
             sqrt((16.0 * n::DOUBLE - 29) / 90) * 1e6 + 0.5) / 1e6
             AS z_stat,
           (CASE WHEN abs(floor((t::DOUBLE - 2.0 * (n::DOUBLE - 2) / 3)
               / sqrt((16.0 * n::DOUBLE - 29) / 90) * 1e6 + 0.5) / 1e6)
               > 1.96 THEN 1 ELSE 0 END)::BIGINT AS nonrandom_flag
         FROM g""",
    // leave-one-day-out replicates closed-form from exact totals;
    // jackknife variance via the cross-multiplied integer identity
    "jackknife_ratio" ->
      """WITH daily AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  count(*)::BIGINT AS x,
                  sum(floor("value" * 1e6 + 0.5)::BIGINT)::BIGINT AS y6
           FROM events WHERE "value" IS NOT NULL GROUP BY 1),
         tot AS (SELECT sum(x)::BIGINT AS sx, sum(y6)::BIGINT AS sy6,
                   count(*)::BIGINT AS n
                 FROM daily),
         reps AS (SELECT sx, sy6, n,
                    floor((sy6 - y6)::DOUBLE / (sx - x)::DOUBLE / 1e6
                      * 1e9 + 0.5)::BIGINT AS r9
                  FROM daily, tot),
         g AS (SELECT sx, sy6, n, sum(r9)::HUGEINT AS sr,
                 sum(r9::HUGEINT * r9::HUGEINT)::HUGEINT AS sr2
               FROM reps GROUP BY 1, 2, 3)
         SELECT n AS n_days,
           floor(sy6::DOUBLE / sx::DOUBLE / 1e6 * 1e6 + 0.5) / 1e6
             AS ratio,
           floor(sqrt((n::DOUBLE - 1) / n::DOUBLE *
               ((n::DOUBLE * sr2::DOUBLE - sr::DOUBLE * sr::DOUBLE) /
                (n::DOUBLE * n::DOUBLE)) / 1e18) * 1e6 + 0.5) / 1e6
             AS jk_se,
           floor((sy6::DOUBLE / sx::DOUBLE / 1e6 - 1.96 *
             sqrt((n::DOUBLE - 1) / n::DOUBLE *
               ((n::DOUBLE * sr2::DOUBLE - sr::DOUBLE * sr::DOUBLE) /
                (n::DOUBLE * n::DOUBLE)) / 1e18)) * 1e6 + 0.5) / 1e6
             AS ci_lo,
           floor((sy6::DOUBLE / sx::DOUBLE / 1e6 + 1.96 *
             sqrt((n::DOUBLE - 1) / n::DOUBLE *
               ((n::DOUBLE * sr2::DOUBLE - sr::DOUBLE * sr::DOUBLE) /
                (n::DOUBLE * n::DOUBLE)) / 1e18)) * 1e6 + 0.5) / 1e6
             AS ci_hi
         FROM g""",
    // exact integer squared differences per lag, one division
    "variogram" ->
      """WITH daily0 AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  count(*)::BIGINT AS y
           FROM events GROUP BY 1),
         spine AS (
           SELECT unnest(range((SELECT min(day) FROM daily0),
                               (SELECT max(day) FROM daily0) + 1)) AS day),
         dense AS (
           SELECT s.day, coalesce(y, 0)::BIGINT AS y
           FROM spine s LEFT JOIN daily0 USING (day)),
         tl AS (SELECT row_number() OVER (ORDER BY day)::BIGINT AS t, y
                FROM dense),
         lags AS (SELECT unnest(range(1, 8))::INT AS lag),
         pairs AS (SELECT l.lag, a.y AS ya, b.y AS yb
                   FROM lags l JOIN tl a ON true
                   JOIN tl b ON b.t = a.t + l.lag),
         g AS (SELECT lag, count(*)::BIGINT AS n_pairs,
                 sum((yb - ya) * (yb - ya))::HUGEINT AS ss
               FROM pairs GROUP BY 1)
         SELECT lag, n_pairs,
           floor(ss::DOUBLE / (2.0 * n_pairs::DOUBLE) * 1e6 + 0.5) / 1e6
             AS gamma
         FROM g ORDER BY lag""",
    // per-hour rates on a 1e-9 grid, equal-weight average vs raw
    "post_stratify" ->
      """WITH byh AS (
           SELECT extract(hour FROM ts)::INT AS h, count(*)::BIGINT AS n,
                  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                    END)::BIGINT AS k
           FROM events GROUP BY 1),
         g AS (SELECT count(*)::BIGINT AS n_strata, sum(n)::BIGINT AS nn,
                 sum(k)::BIGINT AS kk,
                 sum(floor(k::DOUBLE / n::DOUBLE * 1e9 + 0.5)::BIGINT)
                   ::BIGINT AS sp9
               FROM byh)
         SELECT n_strata, nn AS n_events,
           floor(kk::DOUBLE / nn::DOUBLE * 1e6 + 0.5) / 1e6 AS p_raw,
           floor(sp9::DOUBLE / 1e9 / n_strata::DOUBLE * 1e6 + 0.5) / 1e6
             AS p_post,
           floor((sp9::DOUBLE / 1e9 / n_strata::DOUBLE -
             kk::DOUBLE / nn::DOUBLE) * 1e6 + 0.5) / 1e6 AS mix_shift
         FROM g""",
    // Newman categorical mixing r = (MS - P)/(M^2 - P), exact cells
    "homophily_brand" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem),
         und AS (SELECT a.pk AS s1, b.pk AS s2, count(*)::BIGINT AS c
                 FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
                 GROUP BY 1, 2),
         e AS (SELECT s1 AS i, s2 AS j FROM und WHERE c >= 2
               UNION ALL SELECT s2, s1 FROM und WHERE c >= 2),
         eb AS (SELECT e.i, e.j, pi.p_brand AS bi, pj.p_brand AS bj
                FROM e JOIN part pi ON e.i = pi.p_partkey
                JOIN part pj ON e.j = pj.p_partkey),
         tot AS (SELECT count(*)::BIGINT AS m,
                   sum(CASE WHEN bi = bj THEN 1 ELSE 0 END)::BIGINT AS s
                 FROM eb),
         marg AS (SELECT sum(d * d)::HUGEINT AS p,
                    count(*)::BIGINT AS n_brands
                  FROM (SELECT bi, count(*)::BIGINT AS d FROM eb
                        GROUP BY 1))
         SELECT n_brands, m AS m_edges,
           floor(s::DOUBLE / m::DOUBLE * 1e6 + 0.5) / 1e6 AS same_share,
           floor((m::DOUBLE * s::DOUBLE - p::DOUBLE) /
             (m::DOUBLE * m::DOUBLE - p::DOUBLE) * 1e6 + 0.5) / 1e6
             AS assortativity
         FROM tot, marg""",
    // both log coordinates pinned to 1e-9 grids before the exact
    // sufficient-statistic sums
    "price_elasticity" ->
      """WITH qty AS (SELECT l_partkey,
                  floor(sum(l_quantity) + 0.5)::BIGINT AS qy
                FROM lineitem GROUP BY 1),
         pts AS (SELECT
             floor(ln((floor(p_retailprice * 100 + 0.5)::BIGINT)
               ::DOUBLE) * 1e9 + 0.5)::BIGINT AS x9,
             floor(ln(qy::DOUBLE) * 1e9 + 0.5)::BIGINT AS y9
           FROM qty JOIN part ON l_partkey = p_partkey),
         g AS (SELECT count(*)::BIGINT AS n, sum(x9)::HUGEINT AS sx,
                 sum(y9)::HUGEINT AS sy,
                 sum(x9::HUGEINT * x9::HUGEINT)::HUGEINT AS sxx,
                 sum(x9::HUGEINT * y9::HUGEINT)::HUGEINT AS sxy,
                 sum(y9::HUGEINT * y9::HUGEINT)::HUGEINT AS syy
               FROM pts),
         f AS (SELECT n,
                 (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                   AS num,
                 (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                   AS dx,
                 (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)
                   AS dy,
                 sx::DOUBLE AS sxd, sy::DOUBLE AS syd
               FROM g)
         SELECT n AS n_parts,
           floor(num / dx * 1e6 + 0.5) / 1e6 AS elasticity,
           floor((syd - num / dx * sxd) / n::DOUBLE / 1e9 * 1e6 + 0.5)
             / 1e6 AS intercept,
           floor(num / dx * (num / dy) * 1e6 + 0.5) / 1e6 AS r2
         FROM f""",
    // decomposable entropy-family indices; per-customer terms on a
    // 1e-9 grid, one ln/exp of exact aggregates
    "inequality_indices" ->
      """WITH spend AS (
           SELECT o_custkey,
             sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS x
           FROM orders GROUP BY 1),
         tot AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx
                 FROM spend WHERE x > 0),
         nz AS (SELECT count(*)::BIGINT AS n_zero FROM spend
                WHERE x <= 0),
         terms AS (SELECT n, sx,
             floor((x::DOUBLE * n::DOUBLE / sx::DOUBLE) *
               ln(x::DOUBLE * n::DOUBLE / sx::DOUBLE) * 1e9 + 0.5)
               ::BIGINT AS tt9,
             floor(ln(x::DOUBLE) * 1e9 + 0.5)::BIGINT AS lx9
           FROM spend, tot WHERE x > 0),
         g AS (SELECT n, sx, sum(tt9)::HUGEINT AS st,
                 sum(lx9)::HUGEINT AS sl
               FROM terms GROUP BY 1, 2)
         SELECT n AS n_customers, n_zero,
           floor(st::DOUBLE / 1e9 / n::DOUBLE * 1e6 + 0.5) / 1e6
             AS theil_t,
           floor((ln(sx::DOUBLE / n::DOUBLE) -
             sl::DOUBLE / 1e9 / n::DOUBLE) * 1e6 + 0.5) / 1e6
             AS theil_l,
           floor((1.0 - exp(sl::DOUBLE / 1e9 / n::DOUBLE) /
             (sx::DOUBLE / n::DOUBLE)) * 1e6 + 0.5) / 1e6 AS atkinson_1
         FROM g, nz""",
    // |x*n - S| exact deviations, one division by 2nS
    "hoover_index" ->
      """WITH spend AS (
           SELECT o_custkey,
             sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS x
           FROM orders GROUP BY 1),
         tot AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx
                 FROM spend),
         d AS (SELECT n, sx,
                 sum(abs(x::HUGEINT * n - sx))::HUGEINT AS sd
               FROM spend, tot GROUP BY 1, 2)
         SELECT n AS n_customers,
           floor(sd::DOUBLE / (2.0 * n::DOUBLE * sx::DOUBLE) * 1e6
             + 0.5) / 1e6 AS hoover
         FROM d""",
    // per-term sqrt(p*q) on a 1e-9 grid; BC clamped at 1
    "hellinger_distance" ->
      """WITH ytk AS (
           SELECT source,
             list_filter(list_transform(
               string_split_regex(lower(text), '\s+'),
               t -> regexp_replace(t, '(^[^a-z]+|[^a-z]+$)', '', 'g')),
               t -> len(t) > 0) AS ts
           FROM documents WHERE source IN ('src0', 'src1')),
         tf AS (SELECT t,
                  sum(CASE WHEN source = 'src0' THEN 1 ELSE 0
                    END)::BIGINT AS c1,
                  sum(CASE WHEN source = 'src1' THEN 1 ELSE 0
                    END)::BIGINT AS c2
                FROM (SELECT source, unnest(ts) AS t FROM ytk)
                GROUP BY 1),
         tot AS (SELECT sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2,
                   sum(CASE WHEN c1 > 0 AND c2 > 0 THEN 1 ELSE 0
                     END)::BIGINT AS vocab_both
                 FROM tf),
         bc AS (SELECT sum(floor(sqrt((c1 * c2)::DOUBLE /
                  (n1::DOUBLE * n2::DOUBLE)) * 1e9 + 0.5)::BIGINT)
                  ::BIGINT AS bc9
                FROM tf, tot)
         SELECT n1, n2, vocab_both,
           floor(bc9::DOUBLE / 1e9 * 1e6 + 0.5) / 1e6 AS bc,
           floor(sqrt(greatest(0.0, 1.0 - bc9::DOUBLE / 1e9)) * 1e6
             + 0.5) / 1e6 AS hellinger
         FROM bc, tot""",
    "permutation_entropy" -> {
      val ln6 = math.log(6.0)
      s"""WITH daily0 AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  count(*)::BIGINT AS y
           FROM events GROUP BY 1),
         spine AS (
           SELECT unnest(range((SELECT min(day) FROM daily0),
                               (SELECT max(day) FROM daily0) + 1)) AS day),
         dense AS (
           SELECT s.day, coalesce(y, 0)::BIGINT AS y
           FROM spine s LEFT JOIN daily0 USING (day)),
         tr AS (SELECT ((CASE WHEN y <= y1 THEN 1 ELSE 0 END) * 4 +
                  (CASE WHEN y <= y2 THEN 1 ELSE 0 END) * 2 +
                  (CASE WHEN y1 <= y2 THEN 1 ELSE 0 END))::BIGINT
                  AS pid
                FROM (SELECT y, lead(y, 1) OVER (ORDER BY day) AS y1,
                        lead(y, 2) OVER (ORDER BY day) AS y2
                      FROM dense)
                WHERE y2 IS NOT NULL),
         pats AS (SELECT pid, count(*)::BIGINT AS c FROM tr GROUP BY 1),
         tot AS (SELECT sum(c)::BIGINT AS nn,
                   count(*)::BIGINT AS n_patterns
                 FROM pats),
         h AS (SELECT coalesce(sum(CAST(floor(
                  (-(c::DOUBLE / nn::DOUBLE)) *
                    ln(c::DOUBLE / nn::DOUBLE) * 1e9 + 0.5) AS BIGINT)),
                  0)::BIGINT AS h9
               FROM pats, tot)
         SELECT nn AS n_triples, n_patterns,
           floor(h9::DOUBLE / 1e9 * 1e6 + 0.5) / 1e6 AS h_nats,
           floor(h9::DOUBLE / 1e9 / ($ln6) * 1e6 + 0.5) / 1e6 AS h_norm
         FROM h, tot"""
    },
    // per-source -p ln p on a 1e-9 grid, one division by exact ln k
    "pielou_evenness" ->
      """WITH per AS (SELECT source, count(*)::BIGINT AS c
                      FROM documents GROUP BY 1),
         tot AS (SELECT sum(c)::BIGINT AS nn, count(*)::BIGINT AS k
                 FROM per),
         h AS (SELECT sum(CAST(floor((-(c::DOUBLE / nn::DOUBLE)) *
                  ln(c::DOUBLE / nn::DOUBLE) * 1e9 + 0.5) AS BIGINT))
                  ::BIGINT AS h9
               FROM per, tot)
         SELECT k AS k_sources, nn AS n_docs,
           floor(h9::DOUBLE / 1e9 * 1e6 + 0.5) / 1e6 AS h_nats,
           floor(h9::DOUBLE / 1e9 / ln(k::DOUBLE) * 1e6 + 0.5) / 1e6
             AS evenness
         FROM h, tot""",
    // pair-set overlap of the two detectors' full pipelines
    "detector_agreement" -> s"""WITH ja AS ($JaccardSql),
         sa AS ($SimhashSql),
         j AS (SELECT coalesce(l.ina, 0)::BIGINT AS ina,
                 coalesce(r.inb, 0)::BIGINT AS inb
               FROM (SELECT doc_a, doc_b, 1::BIGINT AS ina FROM ja) l
               FULL OUTER JOIN
                 (SELECT doc_a, doc_b, 1::BIGINT AS inb FROM sa) r
               USING (doc_a, doc_b))
         SELECT sum(ina * inb)::BIGINT AS n_both,
           sum(ina * (1 - inb))::BIGINT AS n_only_jaccard,
           sum((1 - ina) * inb)::BIGINT AS n_only_simhash,
           CASE WHEN count(*) > 0
             THEN floor(sum(ina * inb)::DOUBLE / count(*)::DOUBLE * 1e6
               + 0.5) / 1e6
             ELSE 1.0 END AS agreement
         FROM j""",
    // cross-multiplied cumulative quantile rule per type, grid gaps
    "quantile_gap" ->
      """WITH vi AS (
           SELECT event_type, floor("value" * 1e6 + 0.5)::BIGINT AS v6,
                  count(*)::BIGINT AS cnt
           FROM events
           WHERE "value" IS NOT NULL
             AND event_type IN ('click', 'purchase')
           GROUP BY 1, 2),
         tot AS (SELECT event_type AS et, sum(cnt)::BIGINT AS n
                 FROM vi GROUP BY 1),
         cum AS (SELECT event_type, v6,
                   sum(cnt) OVER (PARTITION BY event_type
                     ORDER BY v6)::BIGINT AS cum
                 FROM vi),
         qs AS (SELECT unnest([50, 90])::INT AS q_pct),
         picks AS (SELECT event_type, q_pct, min(v6) AS v6
                   FROM cum JOIN tot ON event_type = et CROSS JOIN qs
                   WHERE cum * 100 >= q_pct * n
                   GROUP BY 1, 2)
         SELECT q_pct,
           floor(a.v6::DOUBLE / 1e6 * 1e6 + 0.5) / 1e6 AS q_a,
           floor(b.v6::DOUBLE / 1e6 * 1e6 + 0.5) / 1e6 AS q_b,
           floor((a.v6 - b.v6)::DOUBLE / 1e6 * 1e6 + 0.5) / 1e6 AS gap
         FROM (SELECT q_pct, v6 FROM picks WHERE event_type = 'click') a
         JOIN (SELECT q_pct, v6 FROM picks
               WHERE event_type = 'purchase') b USING (q_pct)
         ORDER BY q_pct""",
    // exact integer partial sums + Bartlett lag products; one division
    "kpss_test" ->
      """WITH daily0 AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  count(*)::BIGINT AS y
           FROM events GROUP BY 1),
         spine AS (
           SELECT unnest(range((SELECT min(day) FROM daily0),
                               (SELECT max(day) FROM daily0) + 1)) AS day),
         dense AS (
           SELECT s.day, coalesce(y, 0)::BIGINT AS y
           FROM spine s LEFT JOIN daily0 USING (day)),
         st AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS sy
                FROM dense),
         ee AS (SELECT day, n, (y * n - sy)::BIGINT AS e
                FROM dense, st),
         c AS (SELECT n, e,
                 sum(e) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                   ::BIGINT AS sp,
                 lag(e, 1) OVER (ORDER BY day) AS e1,
                 lag(e, 2) OVER (ORDER BY day) AS e2,
                 lag(e, 3) OVER (ORDER BY day) AS e3,
                 lag(e, 4) OVER (ORDER BY day) AS e4,
                 lag(e, 5) OVER (ORDER BY day) AS e5
               FROM ee),
         g AS (SELECT n, sum(sp::HUGEINT * sp)::HUGEINT AS ssq,
                 sum(e::HUGEINT * e)::HUGEINT AS g0,
                 sum(e::HUGEINT * e1)::HUGEINT AS g1,
                 sum(e::HUGEINT * e2)::HUGEINT AS g2,
                 sum(e::HUGEINT * e3)::HUGEINT AS g3,
                 sum(e::HUGEINT * e4)::HUGEINT AS g4,
                 sum(e::HUGEINT * e5)::HUGEINT AS g5
               FROM c GROUP BY n),
         f AS (SELECT n, ssq,
                 (g0 * 6 + 2 * (5 * g1 + 4 * g2 + 3 * g3 + 2 * g4
                   + 1 * g5))::HUGEINT AS lrn
               FROM g),
         z AS (SELECT n,
                 CASE WHEN lrn > 0
                   THEN floor(ssq::DOUBLE * 6.0 /
                     (n::DOUBLE * lrn::DOUBLE) * 1e6 + 0.5) / 1e6
                   ELSE 0.0 END AS eta
               FROM f)
         SELECT n AS n_obs, eta,
           (CASE WHEN eta > 0.463 THEN 1 ELSE 0 END)::BIGINT
             AS nonstationary_flag
         FROM z""",
    // residuals as exact integers R = bden(ny−Σy) − bnum(nx−Σx);
    // the n·bden scale cancels in every DF ratio
    "engle_granger" ->
      """WITH d0 AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0
                    END)::BIGINT AS x,
                  sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                    END)::BIGINT AS y
           FROM events WHERE event_type IN ('view', 'click')
           GROUP BY 1),
         spine AS (
           SELECT unnest(range((SELECT min(day) FROM d0),
                               (SELECT max(day) FROM d0) + 1)) AS day),
         dense AS (
           SELECT s.day, coalesce(x, 0)::BIGINT AS x,
                  coalesce(y, 0)::BIGINT AS y
           FROM spine s LEFT JOIN d0 USING (day)),
         g AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
                 sum(y)::BIGINT AS sy, sum(x * x)::BIGINT AS sxx,
                 sum(x * y)::BIGINT AS sxy
               FROM dense),
         o AS (SELECT n, sx, sy,
                 (n * sxy - sx * sy)::BIGINT AS bnum,
                 (n * sxx - sx * sx)::BIGINT AS bden
               FROM g),
         r AS (SELECT day, n, bnum, bden,
                 (bden::HUGEINT * (y * n - sy) -
                  bnum::HUGEINT * (x * n - sx))::HUGEINT AS r
               FROM dense, o),
         l AS (SELECT n, bnum, bden,
                 lag(r) OVER (ORDER BY day) AS rl,
                 (r - lag(r) OVER (ORDER BY day))::HUGEINT AS dr
               FROM r),
         m AS (SELECT n, bnum, bden, count(*)::BIGINT AS m,
                 sum(rl * dr)::HUGEINT AS srd,
                 sum(rl * rl)::HUGEINT AS srr,
                 sum(dr * dr)::HUGEINT AS sdd
               FROM l WHERE rl IS NOT NULL GROUP BY 1, 2, 3),
         f AS (SELECT n, bnum, bden, srr,
                 (bden != 0) AS okb,
                 (bden != 0 AND srr != 0) AS ok,
                 srd::DOUBLE / srr::DOUBLE AS gam,
                 (sdd::DOUBLE - srd::DOUBLE / srr::DOUBLE * srd::DOUBLE)
                   AS sse, m
               FROM m),
         t AS (SELECT n, bnum, bden, okb, ok, gam,
                 gam / sqrt(sse / (m::DOUBLE - 1) / srr::DOUBLE) AS t
               FROM f)
         SELECT n AS n_days,
           CASE WHEN okb THEN floor(bnum::DOUBLE / bden::DOUBLE * 1e6
             + 0.5) / 1e6 ELSE 0.0 END AS beta,
           CASE WHEN ok THEN floor(gam * 1e6 + 0.5) / 1e6
             ELSE 0.0 END AS rho_gamma,
           CASE WHEN ok THEN floor(t * 1e4 + 0.5) / 1e4
             ELSE 0.0 END AS eg_t,
           (CASE WHEN ok AND floor(t * 1e4 + 0.5) / 1e4 < -3.37
             THEN 1 ELSE 0 END)::BIGINT AS cointegrated_flag
         FROM t""",
    // midrank ties in half-units on exact cent totals
    "friedman_test" ->
      """WITH cells AS (
           SELECT (year(l_shipdate) * 100 + month(l_shipdate))::BIGINT
               AS blk,
             l_returnflag AS trt,
             sum(floor(l_extendedprice * 100 + 0.5)::BIGINT)::BIGINT
               AS v
           FROM lineitem GROUP BY 1, 2),
         k AS (SELECT count(DISTINCT trt)::BIGINT AS k FROM cells),
         nb AS (SELECT blk, count(*)::BIGINT AS nb FROM cells
                GROUP BY 1),
         cb AS (SELECT c.blk, trt, v, k FROM cells c
                JOIN nb USING (blk), k WHERE nb = k),
         rk AS (SELECT blk, trt, k,
                  (2 * rank() OVER (PARTITION BY blk ORDER BY v) +
                   count(*) OVER (PARTITION BY blk, v) - 1)::BIGINT
                    AS r2
                FROM cb),
         sums AS (SELECT trt, k, count(DISTINCT blk)::BIGINT AS b,
                    sum(r2)::BIGINT AS rj
                  FROM rk GROUP BY 1, 2),
         g AS (SELECT k, b, sum(rj * rj)::BIGINT AS ssr
               FROM sums GROUP BY 1, 2),
         z AS (SELECT b, k,
                 floor((3.0 * ssr::DOUBLE /
                   (b::DOUBLE * k::DOUBLE * (k::DOUBLE + 1)) -
                   3.0 * b::DOUBLE * (k::DOUBLE + 1)) * 1e6 + 0.5)
                   / 1e6 AS q_stat
               FROM g)
         SELECT b AS n_blocks, k AS k_treatments, q_stat,
           (CASE WHEN q_stat > 5.991 THEN 1 ELSE 0 END)::BIGINT
             AS reject_flag
         FROM z""",
    // grouped (2i−1) runs: 2sc+c² and 2c(n−s)−c²; logs on the 1e-9 grid
    "anderson_darling" ->
      """WITH byv AS (
           SELECT l_quantity::BIGINT AS v, count(*)::BIGINT AS c
           FROM lineitem WHERE l_quantity BETWEEN 1 AND 50
           GROUP BY 1),
         tot AS (SELECT sum(c)::BIGINT AS n FROM byv),
         cum AS (SELECT v, c, n,
                   coalesce(sum(c) OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0)::BIGINT AS s
                 FROM byv, tot),
         t AS (SELECT n,
                 ((2 * s * c + c * c)::HUGEINT *
                    floor(ln((v::DOUBLE - 0.5) / 50.0) * 1e9 + 0.5)
                      ::BIGINT +
                  (2 * c * (n - s) - c * c)::HUGEINT *
                    floor(ln(1.0 - (v::DOUBLE - 0.5) / 50.0) * 1e9
                      + 0.5)::BIGINT)::HUGEINT AS t9
               FROM cum),
         g AS (SELECT n, sum(t9)::HUGEINT AS s9 FROM t GROUP BY 1),
         z AS (SELECT n,
                 floor((-(n::DOUBLE) - s9::DOUBLE /
                   (n::DOUBLE * 1e9)) * 1e6 + 0.5) / 1e6 AS a2
               FROM g)
         SELECT n AS n_rows, a2,
           (CASE WHEN a2 > 2.492 THEN 1 ELSE 0 END)::BIGINT
             AS reject_flag
         FROM z""",
    // ratio of totals + linearization se from exact cent moments
    "delta_method_ratio" ->
      """WITH pu AS (
           SELECT (user_id % 2)::BIGINT AS arm, user_id,
             sum(floor("value" * 100 + 0.5)::BIGINT)::BIGINT AS x,
             count(*)::BIGINT AS y
           FROM events GROUP BY 1, 2),
         m AS (SELECT arm, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
                 sum(y)::BIGINT AS sy,
                 sum(x::HUGEINT * x)::HUGEINT AS sxx,
                 sum(x::HUGEINT * y)::HUGEINT AS sxy,
                 sum(y::HUGEINT * y)::HUGEINT AS syy
               FROM pu GROUP BY 1),
         a AS (SELECT arm, n,
                 sx::DOUBLE / sy::DOUBLE AS r,
                 (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) /
                   (n::DOUBLE * n::DOUBLE) AS vx,
                 (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) /
                   (n::DOUBLE * n::DOUBLE) AS cxy,
                 (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) /
                   (n::DOUBLE * n::DOUBLE) AS vy,
                 sy::DOUBLE / n::DOUBLE AS muy
               FROM m),
         b AS (SELECT arm, n, r / 100.0 AS ratio,
                 sqrt(greatest(0.0,
                   (vx - 2.0 * r * cxy + r * r * vy) /
                   (n::DOUBLE * muy * muy))) / 100.0 AS se
               FROM a),
         p AS (SELECT
                 sum(CASE WHEN arm = 0 THEN n END)::BIGINT AS n0,
                 sum(CASE WHEN arm = 1 THEN n END)::BIGINT AS n1,
                 max(CASE WHEN arm = 0 THEN ratio END) AS r0,
                 max(CASE WHEN arm = 1 THEN ratio END) AS r1,
                 max(CASE WHEN arm = 0 THEN se END) AS e0,
                 max(CASE WHEN arm = 1 THEN se END) AS e1
               FROM b)
         SELECT n0, n1,
           floor(r0 * 1e6 + 0.5) / 1e6 AS ratio_0,
           floor(r1 * 1e6 + 0.5) / 1e6 AS ratio_1,
           floor(e0 * 1e6 + 0.5) / 1e6 AS se_0,
           floor(e1 * 1e6 + 0.5) / 1e6 AS se_1,
           CASE WHEN e0 * e0 + e1 * e1 > 0
             THEN floor((r1 - r0) / sqrt(e0 * e0 + e1 * e1) * 1e4
               + 0.5) / 1e4
             ELSE 0.0 END AS z_diff
         FROM p""",
    // Cramer's rule on exact HUGEINT determinants; χ²(1) flag at 3.84
    "granger_causality" ->
      """WITH d0 AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0
                    END)::BIGINT AS v,
                  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                    END)::BIGINT AS p
           FROM events WHERE event_type IN ('view', 'purchase')
           GROUP BY 1),
         spine AS (
           SELECT unnest(range((SELECT min(day) FROM d0),
                               (SELECT max(day) FROM d0) + 1)) AS day),
         dense AS (
           SELECT s.day, coalesce(v, 0)::BIGINT AS v,
                  coalesce(p, 0)::BIGINT AS p
           FROM spine s LEFT JOIN d0 USING (day)),
         rows0 AS (SELECT p AS yt,
                     lag(p) OVER (ORDER BY day) AS yl,
                     lag(v) OVER (ORDER BY day) AS xl
                   FROM dense),
         r AS (SELECT yt, yl, xl FROM rows0 WHERE yl IS NOT NULL),
         g AS (SELECT count(*)::BIGINT AS n, sum(yt)::BIGINT AS st,
                 sum(yl)::BIGINT AS sl, sum(xl)::BIGINT AS sx,
                 sum(yt * yt)::BIGINT AS stt,
                 sum(yt * yl)::BIGINT AS stl,
                 sum(yt * xl)::BIGINT AS stx,
                 sum(yl * yl)::BIGINT AS sll,
                 sum(yl * xl)::BIGINT AS slx,
                 sum(xl * xl)::BIGINT AS sxx
               FROM r),
         d AS (SELECT n, st, stl, stx, stt,
                 (n::HUGEINT * (sll::HUGEINT * sxx - slx::HUGEINT * slx)
                  - sl::HUGEINT * (sl::HUGEINT * sxx
                    - slx::HUGEINT * sx)
                  + sx::HUGEINT * (sl::HUGEINT * slx
                    - sll::HUGEINT * sx))::HUGEINT AS det,
                 (st::HUGEINT * (sll::HUGEINT * sxx - slx::HUGEINT * slx)
                  - sl::HUGEINT * (stl::HUGEINT * sxx
                    - slx::HUGEINT * stx)
                  + sx::HUGEINT * (stl::HUGEINT * slx
                    - sll::HUGEINT * stx))::HUGEINT AS deta,
                 (n::HUGEINT * (stl::HUGEINT * sxx - stx::HUGEINT * slx)
                  - st::HUGEINT * (sl::HUGEINT * sxx
                    - slx::HUGEINT * sx)
                  + sx::HUGEINT * (sl::HUGEINT * stx
                    - stl::HUGEINT * sx))::HUGEINT AS detb,
                 (n::HUGEINT * (sll::HUGEINT * stx - slx::HUGEINT * stl)
                  - sl::HUGEINT * (sl::HUGEINT * stx
                    - stl::HUGEINT * sx)
                  + st::HUGEINT * (sl::HUGEINT * slx
                    - sll::HUGEINT * sx))::HUGEINT AS detc,
                 (n::HUGEINT * stt - st::HUGEINT * st)::HUGEINT AS ncyy,
                 (n::HUGEINT * stl - st::HUGEINT * sl)::HUGEINT AS ncyl,
                 (n::HUGEINT * sll - sl::HUGEINT * sl)::HUGEINT AS ncll
               FROM g),
         e AS (SELECT n, det, deta, detb, detc, ncll,
                 (det * stt - (deta * st + detb * stl + detc * stx))
                   ::HUGEINT AS sseun,
                 ncyy, ncyl
               FROM d),
         f AS (SELECT n, det, detb, detc,
                 (det != 0 AND ncll != 0 AND sseun != 0) AS ok,
                 sseun::DOUBLE / det::DOUBLE AS sseu,
                 (ncyy::DOUBLE - ncyl::DOUBLE * ncyl::DOUBLE /
                   ncll::DOUBLE) / n::DOUBLE AS sser
               FROM e),
         z AS (SELECT n, det, detb, detc, ok,
                 (sser - sseu) * (n::DOUBLE - 3) / sseu AS fstat
               FROM f)
         SELECT n AS n_obs,
           CASE WHEN ok THEN floor(detb::DOUBLE / det::DOUBLE * 1e6
             + 0.5) / 1e6 ELSE 0.0 END AS b_ylag,
           CASE WHEN ok THEN floor(detc::DOUBLE / det::DOUBLE * 1e6
             + 0.5) / 1e6 ELSE 0.0 END AS c_xlag,
           CASE WHEN ok THEN floor(fstat * 1e4 + 0.5) / 1e4
             ELSE 0.0 END AS f_stat,
           (CASE WHEN ok AND floor(fstat * 1e4 + 0.5) / 1e4 > 3.84
             THEN 1 ELSE 0 END)::BIGINT AS causal_flag
         FROM z""",
    "eigenvector_centrality" -> eigenvectorOracleSql(6, 20),
    // exact integer gain numerators 2m·w_ij − k_i·k_j, argmax per src
    "louvain_move_gains" ->
      """WITH pw AS MATERIALIZED (
           SELECT o_custkey AS c, l_suppkey + 1000000 AS sup,
                  count(*)::BIGINT AS w
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
           GROUP BY 1, 2),
         we AS MATERIALIZED (
           SELECT c AS src, sup AS dst, w FROM pw
           UNION ALL SELECT sup, c, w FROM pw),
         deg AS (SELECT src, sum(w)::BIGINT AS kk FROM we GROUP BY 1),
         tot AS (SELECT sum(w)::BIGINT AS m2 FROM we),
         g AS (SELECT e.src, e.dst, m2,
                 (m2::HUGEINT * e.w - d1.kk::HUGEINT * d2.kk)::HUGEINT
                   AS num
               FROM we e JOIN deg d1 ON d1.src = e.src
                 JOIN deg d2 ON d2.src = e.dst, tot),
         pick AS (SELECT src, dst, num, m2,
                    row_number() OVER (PARTITION BY src
                      ORDER BY num DESC, dst) AS rn
                  FROM g),
         best AS (SELECT src, dst, num, m2 FROM pick WHERE rn = 1),
         summ AS (SELECT count(*)::BIGINT AS n_nodes,
                    sum(CASE WHEN num > 0 THEN 1 ELSE 0 END)::BIGINT
                      AS n_moved,
                    sum(CASE WHEN num > 0 THEN num ELSE 0 END)::HUGEINT
                      AS gs,
                    max(m2)::BIGINT AS m2s
                  FROM best)
         SELECT n_nodes, n_moved,
           floor(2.0 * gs::DOUBLE / (m2s::DOUBLE * m2s::DOUBLE) * 1e9
             + 0.5) / 1e9 AS total_gain,
           src, dst AS best_dst,
           floor(2.0 * num::DOUBLE / (m2::DOUBLE * m2::DOUBLE) * 1e9
             + 0.5) / 1e9 AS gain
         FROM best, summ ORDER BY num DESC, src LIMIT 15""",
    // integer 10⁹ div deg wedge weights — no float anywhere
    "resource_allocation" -> s"""WITH $GraphCte,
         dg AS (SELECT c, count(*)::BIGINT AS deg FROM pairs
                GROUP BY 1 HAVING count(*) BETWEEN 2 AND 64),
         wb AS (SELECT p.c, p.sup, (1000000000 // d.deg)::BIGINT AS w9
                FROM pairs p JOIN dg d USING (c)),
         sc AS (SELECT a.sup AS s1, b.sup AS s2,
                  count(*)::BIGINT AS common, sum(a.w9)::BIGINT AS ra9
                FROM wb a JOIN wb b ON a.c = b.c AND a.sup < b.sup
                GROUP BY 1, 2)
         SELECT s1, s2, common, ra9 FROM sc
         ORDER BY ra9 DESC, s1, s2 LIMIT 50""",
    // exact C_j/R_i integer moments; all-agree denominator gates to 0
    "cochrans_q" ->
      """WITH f AS (
           SELECT (CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END)::BIGINT
               AS d1,
             (CASE WHEN regexp_matches(text, '[0-9]') THEN 1 ELSE 0
               END)::BIGINT AS d2,
             (CASE WHEN strpos(lower(text), ' the ') > 0 THEN 1 ELSE 0
               END)::BIGINT AS d3
           FROM documents),
         g AS (SELECT count(*)::BIGINT AS n_docs,
                 sum(d1)::BIGINT AS c1, sum(d2)::BIGINT AS c2,
                 sum(d3)::BIGINT AS c3,
                 sum(d1 + d2 + d3)::BIGINT AS nn,
                 sum((d1 + d2 + d3) * (d1 + d2 + d3))::BIGINT AS rr
               FROM f),
         z AS (SELECT n_docs, c1, c2, c3,
                 CASE WHEN 3 * nn - rr > 0
                   THEN floor((2::HUGEINT * (3::HUGEINT *
                     (c1::HUGEINT * c1 + c2::HUGEINT * c2 +
                      c3::HUGEINT * c3) - nn::HUGEINT * nn))::DOUBLE /
                     (3 * nn - rr)::DOUBLE * 1e6 + 0.5) / 1e6
                   ELSE 0.0 END AS q_stat
               FROM g)
         SELECT n_docs, c1, c2, c3, q_stat,
           (CASE WHEN q_stat > 5.991 THEN 1 ELSE 0 END)::BIGINT
             AS reject_flag
         FROM z""",
    // per-season sign pairs + tie-corrected Var(S) on exact integers
    "seasonal_mann_kendall" ->
      """WITH cell AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  extract(hour FROM ts)::INT AS hr,
                  count(*)::BIGINT AS y
           FROM events GROUP BY 1, 2),
         spine AS (
           SELECT unnest(range((SELECT min(day) FROM cell),
                               (SELECT max(day) FROM cell) + 1)) AS day),
         hrs AS (SELECT unnest(range(0, 24))::INT AS hr),
         grid AS (
           SELECT s.day, h.hr, coalesce(c.y, 0)::BIGINT AS y
           FROM spine s CROSS JOIN hrs h
           LEFT JOIN cell c ON c.day = s.day AND c.hr = h.hr),
         sp AS (SELECT sum(CASE WHEN b.y > a.y THEN 1
                           WHEN b.y < a.y THEN -1 ELSE 0 END)::BIGINT
                  AS s
                FROM grid a JOIN grid b
                  ON a.hr = b.hr AND a.day < b.day),
         nd AS (SELECT max(n)::BIGINT AS n FROM (
                  SELECT hr, count(*)::BIGINT AS n FROM grid
                  GROUP BY 1)),
         ties AS (SELECT coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)
                    ::BIGINT AS tsum
                  FROM (SELECT hr, y, count(*)::BIGINT AS t FROM grid
                        GROUP BY 1, 2) WHERE t > 1),
         z AS (SELECT n, s,
                 (24 * n * (n - 1) * (2 * n + 5) - tsum)::BIGINT
                   AS var18,
                 (CASE WHEN s > 0 THEN s - 1
                       WHEN s < 0 THEN s + 1 ELSE 0 END)::BIGINT
                   AS sadj
               FROM sp, nd, ties),
         zz AS (SELECT n, s,
                  CASE WHEN var18 > 0
                    THEN floor(sadj::DOUBLE /
                      sqrt(var18::DOUBLE / 18.0) * 1e6 + 0.5) / 1e6
                    ELSE 0.0 END AS z
                FROM z)
         SELECT n AS n_days, 24::BIGINT AS n_seasons, s, z,
           (CASE WHEN abs(z) > 1.959964 THEN 1 ELSE 0 END)::BIGINT
             AS trend_flag
         FROM zz""",
    // n·ΣΔ² / (n·Σy² − S²), one exact division; constant series → 2.0
    "durbin_watson" ->
      """WITH daily0 AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  count(*)::BIGINT AS y
           FROM events GROUP BY 1),
         spine AS (
           SELECT unnest(range((SELECT min(day) FROM daily0),
                               (SELECT max(day) FROM daily0) + 1)) AS day),
         dense AS (
           SELECT s.day, coalesce(y, 0)::BIGINT AS y
           FROM spine s LEFT JOIN daily0 USING (day)),
         l AS (SELECT y, lag(y) OVER (ORDER BY day) AS yl FROM dense),
         g AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS sy,
                 sum(y * y)::BIGINT AS syy,
                 sum(CASE WHEN yl IS NOT NULL
                   THEN (y - yl) * (y - yl) END)::BIGINT AS sdd
               FROM l),
         z AS (SELECT n,
                 CASE WHEN n * syy - sy * sy > 0
                   THEN floor(n::DOUBLE * sdd::DOUBLE /
                     (n * syy - sy * sy)::DOUBLE * 1e6 + 0.5) / 1e6
                   ELSE 2.0 END AS dw
               FROM g)
         SELECT n AS n_obs, dw,
           (CASE WHEN dw < 1.5 THEN 1 ELSE 0 END)::BIGINT
             AS pos_autocorr_flag,
           (CASE WHEN dw > 2.5 THEN 1 ELSE 0 END)::BIGINT
             AS neg_autocorr_flag
         FROM z""",
    // per-segment closed-form SSEs from exact moments; pooled row =
    // sum of the two segment rows (raw moments are additive)
    "chow_test" ->
      """WITH daily0 AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  count(*)::BIGINT AS y
           FROM events GROUP BY 1),
         spine AS (
           SELECT unnest(range((SELECT min(day) FROM daily0),
                               (SELECT max(day) FROM daily0) + 1)) AS day),
         dense0 AS (
           SELECT s.day, coalesce(y, 0)::BIGINT AS y
           FROM spine s LEFT JOIN daily0 USING (day)),
         bb AS (SELECT min(day)::BIGINT AS d0, max(day)::BIGINT AS d1
                FROM dense0),
         seg AS (SELECT
                   CASE WHEN (day - d0) <
                     floor((d1 - d0 + 1) / 2.0)::BIGINT
                     THEN 0 ELSE 1 END AS seg,
                   (day - d0)::BIGINT AS t, y
                 FROM dense0, bb),
         sg AS (SELECT seg, count(*)::BIGINT AS n, sum(t)::BIGINT AS st,
                  sum(y)::BIGINT AS sy, sum(t * t)::BIGINT AS stt,
                  sum(t * y)::BIGINT AS sty, sum(y * y)::BIGINT AS syy
                FROM seg GROUP BY 1),
         ps AS (SELECT seg, n, st, sy, stt, sty, syy,
                  (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)
                    AS syyc,
                  (n::DOUBLE * sty::DOUBLE - st::DOUBLE * sy::DOUBLE)
                    AS sxyc,
                  (n::DOUBLE * stt::DOUBLE - st::DOUBLE * st::DOUBLE)
                    AS sxxc
                FROM sg),
         pe AS (SELECT seg, n, st, sy, stt, sty, syy,
                  (syyc - sxyc * sxyc /
                    (CASE WHEN sxxc = 0.0 THEN 1.0 ELSE sxxc END)) /
                    n::DOUBLE AS ssei
                FROM ps),
         g AS (SELECT sum(n)::BIGINT AS n, sum(ssei) AS sse12,
                 sum(st)::BIGINT AS st, sum(sy)::BIGINT AS sy,
                 sum(stt)::BIGINT AS stt, sum(sty)::BIGINT AS sty,
                 sum(syy)::BIGINT AS syy, min(n)::BIGINT AS nmin
               FROM pe),
         gp AS (SELECT n, sse12, nmin,
                  (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)
                    AS syyc,
                  (n::DOUBLE * sty::DOUBLE - st::DOUBLE * sy::DOUBLE)
                    AS sxyc,
                  (n::DOUBLE * stt::DOUBLE - st::DOUBLE * st::DOUBLE)
                    AS sxxc
                FROM g),
         gf AS (SELECT n, sse12, nmin,
                  (syyc - sxyc * sxyc /
                    (CASE WHEN sxxc = 0.0 THEN 1.0 ELSE sxxc END)) /
                    n::DOUBLE AS ssep
                FROM gp),
         z AS (SELECT n, nmin, sse12,
                 (ssep - sse12) / 2.0 /
                   ((CASE WHEN sse12 <= 0.0 THEN 1.0 ELSE sse12 END) /
                    (n::DOUBLE - 4)) AS f
               FROM gf)
         SELECT n AS n_obs,
           CASE WHEN nmin >= 3 AND sse12 > 0.0
             THEN floor(f * 1e4 + 0.5) / 1e4 ELSE 0.0 END AS f_stat,
           (CASE WHEN nmin >= 3 AND sse12 > 0.0
               AND floor(f * 1e4 + 0.5) / 1e4 > 3.0
             THEN 1 ELSE 0 END)::BIGINT AS break_flag
         FROM z""",
    // half-unit midranks on |d|; z = 2(W⁺₂ − n(n+1)/2)/√Σr₂²
    "wilcoxon_signed_rank" ->
      """WITH daily AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0
                    END)::BIGINT AS x,
                  sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                    END)::BIGINT AS y
           FROM events WHERE event_type IN ('view', 'click')
           GROUP BY 1),
         d AS (SELECT (x - y)::BIGINT AS d FROM daily WHERE x - y != 0),
         rk AS (SELECT d,
                  (2 * rank() OVER (ORDER BY abs(d)) +
                   count(*) OVER (PARTITION BY abs(d)) - 1)::BIGINT
                    AS r2
                FROM d),
         g AS (SELECT count(*)::BIGINT AS n,
                 sum(CASE WHEN d > 0 THEN r2 ELSE 0 END)::BIGINT
                   AS wp2,
                 sum(r2 * r2)::BIGINT AS s22
               FROM rk),
         z AS (SELECT n, wp2,
                 CASE WHEN s22 > 0
                   THEN floor(2.0 * (wp2::DOUBLE -
                     n::DOUBLE * (n::DOUBLE + 1) / 2) /
                     sqrt((CASE WHEN s22 = 0 THEN 1 ELSE s22
                       END)::DOUBLE) * 1e6 + 0.5) / 1e6
                   ELSE 0.0 END AS z
               FROM g)
         SELECT n AS n_pairs, wp2, z,
           (CASE WHEN abs(z) > 1.959964 THEN 1 ELSE 0 END)::BIGINT
             AS shift_flag
         FROM z""",
    // signed cells: sum(sign·count); estimate = exact integer median
    "countsketch_audit" -> s"""$TokCte,
         cnt AS (SELECT t, count(*)::BIGINT AS exact
                 FROM (SELECT unnest(ts) AS t FROM toks) GROUP BY t),
         hx AS (SELECT t, exact,
                  (list_reduce(list_prepend(0::BIGINT,
                     list_transform(string_split(t, ''),
                       c -> ord(c)::BIGINT)),
                     (h, c) -> (h * 31 + c) % 1099511627776)) % 1048576
                    AS hv
                FROM cnt),
         cl AS (SELECT e.row AS row, e.cellv AS cellv,
                  sum(e.sgn * c)::BIGINT AS cellsum
                FROM (SELECT unnest([
                    {'row': 0, 'cellv': ((hv * 37 + 17) % 1048573) % 256,
                     'sgn': CASE WHEN ((hv * 131 + 19) % 1048573) % 2 = 1
                       THEN 1 ELSE -1 END},
                    {'row': 1, 'cellv': ((hv * 8191 + 257) % 1048573) % 256,
                     'sgn': CASE WHEN ((hv * 8209 + 263) % 1048573) % 2 = 1
                       THEN 1 ELSE -1 END},
                    {'row': 2, 'cellv': ((hv * 524287 + 65537) % 1048573)
                       % 256,
                     'sgn': CASE WHEN ((hv * 524309 + 65539) % 1048573) % 2
                       = 1 THEN 1 ELSE -1 END}]) AS e,
                    exact AS c
                  FROM hx)
                GROUP BY 1, 2),
         top AS (SELECT t, exact, hv FROM hx
                 ORDER BY exact DESC, t LIMIT 20),
         pr AS (SELECT t, exact, e.row AS row, e.cellv AS cellv,
                  e.sgn AS sgn
                FROM (SELECT t, exact, unnest([
                    {'row': 0, 'cellv': ((hv * 37 + 17) % 1048573) % 256,
                     'sgn': CASE WHEN ((hv * 131 + 19) % 1048573) % 2 = 1
                       THEN 1 ELSE -1 END},
                    {'row': 1, 'cellv': ((hv * 8191 + 257) % 1048573) % 256,
                     'sgn': CASE WHEN ((hv * 8209 + 263) % 1048573) % 2 = 1
                       THEN 1 ELSE -1 END},
                    {'row': 2, 'cellv': ((hv * 524287 + 65537) % 1048573)
                       % 256,
                     'sgn': CASE WHEN ((hv * 524309 + 65539) % 1048573) % 2
                       = 1 THEN 1 ELSE -1 END}]) AS e
                  FROM top))
         SELECT t AS term, exact,
           list_sort(list(sgn * cellsum))[2]::BIGINT AS est,
           (list_sort(list(sgn * cellsum))[2] - exact)::BIGINT AS error
         FROM pr JOIN cl USING (row, cellv)
         GROUP BY t, exact ORDER BY exact DESC, term""",
    // Chapman: N̂ = (n1+1)(n2+1)/(m+1) − 1 over the two pair sets
    "dedup_capture_recapture" -> s"""WITH ja AS ($JaccardSql),
         sa AS ($SimhashSql),
         j AS (SELECT coalesce(l.ina, 0)::BIGINT AS ina,
                 coalesce(r.inb, 0)::BIGINT AS inb
               FROM (SELECT doc_a, doc_b, 1::BIGINT AS ina FROM ja) l
               FULL OUTER JOIN
                 (SELECT doc_a, doc_b, 1::BIGINT AS inb FROM sa) r
               USING (doc_a, doc_b)),
         g AS (SELECT sum(ina)::BIGINT AS n1, sum(inb)::BIGINT AS n2,
                 sum(ina * inb)::BIGINT AS m,
                 count(*)::BIGINT AS n_union
               FROM j),
         c AS (SELECT n1, n2, m, n_union,
                 (n1::DOUBLE + 1) * (n2::DOUBLE + 1) /
                   (m::DOUBLE + 1) - 1 AS chap
               FROM g)
         SELECT n1 AS n_jaccard, n2 AS n_simhash, m AS n_both, n_union,
           floor(chap * 1e2 + 0.5) / 1e2 AS chapman_est,
           floor(greatest(0.0, chap - n_union::DOUBLE) * 1e2 + 0.5)
             / 1e2 AS est_missed
         FROM c""",
    // exact z'ᵢ = n·xᵢ − S; I = n·Σ_w z'z' / (W·Σz'²), one division
    "moran_i" ->
      """WITH li AS (
           SELECT l_orderkey, l_suppkey,
             floor(l_extendedprice * 100 + 0.5)::BIGINT AS cents
           FROM lineitem),
         x AS (SELECT l_suppkey AS sid, sum(cents)::BIGINT AS x
               FROM li GROUP BY 1),
         tot AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx
                 FROM x),
         z AS (SELECT sid, n, (x::HUGEINT * n - sx)::HUGEINT AS z
               FROM x, tot),
         dl AS (SELECT DISTINCT l_orderkey, l_suppkey FROM li),
         ok AS (SELECT l_orderkey FROM dl GROUP BY 1
                HAVING count(*) BETWEEN 2 AND 16),
         adj AS (SELECT d.l_orderkey, d.l_suppkey
                 FROM dl d JOIN ok USING (l_orderkey)),
         pairs0 AS (SELECT a.l_suppkey AS a, b.l_suppkey AS b,
                      count(*)::BIGINT AS c
                    FROM adj a JOIN adj b
                      ON a.l_orderkey = b.l_orderkey
                     AND a.l_suppkey < b.l_suppkey
                    GROUP BY 1, 2),
         np AS (SELECT count(*)::BIGINT AS np FROM pairs0),
         cum AS (SELECT c, sum(cnt) OVER (ORDER BY c
                   ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
                 FROM (SELECT c, count(*)::BIGINT AS cnt FROM pairs0
                       GROUP BY 1)),
         thr AS (SELECT min(c)::BIGINT AS thr FROM cum, np
                 WHERE cum * 10 >= np * 9),
         pairs AS (SELECT a, b FROM pairs0, thr WHERE c >= thr),
         num AS (SELECT coalesce(sum(za.z * zb.z), 0)::HUGEINT AS num,
                   count(*)::BIGINT AS npairs
                 FROM pairs p
                   JOIN z za ON za.sid = p.a
                   JOIN z zb ON zb.sid = p.b),
         den AS (SELECT sum(z * z)::HUGEINT AS den, max(n)::BIGINT AS n
                 FROM z),
         f AS (SELECT n, npairs * 2 AS w, num, den,
                 n::DOUBLE * (2.0 * num::DOUBLE) /
                   ((CASE WHEN npairs * 2 = 0 THEN 1
                     ELSE npairs * 2 END)::DOUBLE *
                    (CASE WHEN den = 0 THEN 1 ELSE den END)::DOUBLE)
                   AS i
               FROM num, den)
         SELECT n AS n_suppliers, w::BIGINT AS w_edges,
           CASE WHEN w > 0 AND den > 0
             THEN floor(i * 1e6 + 0.5) / 1e6 ELSE 0.0 END AS moran_i,
           floor(-1.0 / (n::DOUBLE - 1) * 1e6 + 0.5) / 1e6 AS e_i,
           (CASE WHEN w > 0 AND den > 0
               AND floor(i * 1e6 + 0.5) / 1e6 >
                 floor(-1.0 / (n::DOUBLE - 1) * 1e6 + 0.5) / 1e6
             THEN 1 ELSE 0 END)::BIGINT AS clustered_flag
         FROM f""",
    // L₂ = Σ j·R₂ over friedman's half-unit midranks; one-sided z
    "page_trend" ->
      """WITH cells AS (
           SELECT (year(l_shipdate) * 100 + month(l_shipdate))::BIGINT
               AS blk,
             l_returnflag AS trt,
             sum(floor(l_extendedprice * 100 + 0.5)::BIGINT)::BIGINT
               AS v
           FROM lineitem GROUP BY 1, 2),
         k AS (SELECT count(DISTINCT trt)::BIGINT AS k FROM cells),
         nb AS (SELECT blk, count(*)::BIGINT AS nb FROM cells
                GROUP BY 1),
         cb AS (SELECT c.blk, trt, v, k FROM cells c
                JOIN nb USING (blk), k WHERE nb = k),
         rk AS (SELECT blk, k,
                  dense_rank() OVER (ORDER BY trt)::BIGINT AS j,
                  (2 * rank() OVER (PARTITION BY blk ORDER BY v) +
                   count(*) OVER (PARTITION BY blk, v) - 1)::BIGINT
                    AS r2
                FROM cb),
         g AS (SELECT count(DISTINCT blk)::BIGINT AS b,
                 max(k)::BIGINT AS k, sum(j * r2)::BIGINT AS l2
               FROM rk),
         f AS (SELECT b, k, l2,
                 b::DOUBLE * k::DOUBLE * (k::DOUBLE + 1) *
                   (k::DOUBLE + 1) / 2 AS mean2,
                 b::DOUBLE * k::DOUBLE * k::DOUBLE * (k::DOUBLE + 1) *
                   (k::DOUBLE * k::DOUBLE - 1) / 36 AS vr
               FROM g),
         z AS (SELECT b, k, l2,
                 CASE WHEN vr > 0.0
                   THEN floor((l2::DOUBLE - mean2) /
                     sqrt(CASE WHEN vr <= 0.0 THEN 1.0 ELSE vr END)
                     * 1e6 + 0.5) / 1e6
                   ELSE 0.0 END AS z
               FROM f)
         SELECT b AS n_blocks, k AS k_treatments, l2, z,
           (CASE WHEN z > 1.644854 THEN 1 ELSE 0 END)::BIGINT
             AS trend_flag
         FROM z""",
    "facility_location_select" -> facilityOracleSql(5, 32),
    // half-unit rank-sum num₂ = Σp(2·cumn+n); Hanley–McNeil interval
    "auc_ci" -> s"""WITH lab AS (
           SELECT score AS s,
                  CASE WHEN label = 1 THEN 1 ELSE 0 END AS y
           FROM ($sgdApplyOracle)),
         g AS (SELECT s, sum(y)::BIGINT AS p, sum(1 - y)::BIGINT AS n
               FROM lab GROUP BY s),
         c AS (SELECT s, p, n,
                 coalesce(sum(n) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0)::BIGINT AS cumn
               FROM g),
         m AS (SELECT sum(p * (2 * cumn + n))::BIGINT AS num2,
                 sum(p)::BIGINT AS np, sum(n)::BIGINT AS nn
               FROM c),
         f AS (SELECT np, nn,
                 num2::DOUBLE / (2.0 * np::DOUBLE * nn::DOUBLE) AS a
               FROM m),
         f2 AS (SELECT np, nn, a,
                  sqrt(greatest(0.0,
                    (a * (1.0 - a) +
                     (np::DOUBLE - 1) * (a / (2.0 - a) - a * a) +
                     (nn::DOUBLE - 1) *
                       (2.0 * a * a / (1.0 + a) - a * a)) /
                    (np::DOUBLE * nn::DOUBLE))) AS se
                FROM f)
         SELECT np AS n_pos, nn AS n_neg,
           CASE WHEN np > 0 AND nn > 0
             THEN floor(a * 1e6 + 0.5) / 1e6 ELSE 0.0 END AS auc,
           CASE WHEN np > 0 AND nn > 0
             THEN floor(se * 1e6 + 0.5) / 1e6 ELSE 0.0 END AS se,
           CASE WHEN np > 0 AND nn > 0
             THEN floor((a - 1.959964 * se) * 1e6 + 0.5) / 1e6
             ELSE 0.0 END AS ci_lo,
           CASE WHEN np > 0 AND nn > 0
             THEN floor((a + 1.959964 * se) * 1e6 + 0.5) / 1e6
             ELSE 0.0 END AS ci_hi
         FROM f2""",
    // KM step-function area on the exact 1e-6 grid: t₁ + Σ gap·S(tᵢ)
    // rides kaplan_meier's exact-integer recursive fold (no ln/exp)
    "rmst" ->
      """WITH RECURSIVE pu AS (
           SELECT user_id, min(ts)::DATE AS d0,
                  min(CASE WHEN event_type = 'purchase' THEN ts END)::DATE
                    AS dconv
           FROM events GROUP BY user_id),
         hz AS (SELECT max(ts)::DATE AS dmax FROM events),
         durs AS (
           SELECT CASE WHEN dconv IS NOT NULL
                       THEN date_diff('day', d0, dconv)
                       ELSE date_diff('day', d0, dmax) END AS t,
                  CASE WHEN dconv IS NOT NULL THEN 1 ELSE 0 END AS event
           FROM pu CROSS JOIN hz),
         byt AS (
           SELECT t, sum(event)::BIGINT AS d,
                  sum(1 - event)::BIGINT AS c, count(*)::BIGINT AS k
           FROM durs GROUP BY t),
         n AS (SELECT count(*)::BIGINT AS nn FROM durs),
         tau AS (SELECT max(t)::BIGINT AS tau, count(*)::BIGINT
                   AS n_users
                 FROM durs),
         r AS (
           SELECT t, d, c,
                  nn - coalesce(sum(k) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS n_risk
           FROM byt CROSS JOIN n),
         dr AS (
           SELECT t, d, n_risk, row_number() OVER (ORDER BY t) AS rn
           FROM r WHERE d > 0),
         fold AS (
           SELECT rn, t,
                  CAST(floor(1000000::BIGINT::DOUBLE
                    * (n_risk - d)::DOUBLE / n_risk::DOUBLE) AS BIGINT)
                    AS s6
           FROM dr WHERE rn = 1
           UNION ALL
           SELECT k.rn, k.t,
                  CAST(floor(f.s6::DOUBLE
                    * (k.n_risk - k.d)::DOUBLE / k.n_risk::DOUBLE)
                    AS BIGINT)
           FROM fold f JOIN dr k ON k.rn = f.rn + 1),
         km AS (SELECT t::BIGINT AS t_day, s6 FROM fold),
         steps AS (
           SELECT tau, n_users, t_day,
                  ((coalesce(lead(t_day) OVER (ORDER BY t_day), tau)
                    - t_day) * s6)::BIGINT AS a6
           FROM km CROSS JOIN tau)
         SELECT max(n_users)::BIGINT AS n_users,
           max(tau)::BIGINT AS tau,
           floor((min(t_day)::DOUBLE * 1e6 + sum(a6)::DOUBLE) / 1e6
             * 1e4 + 0.5) / 1e4 AS rmst
         FROM steps""",
    // exact cumulative 95th-pct threshold; GPD by method of moments
    "pot_gpd" ->
      """WITH v AS (SELECT floor("value" * 1e6 + 0.5)::BIGINT AS v6
                    FROM events WHERE "value" IS NOT NULL),
         byv AS (SELECT v6, count(*)::BIGINT AS cnt FROM v GROUP BY 1),
         tot AS (SELECT sum(cnt)::BIGINT AS n FROM byv),
         cum AS (SELECT v6, sum(cnt) OVER (ORDER BY v6
                   ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
                 FROM byv),
         thr AS (SELECT min(v6)::BIGINT AS thr6 FROM cum, tot
                 WHERE cum * 100 >= n * 95),
         ex AS (SELECT (v6 - thr6)::BIGINT AS e, thr6
                FROM v, thr WHERE v6 > thr6),
         g AS (SELECT thr6, count(*)::BIGINT AS k, sum(e)::BIGINT AS se,
                 sum(e * e)::BIGINT AS see
               FROM ex GROUP BY 1),
         f AS (SELECT thr6, k,
                 se::DOUBLE / k::DOUBLE AS m,
                 (k::DOUBLE * see::DOUBLE - se::DOUBLE * se::DOUBLE) /
                   (k::DOUBLE * k::DOUBLE) AS s2
               FROM g),
         f2 AS (SELECT thr6, k, m, s2,
                  m * m / (CASE WHEN s2 = 0.0 THEN 1.0 ELSE s2 END)
                    AS ratio,
                  (k >= 2 AND s2 != 0.0) AS ok
                FROM f)
         SELECT k AS n_exceed,
           floor(thr6::DOUBLE / 1e6 * 1e6 + 0.5) / 1e6 AS threshold,
           CASE WHEN ok THEN floor(0.5 * (1.0 - ratio) * 1e6 + 0.5)
             / 1e6 ELSE 0.0 END AS xi,
           CASE WHEN ok THEN floor(0.5 * m * (ratio + 1.0) / 1e6 * 1e6
             + 0.5) / 1e6 ELSE 0.0 END AS sigma
         FROM f2""",
    // exact cross-multiplied inlier test 20n|r| ≤ Σy·Δt, best consensus
    "ransac_trend" ->
      """WITH daily0 AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  count(*)::BIGINT AS y
           FROM events GROUP BY 1),
         spine AS (
           SELECT unnest(range((SELECT min(day) FROM daily0),
                               (SELECT max(day) FROM daily0) + 1)) AS day),
         dense AS (
           SELECT (s.day - (SELECT min(day) FROM daily0))::BIGINT AS t,
                  coalesce(y, 0)::BIGINT AS y
           FROM spine s LEFT JOIN daily0 USING (day)),
         st AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS sy
                FROM dense),
         cand AS (SELECT a.t AS ti, a.y AS yi,
                    (b.t - a.t)::BIGINT AS dx, (b.y - a.y)::BIGINT AS dy
                  FROM dense a JOIN dense b ON a.t < b.t),
         probe AS (SELECT c.ti, c.dx, c.dy, st.n,
                     (CASE WHEN abs((d.y - c.yi) * c.dx -
                         c.dy * (d.t - c.ti)) * 20 * st.n <=
                         st.sy * c.dx
                       THEN 1 ELSE 0 END)::BIGINT AS inlier
                   FROM cand c CROSS JOIN st CROSS JOIN dense d),
         scored AS (SELECT ti, dx, dy, n,
                      sum(inlier)::BIGINT AS n_inliers
                    FROM probe GROUP BY 1, 2, 3, 4),
         best AS (SELECT * FROM scored
                  ORDER BY n_inliers DESC, ti, dx, dy LIMIT 1)
         SELECT n AS n_days, ti AS anchor_t,
           floor(dy::DOUBLE / dx::DOUBLE * 1e6 + 0.5) / 1e6 AS slope,
           n_inliers,
           floor(n_inliers::DOUBLE / n::DOUBLE * 1e6 + 0.5) / 1e6
             AS inlier_share
         FROM best""",
    // closed-form Laplace moments vs exact counts; no RNG anywhere
    "dp_utility_audit" ->
      """WITH daily AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  count(*)::BIGINT AS cnt
           FROM events GROUP BY 1),
         g AS (SELECT count(*)::BIGINT AS k_cells,
                 sum(cnt)::BIGINT AS n_total,
                 sum(CASE WHEN cnt <= 1 THEN 1 ELSE 0 END)::BIGINT
                   AS noise_dominated
               FROM daily)
         SELECT k_cells, n_total, 1.0::DOUBLE AS eps,
           floor(k_cells::DOUBLE * 1.0 * 1e4 + 0.5) / 1e4
             AS exp_l1_error,
           floor(k_cells::DOUBLE * 1.0 / n_total::DOUBLE * 1e6 + 0.5)
             / 1e6 AS rel_error,
           noise_dominated
         FROM g""",
    // exact P_i numerators over the constant r(r−1)=6 denominator
    "fleiss_kappa" ->
      """WITH f AS (
           SELECT ((CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END) +
             (CASE WHEN regexp_matches(text, '[0-9]') THEN 1 ELSE 0
               END) +
             (CASE WHEN strpos(lower(text), ' the ') > 0 THEN 1 ELSE 0
               END))::BIGINT AS x
           FROM documents),
         g AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
                 sum(x * (x - 1) + (3 - x) * (3 - x - 1))::BIGINT
                   AS pnum
               FROM f),
         z AS (SELECT n,
                 pnum::DOUBLE / (n::DOUBLE * 6.0) AS pbar,
                 sx::DOUBLE / (n::DOUBLE * 3.0) AS pyes
               FROM g),
         z2 AS (SELECT n, pbar,
                  pyes * pyes + (1.0 - pyes) * (1.0 - pyes) AS pe
                FROM z),
         z3 AS (SELECT n, pbar, pe,
                  CASE WHEN 1.0 - pe != 0.0
                    THEN floor((pbar - pe) /
                      (CASE WHEN 1.0 - pe = 0.0 THEN 1.0
                       ELSE 1.0 - pe END) * 1e6 + 0.5) / 1e6
                    ELSE 0.0 END AS kappa
                FROM z2)
         SELECT n AS n_docs,
           floor(pbar * 1e6 + 0.5) / 1e6 AS p_bar,
           floor(pe * 1e6 + 0.5) / 1e6 AS p_e,
           kappa,
           (CASE WHEN kappa > 0.4 THEN 1 ELSE 0 END)::BIGINT
             AS moderate_agree_flag
         FROM z3""",
    // h_{t+1}(s) = P(s,tgt) + Σ P(s,s')h_t(s'), 9-dp grid per round
    "markov_absorption" ->
      """WITH seq AS (
           SELECT event_type, lead(event_type) OVER
             (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
           FROM events),
         tr AS (SELECT event_type AS cur, nxt, count(*)::BIGINT AS c
                FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
         tot AS (SELECT cur, sum(c)::BIGINT AS tc FROM tr GROUP BY cur),
         p AS (SELECT cur, nxt, round(c / tc, 9) AS p
               FROM tr JOIN tot USING (cur)),
         direct AS (SELECT cur AS st, p AS pd FROM p
                    WHERE nxt = 'purchase'),
         states AS (SELECT DISTINCT cur AS st FROM p
                    WHERE cur <> 'purchase'),
         h1 AS (SELECT s.st, round(coalesce(pd, 0.0), 9) AS h
                FROM states s LEFT JOIN direct USING (st)),
         g2 AS (SELECT p.cur AS st, sum(p.p * h1.h) AS acc
                FROM p JOIN h1 ON p.nxt = h1.st
                WHERE p.nxt <> 'purchase' GROUP BY 1),
         h2 AS (SELECT s.st, round(coalesce(pd, 0.0) +
                  coalesce(acc, 0.0), 9) AS h
                FROM states s LEFT JOIN direct USING (st)
                LEFT JOIN g2 USING (st)),
         g3 AS (SELECT p.cur AS st, sum(p.p * h2.h) AS acc
                FROM p JOIN h2 ON p.nxt = h2.st
                WHERE p.nxt <> 'purchase' GROUP BY 1),
         h3 AS (SELECT s.st, round(coalesce(pd, 0.0) +
                  coalesce(acc, 0.0), 9) AS h
                FROM states s LEFT JOIN direct USING (st)
                LEFT JOIN g3 USING (st)),
         g4 AS (SELECT p.cur AS st, sum(p.p * h3.h) AS acc
                FROM p JOIN h3 ON p.nxt = h3.st
                WHERE p.nxt <> 'purchase' GROUP BY 1),
         h4 AS (SELECT s.st, round(coalesce(pd, 0.0) +
                  coalesce(acc, 0.0), 9) AS h
                FROM states s LEFT JOIN direct USING (st)
                LEFT JOIN g4 USING (st)),
         g5 AS (SELECT p.cur AS st, sum(p.p * h4.h) AS acc
                FROM p JOIN h4 ON p.nxt = h4.st
                WHERE p.nxt <> 'purchase' GROUP BY 1),
         h5 AS (SELECT s.st, round(coalesce(pd, 0.0) +
                  coalesce(acc, 0.0), 9) AS h
                FROM states s LEFT JOIN direct USING (st)
                LEFT JOIN g5 USING (st)),
         g6 AS (SELECT p.cur AS st, sum(p.p * h5.h) AS acc
                FROM p JOIN h5 ON p.nxt = h5.st
                WHERE p.nxt <> 'purchase' GROUP BY 1),
         h6 AS (SELECT s.st, round(coalesce(pd, 0.0) +
                  coalesce(acc, 0.0), 9) AS h
                FROM states s LEFT JOIN direct USING (st)
                LEFT JOIN g6 USING (st))
         SELECT st AS state, round(h, 6) AS p_absorb FROM h6
         ORDER BY state""",
    // exact 10⁹ div (n_o−1) collaboration credit per shared order
    "newman_projection" ->
      """WITH dl AS (SELECT DISTINCT l_orderkey, l_suppkey
                     FROM lineitem),
         osz AS (SELECT l_orderkey, count(*)::BIGINT AS osz FROM dl
                 GROUP BY 1 HAVING count(*) BETWEEN 2 AND 16),
         adj AS (SELECT d.l_orderkey AS kk, d.l_suppkey AS sup,
                   (1000000000 // (osz - 1))::BIGINT AS w9
                 FROM dl d JOIN osz USING (l_orderkey))
         SELECT a.sup AS s1, b.s2 AS s2, count(*)::BIGINT AS n_orders,
           sum(a.w9)::BIGINT AS nw9
         FROM adj a JOIN (SELECT kk, sup AS s2, w9 FROM adj) b
           ON a.kk = b.kk AND a.sup < b.s2
         GROUP BY 1, 2 ORDER BY nw9 DESC, s1, s2 LIMIT 30""",
    // lift = w·2m/(k_i·k_j): observed over configuration-model null
    "edge_surprise" ->
      """WITH dl AS (SELECT DISTINCT l_orderkey, l_suppkey
                     FROM lineitem),
         osz AS (SELECT l_orderkey FROM dl GROUP BY 1
                 HAVING count(*) BETWEEN 2 AND 16),
         adj AS (SELECT d.l_orderkey, d.l_suppkey
                 FROM dl d JOIN osz USING (l_orderkey)),
         pw AS (SELECT a.l_suppkey AS a, b.l_suppkey AS b,
                  count(*)::BIGINT AS w
                FROM adj a JOIN adj b ON a.l_orderkey = b.l_orderkey
                  AND a.l_suppkey < b.l_suppkey
                GROUP BY 1, 2),
         deg AS (SELECT x, sum(w)::BIGINT AS kx FROM (
                   SELECT a AS x, w FROM pw
                   UNION ALL SELECT b, w FROM pw) GROUP BY 1),
         m2 AS (SELECT (sum(w) * 2)::BIGINT AS m2 FROM pw),
         lift AS (SELECT pw.a AS s1, pw.b AS s2, w,
                    floor(w::DOUBLE * m2::DOUBLE /
                      (da.kx::DOUBLE * db.kx::DOUBLE) * 1e6 + 0.5)
                      / 1e6 AS lift
                  FROM pw JOIN deg da ON da.x = pw.a
                    JOIN deg db ON db.x = pw.b, m2
                  WHERE w >= 5)
         SELECT s1, s2, w, lift FROM lift
         ORDER BY lift DESC, s1, s2 LIMIT 20""",
    // sup gap on exact cross-multiplied integers over union values
    "ks_two_sample" ->
      """WITH ev AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  floor("value" * 1e6 + 0.5)::BIGINT AS v6
           FROM events WHERE "value" IS NOT NULL),
         mid AS (SELECT ((min(day) + max(day)) // 2)::BIGINT AS mid
                 FROM ev),
         halves AS (SELECT v6,
                      (CASE WHEN day < mid THEN 1 ELSE 0 END)::BIGINT
                        AS h1
                    FROM ev, mid),
         byv AS (SELECT v6, sum(h1)::BIGINT AS c1,
                   sum(1 - h1)::BIGINT AS c2
                 FROM halves GROUP BY 1),
         tot AS (SELECT sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2
                 FROM byv),
         gaps AS (SELECT n1, n2,
                    abs((sum(c1) OVER (ORDER BY v6
                        ROWS UNBOUNDED PRECEDING))::HUGEINT * n2 -
                      (sum(c2) OVER (ORDER BY v6
                        ROWS UNBOUNDED PRECEDING))::HUGEINT * n1)
                      ::HUGEINT AS gap
                  FROM byv, tot),
         g AS (SELECT n1, n2, max(gap)::HUGEINT AS mx FROM gaps
               GROUP BY 1, 2),
         z AS (SELECT n1, n2,
                 floor(mx::DOUBLE / (n1::DOUBLE * n2::DOUBLE) * 1e6
                   + 0.5) / 1e6 AS d,
                 floor(1.358 * sqrt((n1::DOUBLE + n2::DOUBLE) /
                   (n1::DOUBLE * n2::DOUBLE)) * 1e6 + 0.5) / 1e6
                   AS crit
               FROM g)
         SELECT n1, n2, d AS d_stat, crit AS critical,
           (CASE WHEN d > crit THEN 1 ELSE 0 END)::BIGINT
             AS drift_flag
         FROM z""",
    // 8-cell lag-triple counts; per-cell log ratio on the 1e-9 grid
    "transfer_entropy" ->
      """WITH d0 AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0
                    END)::BIGINT AS x,
                  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                    END)::BIGINT AS y
           FROM events WHERE event_type IN ('view', 'purchase')
           GROUP BY 1),
         spine AS (
           SELECT unnest(range((SELECT min(day) FROM d0),
                               (SELECT max(day) FROM d0) + 1)) AS day),
         dense AS (
           SELECT s.day, coalesce(x, 0)::BIGINT AS x,
                  coalesce(y, 0)::BIGINT AS y
           FROM spine s LEFT JOIN d0 USING (day)),
         mx AS (SELECT min(v)::BIGINT AS medx FROM (
                  SELECT v, sum(k) OVER (ORDER BY v
                    ROWS UNBOUNDED PRECEDING) AS cum, n FROM (
                    SELECT x AS v, count(*)::BIGINT AS k FROM dense
                    GROUP BY 1),
                    (SELECT count(*)::BIGINT AS n FROM dense))
                WHERE cum * 2 >= n),
         my AS (SELECT min(v)::BIGINT AS medy FROM (
                  SELECT v, sum(k) OVER (ORDER BY v
                    ROWS UNBOUNDED PRECEDING) AS cum, n FROM (
                    SELECT y AS v, count(*)::BIGINT AS k FROM dense
                    GROUP BY 1),
                    (SELECT count(*)::BIGINT AS n FROM dense))
                WHERE cum * 2 >= n),
         bin AS (SELECT day,
                   (CASE WHEN x > medx THEN 1 ELSE 0 END)::BIGINT
                     AS bx,
                   (CASE WHEN y > medy THEN 1 ELSE 0 END)::BIGINT
                     AS by
                 FROM dense, mx, my),
         lagd AS (SELECT by,
                    lag(by) OVER (ORDER BY day) AS byl,
                    lag(bx) OVER (ORDER BY day) AS bxl
                  FROM bin),
         trip AS (SELECT byl, bxl, by, count(*)::BIGINT AS c
                  FROM lagd WHERE byl IS NOT NULL GROUP BY 1, 2, 3),
         cyx AS (SELECT byl AS a1, bxl AS a2, sum(c)::BIGINT AS cyx
                 FROM trip GROUP BY 1, 2),
         cyy AS (SELECT byl AS b1, by AS b2, sum(c)::BIGINT AS cyy
                 FROM trip GROUP BY 1, 2),
         cy AS (SELECT byl AS e1, sum(c)::BIGINT AS cy FROM trip
                GROUP BY 1),
         n AS (SELECT sum(c)::BIGINT AS nn FROM trip),
         terms AS (SELECT c,
                     floor(ln((c::DOUBLE * cy::DOUBLE) /
                       (cyx::DOUBLE * cyy::DOUBLE)) * 1e9 + 0.5)
                       ::BIGINT AS l9
                   FROM trip
                     JOIN cyx ON byl = a1 AND bxl = a2
                     JOIN cyy ON byl = b1 AND by = b2
                     JOIN cy ON byl = e1),
         g AS (SELECT max(nn)::BIGINT AS n_obs,
                 sum(c * l9)::BIGINT AS te9
               FROM terms, n),
         z AS (SELECT n_obs,
                 floor(te9::DOUBLE / (n_obs::DOUBLE * 1e9) * 1e6 + 0.5)
                   / 1e6 AS te
               FROM g)
         SELECT n_obs, te AS te_nats,
           (CASE WHEN te > 0.01 THEN 1 ELSE 0 END)::BIGINT
             AS flow_flag
         FROM z""",
    // exact q80 thresholds; λ_U is one division of exact counts
    "tail_dependence" ->
      """WITH d0 AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0
                    END)::BIGINT AS x,
                  sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                    END)::BIGINT AS y
           FROM events WHERE event_type IN ('view', 'click')
           GROUP BY 1),
         spine AS (
           SELECT unnest(range((SELECT min(day) FROM d0),
                               (SELECT max(day) FROM d0) + 1)) AS day),
         dense AS (
           SELECT coalesce(x, 0)::BIGINT AS x,
                  coalesce(y, 0)::BIGINT AS y
           FROM spine s LEFT JOIN d0 USING (day)),
         tx AS (SELECT min(v)::BIGINT AS tx FROM (
                  SELECT v, sum(k) OVER (ORDER BY v
                    ROWS UNBOUNDED PRECEDING) AS cum, n FROM (
                    SELECT x AS v, count(*)::BIGINT AS k FROM dense
                    GROUP BY 1),
                    (SELECT count(*)::BIGINT AS n FROM dense))
                WHERE cum * 5 >= n * 4),
         ty AS (SELECT min(v)::BIGINT AS ty FROM (
                  SELECT v, sum(k) OVER (ORDER BY v
                    ROWS UNBOUNDED PRECEDING) AS cum, n FROM (
                    SELECT y AS v, count(*)::BIGINT AS k FROM dense
                    GROUP BY 1),
                    (SELECT count(*)::BIGINT AS n FROM dense))
                WHERE cum * 5 >= n * 4),
         g AS (SELECT count(*)::BIGINT AS n,
                 sum(CASE WHEN x > tx THEN 1 ELSE 0 END)::BIGINT
                   AS nx,
                 sum(CASE WHEN y > ty THEN 1 ELSE 0 END)::BIGINT
                   AS ny,
                 sum(CASE WHEN x > tx AND y > ty THEN 1 ELSE 0
                   END)::BIGINT AS nxy,
                 max(tx)::BIGINT AS tx, max(ty)::BIGINT AS ty
               FROM dense, tx, ty)
         SELECT n AS n_days, tx, ty, nxy AS n_joint,
           CASE WHEN ny > 0
             THEN floor(nxy::DOUBLE /
               (CASE WHEN ny = 0 THEN 1 ELSE ny END)::DOUBLE * 1e6
               + 0.5) / 1e6
             ELSE 0.0 END AS lambda_u,
           floor(nx::DOUBLE / n::DOUBLE * 1e6 + 0.5) / 1e6
             AS indep_base
         FROM g""",
    // driver-computed 1e-9 trig literals — no per-engine libm trig
    "rayleigh_uniformity" -> {
      val ws = (0 until 24).map { h =>
        val a = 2 * math.Pi * h / 24
        s"{'hr': $h, 'c9': ${math.floor(math.cos(a) * 1e9 + 0.5).toLong}" +
          s", 's9': ${math.floor(math.sin(a) * 1e9 + 0.5).toLong}}"
      }.mkString(", ")
      s"""WITH w AS (SELECT e.hr AS hr, e.c9 AS c9, e.s9 AS s9
                     FROM (SELECT unnest([$ws]) AS e)),
         byh AS (SELECT extract(hour FROM ts)::INT AS hr,
                   count(*)::BIGINT AS cnt
                 FROM events GROUP BY 1),
         g AS (SELECT sum(cnt)::BIGINT AS n,
                 sum(cnt::HUGEINT * c9)::HUGEINT AS sc,
                 sum(cnt::HUGEINT * s9)::HUGEINT AS ss
               FROM byh JOIN w USING (hr)),
         z AS (SELECT n,
                 n::DOUBLE * ((sc::DOUBLE * sc::DOUBLE +
                   ss::DOUBLE * ss::DOUBLE) /
                   (n::DOUBLE * n::DOUBLE * 1e18)) AS z
               FROM g)
         SELECT n AS n_events,
           floor(z * 1e4 + 0.5) / 1e4 AS rayleigh_z,
           floor(exp(-z) * 1e6 + 0.5) / 1e6 AS p_approx,
           (CASE WHEN floor(exp(-z) * 1e6 + 0.5) / 1e6 < 0.05
             THEN 1 ELSE 0 END)::BIGINT AS nonuniform_flag
         FROM z"""
    },
    // κ = Σk²/Σk exact; f_c = (κ−2)/(κ−1); κ>2 giant-component flag
    "percolation_threshold" ->
      """WITH pairs AS (
           SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000 AS sup
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         nodes AS (SELECT c AS src FROM pairs
                   UNION ALL SELECT sup FROM pairs),
         deg AS (SELECT src, count(*)::BIGINT AS k FROM nodes
                 GROUP BY 1),
         g AS (SELECT count(*)::BIGINT AS n, sum(k)::BIGINT AS sk,
                 sum(k::HUGEINT * k)::HUGEINT AS skk
               FROM deg),
         z AS (SELECT n, sk,
                 skk::DOUBLE / sk::DOUBLE AS kap
               FROM g)
         SELECT n AS n_nodes,
           floor(sk::DOUBLE / n::DOUBLE * 1e6 + 0.5) / 1e6 AS mean_deg,
           floor(kap * 1e6 + 0.5) / 1e6 AS kappa,
           CASE WHEN kap > 1.0
             THEN floor((kap - 2) /
               ((CASE WHEN kap = 1.0 THEN 2.0 ELSE kap END) - 1) * 1e6
               + 0.5) / 1e6
             ELSE 0.0 END AS f_critical,
           (CASE WHEN floor(kap * 1e6 + 0.5) / 1e6 > 2.0 THEN 1
             ELSE 0 END)::BIGINT AS giant_component_flag
         FROM z""",
    // exact cumulative VaR₉₅ + one-division conditional tail mean
    "cvar_es" ->
      """WITH v AS (SELECT floor(o_totalprice * 100 + 0.5)::BIGINT AS c
                    FROM orders),
         byv AS (SELECT c, count(*)::BIGINT AS k FROM v GROUP BY 1),
         tot AS (SELECT sum(k)::BIGINT AS n FROM byv),
         thr AS (SELECT min(c)::BIGINT AS var_c FROM (
                   SELECT c, sum(k) OVER (ORDER BY c
                     ROWS UNBOUNDED PRECEDING) AS cum FROM byv), tot
                 WHERE cum * 100 >= n * 95),
         g AS (SELECT max(n)::BIGINT AS n, max(var_c)::BIGINT AS var_c,
                 sum(CASE WHEN c >= var_c THEN 1 ELSE 0 END)::BIGINT
                   AS n_tail,
                 sum(CASE WHEN c >= var_c THEN c ELSE 0 END)::BIGINT
                   AS s_tail
               FROM v, thr, tot)
         SELECT n AS n_orders,
           floor(var_c::DOUBLE / 100.0 * 1e2 + 0.5) / 1e2 AS var_95,
           floor(s_tail::DOUBLE / n_tail::DOUBLE / 100.0 * 1e2 + 0.5)
             / 1e2 AS es_95,
           floor(n_tail::DOUBLE / n::DOUBLE * 1e6 + 0.5) / 1e6
             AS tail_share
         FROM g""",
    // the kpss lag-product chain re-read as a Newey–West mean CI
    "hac_mean_ci" ->
      """WITH daily0 AS (
           SELECT epoch_ms(ts) // 1000 // 86400 AS day,
                  count(*)::BIGINT AS y
           FROM events GROUP BY 1),
         spine AS (
           SELECT unnest(range((SELECT min(day) FROM daily0),
                               (SELECT max(day) FROM daily0) + 1)) AS day),
         dense AS (
           SELECT s.day, coalesce(y, 0)::BIGINT AS y
           FROM spine s LEFT JOIN daily0 USING (day)),
         st AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS sy
                FROM dense),
         ee AS (SELECT day, n, sy, (y * n - sy)::BIGINT AS e
                FROM dense, st),
         c AS (SELECT n, sy, e,
                 lag(e, 1) OVER (ORDER BY day) AS e1,
                 lag(e, 2) OVER (ORDER BY day) AS e2,
                 lag(e, 3) OVER (ORDER BY day) AS e3,
                 lag(e, 4) OVER (ORDER BY day) AS e4,
                 lag(e, 5) OVER (ORDER BY day) AS e5
               FROM ee),
         g AS (SELECT n, sy,
                 sum(e::HUGEINT * e)::HUGEINT AS g0,
                 sum(e::HUGEINT * e1)::HUGEINT AS g1,
                 sum(e::HUGEINT * e2)::HUGEINT AS g2,
                 sum(e::HUGEINT * e3)::HUGEINT AS g3,
                 sum(e::HUGEINT * e4)::HUGEINT AS g4,
                 sum(e::HUGEINT * e5)::HUGEINT AS g5
               FROM c GROUP BY n, sy),
         f AS (SELECT n, sy,
                 (g0 * 6 + 2 * (5 * g1 + 4 * g2 + 3 * g3 + 2 * g4
                   + 1 * g5))::HUGEINT AS lrn, g0
               FROM g),
         z AS (SELECT n,
                 sy::DOUBLE / n::DOUBLE AS mean,
                 sqrt(greatest(0.0, lrn::DOUBLE /
                   (6.0 * n::DOUBLE * n::DOUBLE * n::DOUBLE *
                    n::DOUBLE))) AS sehac,
                 sqrt(greatest(0.0, g0::DOUBLE /
                   (n::DOUBLE * n::DOUBLE * n::DOUBLE * n::DOUBLE)))
                   AS senaive
               FROM f)
         SELECT n AS n_days,
           floor(mean * 1e6 + 0.5) / 1e6 AS mean_daily,
           floor(senaive * 1e6 + 0.5) / 1e6 AS se_naive,
           floor(sehac * 1e6 + 0.5) / 1e6 AS se_hac,
           floor((mean - 1.959964 * sehac) * 1e6 + 0.5) / 1e6 AS ci_lo,
           floor((mean + 1.959964 * sehac) * 1e6 + 0.5) / 1e6 AS ci_hi
         FROM z""",
    // k-occurrence moments of the exact top-k neighbor lists
    "knn_hubness" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                    FROM embeddings),
         sc AS (SELECT q.vec_id AS qid, ee.vec_id AS vid,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY list_cosine_similarity(ee.v, q.v) DESC,
                      ee.vec_id) AS rn
                FROM e q CROSS JOIN e ee WHERE ee.vec_id <> q.vec_id),
         occ AS (SELECT e.vec_id,
                   coalesce(o, 0)::BIGINT AS o
                 FROM e LEFT JOIN (
                   SELECT vid, count(*)::BIGINT AS o FROM sc
                   WHERE rn <= 10 GROUP BY 1) t ON t.vid = e.vec_id),
         g AS (SELECT count(*)::BIGINT AS n, sum(o)::BIGINT AS so,
                 sum(o * o)::BIGINT AS soo,
                 sum(o * o * o)::BIGINT AS sooo,
                 max(o)::BIGINT AS mx
               FROM occ),
         m AS (SELECT n, mx,
                 so::DOUBLE / n::DOUBLE AS m1,
                 soo::DOUBLE / n::DOUBLE -
                   (so::DOUBLE / n::DOUBLE) * (so::DOUBLE / n::DOUBLE)
                   AS m2,
                 sooo::DOUBLE / n::DOUBLE -
                   3.0 * (so::DOUBLE / n::DOUBLE) *
                     (soo::DOUBLE / n::DOUBLE) +
                   2.0 * (so::DOUBLE / n::DOUBLE) *
                     (so::DOUBLE / n::DOUBLE) *
                     (so::DOUBLE / n::DOUBLE) AS m3
               FROM g),
         z AS (SELECT n, mx,
                 CASE WHEN m2 > 0.0
                   THEN floor(m3 /
                     ((CASE WHEN m2 <= 0.0 THEN 1.0 ELSE m2 END) *
                      sqrt(CASE WHEN m2 <= 0.0 THEN 1.0 ELSE m2 END))
                     * 1e6 + 0.5) / 1e6
                   ELSE 0.0 END AS skew
               FROM m)
         SELECT n AS n_vecs, 10::BIGINT AS k, mx AS max_k_occurrence,
           skew AS skew_g1,
           (CASE WHEN skew > 1.0 THEN 1 ELSE 0 END)::BIGINT
             AS hubness_flag
         FROM z""",
    "poisson_glm_trend" -> poissonOracleSql(3),
    // Bernard median ranks from exact cumulative counts; 1e-9 log
    // grids before exact DECIMAL OLS sums
    "weibull_plot_fit" ->
      """WITH pu AS (
           SELECT user_id, min(ts)::DATE AS d0,
                  min(CASE WHEN event_type = 'purchase' THEN ts END)::DATE
                    AS dconv
           FROM events GROUP BY user_id),
         durs AS (SELECT date_diff('day', d0, dconv)::BIGINT AS t
                  FROM pu WHERE dconv IS NOT NULL),
         pos AS (SELECT t FROM durs WHERE t >= 1),
         byt AS (SELECT t, count(*)::BIGINT AS c FROM pos GROUP BY 1),
         m AS (SELECT sum(c)::BIGINT AS m FROM byt),
         pts AS (SELECT t,
                   floor(ln(t::DOUBLE) * 1e9 + 0.5)::BIGINT AS x9,
                   floor(ln(-ln(1.0 -
                     ((sum(c) OVER (ORDER BY t
                        ROWS UNBOUNDED PRECEDING))::DOUBLE - 0.3) /
                     (m::DOUBLE + 0.4))) * 1e9 + 0.5)::BIGINT AS y9
                 FROM byt, m),
         g AS (SELECT count(*)::BIGINT AS k,
                 (SELECT m FROM m) AS m,
                 sum(x9)::BIGINT AS sx, sum(y9)::BIGINT AS sy,
                 sum(x9::HUGEINT * x9)::HUGEINT AS sxx,
                 sum(x9::HUGEINT * y9)::HUGEINT AS sxy,
                 sum(y9::HUGEINT * y9)::HUGEINT AS syy
               FROM pts),
         f AS (SELECT k, m,
                 (k::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                   AS bn,
                 (k::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                   AS bd,
                 (k::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)
                   AS dd, sx, sy
               FROM g),
         z AS (SELECT k, m, bn, bd, dd,
                 bn / (CASE WHEN bd = 0.0 THEN 1.0 ELSE bd END)
                   AS slope, sx, sy
               FROM f),
         z2 AS (SELECT k, m, bn, bd, dd, slope,
                  (sy::DOUBLE - slope * sx::DOUBLE) /
                    (k::DOUBLE * 1e9) AS inter
                FROM z)
         SELECT m AS n_conversions, k AS n_points,
           CASE WHEN k >= 2 AND bd != 0.0
             THEN floor(slope * 1e4 + 0.5) / 1e4 ELSE 0.0 END
             AS k_shape,
           CASE WHEN k >= 2 AND bd != 0.0 AND bn != 0.0
             THEN floor(exp(-inter /
               (CASE WHEN bn = 0.0 THEN 1.0 ELSE slope END)) * 1e2
               + 0.5) / 1e2
             ELSE 0.0 END AS lambda_scale,
           CASE WHEN k >= 2 AND bd != 0.0 AND dd != 0.0
             THEN floor(bn * bn /
               ((CASE WHEN bd = 0.0 THEN 1.0 ELSE bd END) *
                (CASE WHEN dd = 0.0 THEN 1.0 ELSE dd END)) * 1e6
               + 0.5) / 1e6
             ELSE 0.0 END AS r2
         FROM z2""",
    // Chao1 = V + F₁(F₁−1)/(2(F₂+1)); Good–Turing coverage 1 − F₁/N
    "chao1_richness" -> s"""$TokCte,
         cnt AS (SELECT t, count(*)::BIGINT AS c
                 FROM (SELECT unnest(ts) AS t FROM toks) GROUP BY t),
         g AS (SELECT count(*)::BIGINT AS v, sum(c)::BIGINT AS n,
                 sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS f1,
                 sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)::BIGINT AS f2
               FROM cnt)
         SELECT n AS n_tokens, v AS vocab, f1 AS hapax, f2 AS dis,
           floor((v::DOUBLE + f1::DOUBLE * (f1::DOUBLE - 1) /
             (2.0 * (f2::DOUBLE + 1))) * 1e2 + 0.5) / 1e2 AS chao1,
           floor((1.0 - f1::DOUBLE / n::DOUBLE) * 1e6 + 0.5) / 1e6
             AS coverage
         FROM g""",
    // sorted source-pair cells over the exact-Jaccard pair set
    "dedup_source_matrix" -> s"""WITH ja AS ($JaccardSql),
         cells AS (SELECT least(da.source, db.source) AS src_a,
                     greatest(da.source, db.source) AS src_b,
                     count(*)::BIGINT AS n_pairs
                   FROM ja JOIN documents da ON da.doc_id = ja.doc_a
                     JOIN documents db ON db.doc_id = ja.doc_b
                   GROUP BY 1, 2),
         tot AS (SELECT sum(n_pairs)::BIGINT AS tot FROM cells)
         SELECT src_a, src_b, n_pairs,
           (CASE WHEN src_a = src_b THEN 1 ELSE 0 END)::BIGINT
             AS within_source,
           floor(n_pairs::DOUBLE / tot::DOUBLE * 1e6 + 0.5) / 1e6
             AS share
         FROM cells, tot ORDER BY n_pairs DESC, src_a, src_b""",
    // knn(d) flattened to edge level: one exact division per bucket
    "avg_neighbor_degree" ->
      """WITH pairs AS (
           SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000 AS sup
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         edges AS (SELECT c AS src, sup AS dst FROM pairs
                   UNION ALL SELECT sup, c FROM pairs),
         deg AS (SELECT src, count(*)::BIGINT AS k FROM edges
                 GROUP BY 1),
         flat AS (SELECT least(du.k, 20)::BIGINT AS bucket, dv.k AS kv
                  FROM edges e JOIN deg du ON du.src = e.src
                    JOIN deg dv ON dv.src = e.dst)
         SELECT bucket, count(*)::BIGINT AS n_edges,
           floor(sum(kv)::DOUBLE / count(*)::DOUBLE * 1e6 + 0.5) / 1e6
             AS knn_mean
         FROM flat GROUP BY 1 ORDER BY 1""",
    // μ = r₂/r₁ on the 1e-9 distance grid; d̂ = n/Σ ln μ
    // TwoNN over the same IVF probe lists as knn_label_consistency:
    // assign to nearest of 16 centroids, probe the 4 nearest lists
    "intrinsic_dimension" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                    FROM embeddings),
         cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e
                  WHERE vec_id < 16),
         assigned AS (
           SELECT vec_id, v, centroid_id FROM (
             SELECT e.vec_id, e.v, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
                          c.centroid_id) AS rn
             FROM e CROSS JOIN cent c) WHERE rn = 1),
         probes AS (
           SELECT qid, qv, centroid_id FROM (
             SELECT q.vec_id AS qid, q.v AS qv, c.centroid_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.v, c.cv) DESC,
                          c.centroid_id) AS rn
             FROM e q CROSS JOIN cent c) WHERE rn <= 4),
         t2 AS (SELECT qid, rn,
                  floor((1.0 - sim) * 1e9 + 0.5)::BIGINT AS d9
                FROM (
                  SELECT p.qid, a.vec_id,
                    list_cosine_similarity(a.v, p.qv) AS sim,
                    row_number() OVER (PARTITION BY p.qid
                      ORDER BY list_cosine_similarity(a.v, p.qv) DESC,
                               a.vec_id) AS rn
                  FROM assigned a JOIN probes p USING (centroid_id)
                  WHERE a.vec_id <> p.qid)
                WHERE rn <= 2),
         mu AS (SELECT qid,
                  min(CASE WHEN rn = 1 THEN d9 END)::BIGINT AS d1,
                  min(CASE WHEN rn = 2 THEN d9 END)::BIGINT AS d2
                FROM t2 GROUP BY 1),
         valid AS (SELECT floor(ln(d2::DOUBLE / d1::DOUBLE) * 1e9
                     + 0.5)::BIGINT AS l9
                   FROM mu WHERE d1 > 0 AND d2 IS NOT NULL),
         g AS (SELECT count(*)::BIGINT AS n_all,
                 sum(CASE WHEN d1 = 0 THEN 1 ELSE 0 END)::BIGINT
                   AS n_dup
               FROM mu),
         f AS (SELECT count(*)::BIGINT AS n_valid,
                 sum(l9)::BIGINT AS sl9
               FROM valid)
         SELECT n_all AS n_vecs, n_dup AS n_zero_r1, n_valid,
           CASE WHEN sl9 > 0
             THEN floor(n_valid::DOUBLE * 1e9 /
               (CASE WHEN sl9 <= 0 THEN 1 ELSE sl9 END)::DOUBLE * 1e4
               + 0.5) / 1e4
             ELSE 0.0 END AS id_hat
         FROM f, g""",
    // fixed retention fractions → ln(1−f) driver literals both sides
    "rarefaction_curve" -> {
      val rows = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
        .map(f => s"{'frac': $f, 'ln1f': ${math.log(1.0 - f)}}")
        .mkString(", ")
      s"""$TokCte,
         fr AS (SELECT e.frac AS frac, e.ln1f AS ln1f
                FROM (SELECT unnest([$rows]) AS e)),
         cnt AS (SELECT t, count(*)::BIGINT AS c
                 FROM (SELECT unnest(ts) AS t FROM toks) GROUP BY t),
         kc AS (SELECT c, count(*)::BIGINT AS k FROM cnt GROUP BY 1),
         v AS (SELECT sum(k)::BIGINT AS v FROM kc),
         terms AS (SELECT frac, k,
                     floor((1.0 - exp(c::DOUBLE * ln1f)) * 1e9 + 0.5)
                       ::BIGINT AS t9
                   FROM kc, fr),
         g AS (SELECT frac, sum(k::HUGEINT * t9)::HUGEINT AS s9
               FROM terms GROUP BY 1)
         SELECT frac::DOUBLE AS frac,
           floor(s9::DOUBLE / 1e9 * 1e2 + 0.5) / 1e2 AS exp_vocab,
           floor(s9::DOUBLE / 1e9 / v::DOUBLE * 1e6 + 0.5) / 1e6
             AS vocab_share
         FROM g, v ORDER BY frac"""
    },
    // van den Broek score vs χ²(1); p̂₀ = e^{−λ̂} on the 1e-9 grid
    "zero_inflation" ->
      """WITH pu AS (
           SELECT user_id,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
               END)::BIGINT AS k
           FROM events GROUP BY 1),
         g AS (SELECT count(*)::BIGINT AS n, sum(k)::BIGINT AS sk,
                 sum(CASE WHEN k = 0 THEN 1 ELSE 0 END)::BIGINT AS n0
               FROM pu),
         z AS (SELECT n, sk, n0,
                 sk::DOUBLE / n::DOUBLE AS lam,
                 floor(exp(-(sk::DOUBLE / n::DOUBLE)) * 1e9 + 0.5)
                   / 1e9 AS p0
               FROM g),
         z2 AS (SELECT n, n0, lam, p0,
                  n::DOUBLE * p0 AS expz,
                  n::DOUBLE * p0 * (1.0 - p0) -
                    n::DOUBLE * lam * p0 * p0 AS den
                FROM z),
         z3 AS (SELECT n, n0, lam, expz, den,
                 (n0::DOUBLE - expz) * (n0::DOUBLE - expz) /
                   (CASE WHEN den <= 0.0 THEN 1.0 ELSE den END) AS sc
               FROM z2)
         SELECT n AS n_users,
           floor(lam * 1e6 + 0.5) / 1e6 AS lambda_hat,
           n0 AS obs_zero,
           floor(expz * 1e2 + 0.5) / 1e2 AS exp_zero,
           CASE WHEN den > 0.0 THEN floor(sc * 1e4 + 0.5) / 1e4
             ELSE 0.0 END AS score,
           (CASE WHEN den > 0.0 AND floor(sc * 1e4 + 0.5) / 1e4 > 3.84
             THEN 1 ELSE 0 END)::BIGINT AS zero_inflated_flag
         FROM z3""",
    // per-term 1e-9 grids over exact rational arguments x·n/S
    "theil_decomposition" ->
      """WITH spend AS (
           SELECT o.o_custkey,
             sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS x,
             max(c.c_nationkey) AS nat
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
           GROUP BY 1),
         sp AS (SELECT * FROM spend WHERE x > 0),
         tot AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx
                 FROM sp),
         tt AS (SELECT sum(floor((x::DOUBLE * n / sx::DOUBLE) *
                    ln(x::DOUBLE * n / sx::DOUBLE) * 1e9 + 0.5)
                    ::BIGINT)::BIGINT AS st9
                FROM sp, tot),
         byg AS (SELECT nat, count(*)::BIGINT AS ng,
                   sum(x)::BIGINT AS xg
                 FROM sp GROUP BY 1),
         tb AS (SELECT n, sum(floor((xg::DOUBLE / sx::DOUBLE) *
                    ln(xg::DOUBLE * n /
                      (ng::DOUBLE * sx::DOUBLE)) * 1e9 + 0.5)
                    ::BIGINT)::BIGINT AS sb9
                FROM byg, tot GROUP BY n),
         z AS (SELECT n, st9, sb9,
                 st9::DOUBLE / (n::DOUBLE * 1e9) AS ttot,
                 sb9::DOUBLE / 1e9 AS tbet
               FROM tt, tb)
         SELECT n AS n_customers,
           floor(ttot * 1e6 + 0.5) / 1e6 AS theil_total,
           floor(tbet * 1e6 + 0.5) / 1e6 AS theil_between,
           floor((ttot - tbet) * 1e6 + 0.5) / 1e6 AS theil_within,
           CASE WHEN st9 != 0
             THEN floor((ttot - tbet) /
               (CASE WHEN st9 = 0 THEN 1.0 ELSE ttot END) * 1e6 + 0.5)
               / 1e6
             ELSE 0.0 END AS within_share
         FROM z""",
    // ΣR₀/ΣR₁ exact; cross terms R₁Q₀/Q₁, R₀Q₁/Q₀ on the cent grid
    "price_index" ->
      """WITH li AS (
           SELECT l_partkey AS pk,
             (year(l_shipdate) * 12 + month(l_shipdate))::BIGINT AS m,
             floor(l_extendedprice * 100 + 0.5)::BIGINT AS cents,
             l_quantity::BIGINT AS qty
           FROM lineitem),
         mid AS (SELECT ((min(m) + max(m)) // 2)::BIGINT AS mid
                 FROM li),
         per AS (SELECT pk,
                   (CASE WHEN m <= mid THEN 1 ELSE 0 END)::INT AS p0,
                   sum(cents)::BIGINT AS r, sum(qty)::BIGINT AS q
                 FROM li, mid GROUP BY 1, 2),
         bothp AS (SELECT a.pk, a.r AS r0, a.q AS q0, b.r AS r1,
                     b.q AS q1
                   FROM (SELECT * FROM per WHERE p0 = 1) a
                     JOIN (SELECT * FROM per WHERE p0 = 0) b
                     USING (pk)
                   WHERE a.q > 0 AND b.q > 0),
         terms AS (SELECT r0, r1,
                     floor(r1::DOUBLE * q0 / q1::DOUBLE + 0.5)::BIGINT
                       AS lnum,
                     floor(r0::DOUBLE * q1 / q0::DOUBLE + 0.5)::BIGINT
                       AS pden
                   FROM bothp),
         g AS (SELECT count(*)::BIGINT AS n_parts,
                 sum(r0)::BIGINT AS sr0, sum(r1)::BIGINT AS sr1,
                 sum(lnum)::BIGINT AS sl, sum(pden)::BIGINT AS sp
               FROM terms),
         z AS (SELECT n_parts,
                 sl::DOUBLE / sr0::DOUBLE AS lasp,
                 sr1::DOUBLE / sp::DOUBLE AS paas
               FROM g)
         SELECT n_parts,
           floor(lasp * 1e6 + 0.5) / 1e6 AS laspeyres,
           floor(paas * 1e6 + 0.5) / 1e6 AS paasche,
           floor(sqrt(lasp * paas) * 1e6 + 0.5) / 1e6 AS fisher
         FROM z""",
    // exact-integer ADI and CV² ratios, quantized before the cuts
    "demand_classification" ->
      """WITH pm AS (
           SELECT l_partkey AS pk,
             (year(l_shipdate) * 12 + month(l_shipdate))::BIGINT AS m,
             sum(l_quantity::BIGINT)::BIGINT AS q
           FROM lineitem GROUP BY 1, 2),
         span AS (SELECT (max(m) - min(m) + 1)::BIGINT AS span
                  FROM pm),
         pp AS (SELECT pk, count(*)::BIGINT AS dm, sum(q)::BIGINT
                  AS sq, sum(q * q)::BIGINT AS sqq
                FROM pm GROUP BY 1),
         c AS (SELECT pk,
                 floor(span::DOUBLE / dm::DOUBLE * 1e4 + 0.5) / 1e4
                   AS adi,
                 floor((dm::DOUBLE * sqq::DOUBLE -
                   sq::DOUBLE * sq::DOUBLE) /
                   (sq::DOUBLE * sq::DOUBLE) * 1e4 + 0.5) / 1e4 AS cv2
               FROM pp, span),
         cl AS (SELECT CASE
                  WHEN adi < 1.32 AND cv2 < 0.49 THEN 'smooth'
                  WHEN adi >= 1.32 AND cv2 < 0.49 THEN 'intermittent'
                  WHEN adi < 1.32 THEN 'erratic'
                  ELSE 'lumpy' END AS cls
                FROM c)
         SELECT count(*)::BIGINT AS n_parts,
           sum(CASE WHEN cls = 'smooth' THEN 1 ELSE 0 END)::BIGINT
             AS n_smooth,
           sum(CASE WHEN cls = 'intermittent' THEN 1 ELSE 0
             END)::BIGINT AS n_intermittent,
           sum(CASE WHEN cls = 'erratic' THEN 1 ELSE 0 END)::BIGINT
             AS n_erratic,
           sum(CASE WHEN cls = 'lumpy' THEN 1 ELSE 0 END)::BIGINT
             AS n_lumpy
         FROM cl""",
    // worst-line lead per order; exact cumulative p95, one division
    "perfect_order_rate" ->
      """WITH leads AS (
           SELECT l.l_orderkey,
             date_diff('day', o.o_orderdate, l.l_shipdate)::BIGINT
               AS lead
           FROM lineitem l JOIN orders o
             ON o.o_orderkey = l.l_orderkey),
         po AS (SELECT l_orderkey, max(lead)::BIGINT AS wl FROM leads
                GROUP BY 1),
         og AS (SELECT count(*)::BIGINT AS n_orders,
                  sum(CASE WHEN wl <= 30 THEN 1 ELSE 0 END)::BIGINT
                    AS n_perfect
                FROM po),
         lg AS (SELECT count(*)::BIGINT AS nl, sum(lead)::BIGINT AS sl
                FROM leads),
         p95 AS (SELECT min(lead)::BIGINT AS p95_lead FROM (
                   SELECT lead, sum(k) OVER (ORDER BY lead
                     ROWS UNBOUNDED PRECEDING) AS cum FROM (
                     SELECT lead, count(*)::BIGINT AS k FROM leads
                     GROUP BY 1)), lg
                 WHERE cum * 100 >= nl * 95)
         SELECT n_orders,
           floor(n_perfect::DOUBLE / n_orders::DOUBLE * 1e6 + 0.5)
             / 1e6 AS perfect_share,
           floor(sl::DOUBLE / nl::DOUBLE * 1e4 + 0.5) / 1e4
             AS mean_lead_days,
           p95_lead
         FROM og, lg, p95""",
    // per-pair 1e-9 grids: alignment over same-label pairs,
    // uniformity ln E[e^{−4(1−cos)}] over all pairs
    "embedding_alignment" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
                    FROM embeddings),
         pairs AS (SELECT
                     (CASE WHEN a.label = b.label THEN 1 ELSE 0
                       END)::BIGINT AS same,
                     floor((1.0 - list_cosine_similarity(a.v, b.v))
                       * 1e9 + 0.5)::BIGINT AS d9
                   FROM e a JOIN e b ON a.vec_id < b.vec_id),
         g AS (SELECT count(*)::BIGINT AS np,
                 sum(same)::BIGINT AS npos,
                 sum(CASE WHEN same = 1 THEN d9 ELSE 0 END)::BIGINT
                   AS spos,
                 sum(floor(exp(d9::DOUBLE / -250000000.0) * 1e9
                   + 0.5)::BIGINT)::BIGINT AS su9
               FROM pairs)
         SELECT np AS n_pairs, npos AS n_pos_pairs,
           CASE WHEN npos > 0
             THEN floor(spos::DOUBLE /
               ((CASE WHEN npos = 0 THEN 1 ELSE npos END)::DOUBLE
                * 1e9) * 1e6 + 0.5) / 1e6
             ELSE 0.0 END AS alignment,
           floor(ln(su9::DOUBLE / (np::DOUBLE * 1e9)) * 1e6 + 0.5)
             / 1e6 AS uniformity
         FROM g""",
    // exact Pareto cuts: A while cum_excl·10 < S·8, B while ·20 < S·19
    "abc_classification" ->
      """WITH rev AS (
           SELECT l_partkey AS pk,
             sum(floor(l_extendedprice * 100 + 0.5)::BIGINT)::BIGINT
               AS r
           FROM lineitem GROUP BY 1),
         tot AS (SELECT sum(r)::BIGINT AS sr FROM rev),
         cls AS (SELECT r, sr,
                   CASE WHEN coalesce(sum(r) OVER (
                       ORDER BY r DESC, pk
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1
                         PRECEDING), 0) * 10 < sr * 8 THEN 'A'
                     WHEN coalesce(sum(r) OVER (
                       ORDER BY r DESC, pk
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1
                         PRECEDING), 0) * 20 < sr * 19 THEN 'B'
                     ELSE 'C' END AS cls
                 FROM rev, tot),
         g AS (SELECT count(*)::BIGINT AS n_parts,
                 sum(CASE WHEN cls = 'A' THEN 1 ELSE 0 END)::BIGINT
                   AS n_a,
                 sum(CASE WHEN cls = 'B' THEN 1 ELSE 0 END)::BIGINT
                   AS n_b,
                 sum(CASE WHEN cls = 'C' THEN 1 ELSE 0 END)::BIGINT
                   AS n_c,
                 sum(CASE WHEN cls = 'A' THEN r ELSE 0 END)::BIGINT
                   AS ra,
                 sum(CASE WHEN cls = 'B' THEN r ELSE 0 END)::BIGINT
                   AS rb,
                 max(sr)::BIGINT AS sr
               FROM cls)
         SELECT n_parts, n_a, n_b, n_c,
           floor(ra::DOUBLE / sr::DOUBLE * 1e6 + 0.5) / 1e6
             AS rev_share_a,
           floor(rb::DOUBLE / sr::DOUBLE * 1e6 + 0.5) / 1e6
             AS rev_share_b
         FROM g""",
    // ⁰D exact, ¹D = e^H on the −p·ln p grid, ²D = N²/Σn² exact
    "hill_numbers" ->
      """WITH bys AS (SELECT source, count(*)::BIGINT AS c
                      FROM documents GROUP BY 1),
         tot AS (SELECT count(*)::BIGINT AS k, sum(c)::BIGINT AS n,
                   sum(c::HUGEINT * c)::HUGEINT AS cc
                 FROM bys),
         h AS (SELECT sum(floor(-(c::DOUBLE / n) *
                   ln(c::DOUBLE / n) * 1e9 + 0.5)::BIGINT)::BIGINT
                   AS h9
               FROM bys, tot)
         SELECT n AS n_docs, k AS d0_richness,
           floor(exp(h9::DOUBLE / 1e9) * 1e4 + 0.5) / 1e4
             AS d1_shannon,
           floor(n::DOUBLE * n::DOUBLE / cc::DOUBLE * 1e4 + 0.5) / 1e4
             AS d2_simpson
         FROM tot, h""",
    // three granularities of the (type, time-bucket) QI; true user
    // share via countDistinct over violating classes
    "anonymity_sweep" ->
      """WITH ev AS (
           SELECT event_type, user_id,
                  (epoch_ms(ts) // 1000 // 3600)::BIGINT AS hb
           FROM events),
         nu AS (SELECT count(DISTINCT user_id)::BIGINT AS nu FROM ev),
         g AS (SELECT e.gr AS gr, e.div AS div FROM (SELECT unnest([
                 {'gr': 'hour', 'div': 1},
                 {'gr': '4hour', 'div': 4},
                 {'gr': 'day', 'div': 24}]) AS e)),
         rowsg AS (SELECT gr, event_type, (hb // div)::BIGINT AS b,
                     user_id
                   FROM ev, g),
         classes AS (SELECT gr, event_type, b,
                       count(DISTINCT user_id)::BIGINT AS cu
                     FROM rowsg GROUP BY 1, 2, 3),
         summ AS (SELECT gr, count(*)::BIGINT AS n_classes,
                    sum(CASE WHEN cu < 5 THEN 1 ELSE 0 END)::BIGINT
                      AS n_violating
                  FROM classes GROUP BY 1),
         risk AS (SELECT r.gr,
                    count(DISTINCT r.user_id)::BIGINT AS ur
                  FROM rowsg r JOIN classes c
                    ON c.gr = r.gr AND c.event_type = r.event_type
                   AND c.b = r.b
                  WHERE c.cu < 5 GROUP BY 1)
         SELECT s.gr AS granularity, n_classes, n_violating,
           floor(coalesce(ur, 0)::DOUBLE / nu::DOUBLE * 1e6 + 0.5)
             / 1e6 AS user_risk_share
         FROM summ s LEFT JOIN risk ON risk.gr = s.gr, nu
         ORDER BY granularity""",
    // round-7: occurrence-mass novelty by ingestion slice; first
    // occurrences via min(doc_id) per shingle, slice labels by pure
    // integer arithmetic on the (lo,hi) id bounds
    "ngram_novelty" -> s"""$TokCte,
         sh AS (SELECT doc_id, unnest(list_distinct(
             CASE WHEN len(ts) >= 3
               THEN list_transform(range(1, len(ts) - 1),
                      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
               ELSE [array_to_string(ts, ' ')] END)) AS sh
           FROM toks),
         b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM sh),
         f AS (SELECT sh AS s2, min(doc_id) AS first_id
               FROM sh GROUP BY 1),
         lab AS (SELECT
             least((10 * (e.doc_id - lo)) // (hi - lo + 1), 9)::BIGINT
               AS slice,
             e.doc_id,
             CASE WHEN e.doc_id = f.first_id THEN 1 ELSE 0 END AS novel
           FROM sh e JOIN f ON e.sh = f.s2 CROSS JOIN b),
         g AS (SELECT slice, count(DISTINCT doc_id)::BIGINT AS n_docs,
                 count(*)::BIGINT AS n_occ, sum(novel)::BIGINT AS n_novel
               FROM lab GROUP BY 1),
         sp AS (SELECT unnest(range(0, 10))::BIGINT AS slice)
         SELECT sp.slice AS slice,
           coalesce(n_docs, 0)::BIGINT AS n_docs,
           coalesce(n_occ, 0)::BIGINT AS n_occ,
           coalesce(n_novel, 0)::BIGINT AS n_novel,
           CASE WHEN coalesce(n_occ, 0) > 0
             THEN floor(n_novel::DOUBLE / n_occ::DOUBLE * 1e6 + 0.5) / 1e6
             ELSE 0.0 END AS novelty_rate
         FROM sp LEFT JOIN g ON sp.slice = g.slice ORDER BY slice""",
    // pair volume by exact Hamming distance over the banked SimHash
    // candidates (exhaustive to distance 3 by pigeonhole)
    "simhash_radius_sweep" -> s"""WITH p AS ($SimhashSql),
         sp AS (SELECT unnest(range(0, 4))::BIGINT AS radius)
         SELECT radius,
           (SELECT count(*) FROM p WHERE dist <= radius)::BIGINT
             AS n_pairs,
           (SELECT count(*) FROM p WHERE dist = radius)::BIGINT
             AS n_at_radius
         FROM sp ORDER BY radius""",
    // per-language token mass outside the global top-1000 vocabulary;
    // the head set is rank-deterministic (count desc, token)
    "tail_token_mass" -> tailTokenMassOracleSql(),
    // per-source mean quality of the first vs last ingestion-order
    // quarter; per-doc quality on the 1e-6 LONG grid before the sums
    "quality_drift" -> {
      s"""WITH q AS ($QualitySql),
         q6t AS (SELECT doc_id,
             CAST(floor(quality * 1e6 + 0.5) AS BIGINT) AS q6
           FROM q),
         base AS (SELECT q6t.doc_id, q6, source
                  FROM q6t JOIN documents USING (doc_id)),
         b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM base),
         lab AS (SELECT source, q6,
             least((4 * (doc_id - lo)) // (hi - lo + 1), 3)::BIGINT
               AS qt
           FROM base CROSS JOIN b),
         g AS (SELECT source, count(*)::BIGINT AS n_docs,
             sum(CASE WHEN qt = 0 THEN 1 ELSE 0 END)::BIGINT AS n_first,
             sum(CASE WHEN qt = 3 THEN 1 ELSE 0 END)::BIGINT AS n_last,
             sum(CASE WHEN qt = 0 THEN q6 ELSE 0 END)::BIGINT AS s_first,
             sum(CASE WHEN qt = 3 THEN q6 ELSE 0 END)::BIGINT AS s_last
           FROM lab GROUP BY 1),
         m AS (SELECT source, n_docs, n_first, n_last,
             CASE WHEN n_first > 0
               THEN floor(s_first::DOUBLE / n_first::DOUBLE / 1e6 * 1e6
                 + 0.5) / 1e6
               ELSE 0.0 END AS mean_q_first,
             CASE WHEN n_last > 0
               THEN floor(s_last::DOUBLE / n_last::DOUBLE / 1e6 * 1e6
                 + 0.5) / 1e6
               ELSE 0.0 END AS mean_q_last
           FROM g)
         SELECT source, n_docs, n_first, n_last, mean_q_first,
           mean_q_last,
           floor((mean_q_last - mean_q_first) * 1e6 + 0.5) / 1e6
             AS drift
         FROM m ORDER BY source"""
    },
    // survivors = docs that are their component's min id under the
    // 0.8-pair transitive closure (singletons survive by definition);
    // residual pairs = 0.7-pairs between two survivors
    "residual_dup_audit" -> s"""WITH RECURSIVE prs AS ($JaccardSql),
         prs7 AS (${jaccardSqlAt(0.7)}),
         edges AS (SELECT doc_a AS s, doc_b AS d FROM prs
                   UNION ALL SELECT doc_b, doc_a FROM prs),
         nodes0 AS (SELECT DISTINCT s AS id FROM edges),
         walk(id, comp) AS (
           SELECT id, id FROM nodes0
           UNION
           SELECT e.d, w.comp FROM walk w JOIN edges e ON e.s = w.id),
         cmp AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
         nd AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
         dd AS (SELECT count(*)::BIGINT AS n_dup,
                  coalesce(sum(CASE WHEN id = comp THEN 1 ELSE 0 END),
                    0)::BIGINT AS n_dup_surv
                FROM cmp),
         ns AS (SELECT n_docs, (n_docs - n_dup + n_dup_surv)::BIGINT
                  AS n_survivors
                FROM nd, dd),
         losers AS (SELECT id FROM cmp WHERE id <> comp),
         resid AS (SELECT count(*)::BIGINT AS n_residual_pairs
                   FROM prs7 p
                   WHERE p.doc_a NOT IN (SELECT id FROM losers)
                     AND p.doc_b NOT IN (SELECT id FROM losers))
         SELECT n_docs, n_survivors, n_residual_pairs,
           floor(n_residual_pairs::DOUBLE * 1000.0 /
             n_survivors::DOUBLE * 1e6 + 0.5) / 1e6 AS residual_per_1k
         FROM ns, resid""",
    "minhash_k_sweep" -> MinhashKSweepSql,
    // rank-cutoff recall sweep over ONE IVF candidate pass at nprobe=4
    // (nprobe_recall_sweep's other axis); both rankings ranked once
    "recall_at_k_sweep" -> recallAtKSweepOracleSql(),
    // min-id vs quality-argmax survivorship over size>=2 clusters;
    // per-cluster picks by rank windows, gain on the 1e-6 LONG grid
    "dedup_policy_compare" -> s"""WITH RECURSIVE prs AS ($JaccardSql),
         edges AS (SELECT doc_a AS s, doc_b AS d FROM prs
                   UNION ALL SELECT doc_b, doc_a FROM prs),
         walk(id, comp) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.d, w.comp FROM walk w JOIN edges e ON e.s = w.id),
         canon AS (SELECT id AS doc_id, min(comp) AS canonical_id
                   FROM walk GROUP BY id),
         qual AS ($QualitySql),
         wq AS (SELECT c.doc_id, c.canonical_id,
                  coalesce(CAST(floor(q.quality * 1e6 + 0.5) AS BIGINT),
                    0) AS q6
                FROM canon c LEFT JOIN qual q ON q.doc_id = c.doc_id),
         rankq AS (SELECT canonical_id, doc_id, q6,
             row_number() OVER (PARTITION BY canonical_id
               ORDER BY q6 DESC, doc_id) AS rq,
             row_number() OVER (PARTITION BY canonical_id
               ORDER BY doc_id) AS rid
           FROM wq),
         per AS (SELECT canonical_id, count(*)::BIGINT AS n,
             max(CASE WHEN rq = 1 THEN doc_id END)::BIGINT AS keep_id,
             max(CASE WHEN rq = 1 THEN q6 END)::BIGINT AS bq6,
             max(CASE WHEN rid = 1 THEN q6 END)::BIGINT AS mq6
           FROM rankq GROUP BY 1),
         g AS (SELECT count(*)::BIGINT AS n_clusters,
             coalesce(sum(CASE WHEN keep_id = canonical_id THEN 1
               ELSE 0 END), 0)::BIGINT AS n_agree,
             coalesce(sum(bq6 - mq6), 0)::BIGINT AS gain6
           FROM per WHERE n >= 2)
         SELECT n_clusters, n_agree,
           CASE WHEN n_clusters > 0
             THEN floor(n_agree::DOUBLE / n_clusters::DOUBLE * 1e6
               + 0.5) / 1e6
             ELSE 0.0 END AS agree_share,
           CASE WHEN n_clusters > 0
             THEN floor(gain6::DOUBLE / n_clusters::DOUBLE / 1e6 * 1e6
               + 0.5) / 1e6
             ELSE 0.0 END AS mean_q_gain
         FROM g""",
    // transformWithState census: final per-user sink row equals the
    // batch groupBy — counts are exact integers, no float anywhere
    "stream_tws_replay" ->
      """SELECT user_id, count(*)::BIGINT AS n_events,
           count(DISTINCT event_type)::BIGINT AS n_types
         FROM events GROUP BY 1""",
    // warm-start handoff: seed(first half) + stream(second half) must
    // reproduce the FULL-corpus census — identical oracle by design
    "stream_tws_init_replay" ->
      """SELECT user_id, count(*)::BIGINT AS n_events,
           count(DISTINCT event_type)::BIGINT AS n_types
         FROM events GROUP BY 1""",
    // timer-closed sessions ≡ the batch gap-sessionize restatement
    // (same SQL as stream_timeout_replay — same semantics, new API)
    "stream_tws_timer_replay" ->
      """WITH e AS (
           SELECT user_id, event_id, ts, value,
                  epoch_ms(ts) // 1000 AS ep,
                  CASE WHEN lag(epoch_ms(ts) // 1000) OVER w IS NULL
                         OR epoch_ms(ts) // 1000
                            - lag(epoch_ms(ts) // 1000) OVER w > 1800
                       THEN 1 ELSE 0 END AS new_s
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING)::BIGINT AS session_seq FROM e)
         SELECT user_id, session_seq, count(*) AS n_events,
                min(ep) AS start_epoch, max(ep) AS end_epoch,
                round(sum(value), 4) AS sum_value
         FROM s GROUP BY user_id, session_seq""",
    // PQ memory↔distortion tuning: per-m concatenated-vector MSE from
    // exact LONG d2 totals over the same one-Lloyd-round construction
    "pq_m_sweep" -> pqSweepOracleSql(),
    // IVF list-count tuning at fixed probe budget: shared exact truth,
    // one assignment block per C
    "ivf_centroid_sweep" -> centroidSweepOracleSql(),
    // consecutive view→click→purchase triples in (ts, event_id) order
    // — the ListState funnel detector's batch twin via two lags
    "stream_tws_list_replay" ->
      """WITH e AS (
           SELECT user_id, event_id, event_type,
                  epoch_ms(ts) // 1000 AS ep,
                  lag(event_type, 2) OVER w AS t2,
                  lag(event_type, 1) OVER w AS t1
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT user_id, event_id, ep
         FROM e
         WHERE t2 = 'view' AND t1 = 'click'
           AND event_type = 'purchase'""",
    // exactly-once foreachBatch sink: every batch committed TWICE into
    // its own batch=<id> path (idempotent overwrite) — readback must
    // equal the plain batch aggregate, or re-delivery double-counted
    "stream_foreach_batch_replay" ->
      """SELECT event_type, count(*)::BIGINT AS n_events,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT
             AS v_cents
         FROM events GROUP BY 1 ORDER BY 1""",
    // mid-stream cold restart under RocksDB changelog checkpointing:
    // state reloads from snapshot+changelog, census must equal the
    // full-corpus batch census (same oracle as stream_tws_replay)
    "stream_changelog_restart_replay" ->
      """SELECT user_id, count(*)::BIGINT AS n_events,
           count(DISTINCT event_type)::BIGINT AS n_types
         FROM events GROUP BY 1""",
    // statestore batch read of the checkpoint after 2 of 4 fed batches
    // = per-user stats over exactly the first ceil(n/4)*2 events in
    // (ts, event_id) order (the replay's deterministic batch split)
    "stream_state_source_audit" ->
      """WITH o AS (SELECT user_id, value,
             row_number() OVER (ORDER BY ts, event_id) AS rn,
             count(*) OVER () AS n
           FROM events)
         SELECT user_id, count(*)::BIGINT AS n_events,
           round(sum(value), 4) AS sum_value
         FROM o
         WHERE rn <= least(CAST(ceiling(n / 4.0) AS BIGINT) * 2, n)
         GROUP BY 1""",
    // left-outer stream-stream join: same pairs as stream_join_replay
    // plus unmatched clicks with the -1 sentinel right side
    "stream_outer_join_replay" ->
      """SELECT c.user_id, c.event_id AS l_event_id,
                coalesce(p.event_id, -1)::BIGINT AS r_event_id,
                epoch_ms(c.ts) // 1000 AS l_ep,
                coalesce(epoch_ms(p.ts) // 1000, -1)::BIGINT AS r_ep
         FROM (SELECT * FROM events WHERE event_type = 'click') c
         LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON c.user_id = p.user_id
          AND epoch_ns(c.ts) // 1000 >= epoch_ns(p.ts) // 1000 - 3600000000
          AND epoch_ns(c.ts) // 1000 <= epoch_ns(p.ts) // 1000""",
    // at-least-once feed (in-batch dups + re-delivered batch tails)
    // deduped within the watermark = every event exactly once
    "stream_dedup_wm_replay" ->
      """SELECT event_id, user_id, event_type,
                epoch_ms(ts) // 1000 AS ep
         FROM events""",
    // VARIANT roundtrip: aggregates recovered via parse_json +
    // variant_get equal the same aggregates on the typed columns;
    // the probed missing path never materializes a phantom value
    "variant_roundtrip" ->
      """SELECT event_type, count(*)::BIGINT AS n_events,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT
             AS v_cents,
           sum(user_id)::BIGINT AS uid_sum,
           0::BIGINT AS n_phantom
         FROM events GROUP BY 1 ORDER BY 1""",
    // the checkpoint's operator registry after 2 fed batches: one
    // deterministic row (operator 0, FMGS, default store, the replay's
    // 4 shuffle partitions, batch range 0..1)
    "stream_state_metadata_audit" ->
      """SELECT 0::BIGINT AS operator_id,
           'flatMapGroupsWithState' AS operator_name,
           'default' AS state_store_name,
           4::INTEGER AS num_partitions,
           0::BIGINT AS min_batch_id,
           1::BIGINT AS max_batch_id""",
    // XML hop (to_xml -> from_xml) preserves the typed aggregates
    "xml_roundtrip" ->
      """SELECT event_type, count(*)::BIGINT AS n_events,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT
             AS v_cents,
           sum(user_id)::BIGINT AS uid_sum
         FROM events GROUP BY 1 ORDER BY 1""",
    // file-source + AvailableNow backfill: the complete-mode census is
    // split-invariant, so the sink equals the plain batch aggregate
    "stream_available_now_replay" ->
      """SELECT event_type, count(*)::BIGINT AS n_events,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT
             AS v_cents
         FROM events GROUP BY 1 ORDER BY 1""",
    // the :m/:r binding must equal this literal-inlined restatement
    "named_params_sql" ->
      """SELECT event_type, count(*)::BIGINT AS n_events,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT
             AS v_cents
         FROM events WHERE user_id % 7 = 3
         GROUP BY event_type ORDER BY event_type""",
    // the SAME recursive-CTE text both engines run verbatim (linear
    // 12-step recursion; identical double chain -> identical 1e-6 EMA)
    "recursive_cte_ema" -> graft.operators.Relational
      .recursiveCteEmaSql("orders"),
    // the SQL-defined function inlines to exactly this expression
    "sql_udf_rollup" ->
      """SELECT event_type, count(*)::BIGINT AS n_events,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT
             AS v_cents
         FROM events GROUP BY event_type ORDER BY event_type""",
    // the session variable's exact cent-grid mean, inlined as a
    // scalar subquery with the same division order
    "session_vars_sql" ->
      """WITH cut AS (
           SELECT CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                       AS DOUBLE) / count(*) / 100 AS c
           FROM events)
         SELECT event_type, count(*)::BIGINT AS n_above
         FROM events, cut WHERE value > c
         GROUP BY event_type ORDER BY event_type""",
    // the scripting WHILE loop's float chain, restated as a recursive
    // CTE with the identical IEEE op order (x + n/x) / 2
    "sql_scripting_newton" ->
      """WITH RECURSIVE s AS (
           SELECT CAST(count(*) AS DOUBLE) AS n FROM orders),
         it(k, x) AS (
           SELECT 0, n FROM s
           UNION ALL
           SELECT k + 1, (x + (SELECT n FROM s) / x) / CAST(2 AS DOUBLE)
           FROM it WHERE k < 20)
         SELECT CAST((SELECT n FROM s) AS BIGINT) AS n_orders,
                floor(x * 1e9 + 0.5) / 1e9 AS newton_sqrt
         FROM it WHERE k = 20""",
    // the pipe spelling must lower to exactly this classic query
    "pipe_syntax_rollup" ->
      """SELECT event_type, count(*)::BIGINT AS n_events,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT
             AS v_cents
         FROM events WHERE user_id % 2 = 0
         GROUP BY event_type ORDER BY event_type""",
    // the SQL TVF's spine expansion, inlined as a series
    "sql_table_function" ->
      """SELECT t.mn AS mth, count(o.o_orderkey)::BIGINT AS n_orders
         FROM (SELECT unnest(range(1, 13))::INT AS mn) t
         LEFT JOIN orders o ON month(o.o_orderdate) = t.mn
         GROUP BY t.mn ORDER BY t.mn""",
    // two unioned sources must census to the single-source aggregate
    "stream_union_replay" ->
      """SELECT event_type, count(*)::BIGINT AS n_events,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT
             AS v_cents
         FROM events GROUP BY 1 ORDER BY 1""",
    // summed per-batch observe() metrics = the batch totals
    "stream_observe_replay" ->
      """SELECT count(*)::BIGINT AS rows_total,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT
             AS cents_total
         FROM events""",
    // the CSV text hop preserves the typed aggregates
    "csv_roundtrip" ->
      """SELECT event_type, count(*)::BIGINT AS n_events,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT
             AS v_cents,
           sum(user_id)::BIGINT AS uid_sum
         FROM events GROUP BY 1 ORDER BY 1""",
    // the ORC write->scan hop preserves the typed aggregates
    "orc_roundtrip" ->
      """SELECT event_type, count(*)::BIGINT AS n_events,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT
             AS v_cents
         FROM events GROUP BY 1 ORDER BY 1""",
    // DSv2 catalog CTAS of (region -> nation) edges, then
    // overwrite($"src" >= 2) replaces that key range with reversed
    // (nation -> region) edges: readback = old rows with src < 2
    // UNION ALL the replacement rows
    "dsv2_overwrite_audit" ->
      """WITH olde AS (SELECT n_regionkey::BIGINT AS src,
                         n_nationkey::BIGINT AS dst FROM nation),
         newe AS (SELECT n_nationkey::BIGINT AS src,
                    n_regionkey::BIGINT AS dst FROM nation
                  WHERE n_nationkey >= 2),
         fin AS (SELECT * FROM olde WHERE src < 2
                 UNION ALL SELECT * FROM newe)
         SELECT src, count(*)::BIGINT AS n_edges,
           sum(dst)::BIGINT AS dst_sum
         FROM fin GROUP BY 1 ORDER BY 1""",
    // two concurrent ProcessingTime queries, one census each over the
    // alternating-index halves: summed sinks = the batch census
    "stream_concurrent_replay" ->
      """SELECT event_type, count(*)::BIGINT AS n_events,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT
             AS v_cents
         FROM events GROUP BY 1 ORDER BY 1""",
    // (nation -> region) adjacency joined to the region-2 nation keys:
    // runtime filtering prunes the scan, the values are the plain join
    "dsv2_runtime_filter_audit" ->
      """WITH e AS (SELECT n_nationkey::BIGINT AS src,
                      n_regionkey::BIGINT AS dst FROM nation),
         d AS (SELECT n_nationkey::BIGINT AS k FROM nation
               WHERE n_regionkey = 2)
         SELECT src, count(*)::BIGINT AS n_edges,
           sum(dst)::BIGINT AS dst_sum
         FROM e JOIN d ON e.src = d.k GROUP BY 1 ORDER BY 1""",
    // ORDER BY (src DESC, dst) LIMIT 7 through the pushed size-7 heap:
    // src is unique, so the cut is deterministic and the order-free
    // census restates it exactly
    "dsv2_topn_push_audit" ->
      """WITH e AS (SELECT n_nationkey::BIGINT AS src,
                      n_regionkey::BIGINT AS dst FROM nation),
         t AS (SELECT * FROM e ORDER BY src DESC, dst LIMIT 7)
         SELECT count(*)::BIGINT AS n_rows, sum(src)::BIGINT AS src_sum,
           sum(dst)::BIGINT AS dst_sum
         FROM t""",
    // adjacency (nation -> region) joined to customer on nation key:
    // the reported scan stats move the build side, never the values
    "dsv2_stats_audit" ->
      """WITH e AS (SELECT n_nationkey::BIGINT AS src,
                      n_regionkey::BIGINT AS dst FROM nation),
         c AS (SELECT c_nationkey::BIGINT AS k,
                 CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
                   AS bal_cents FROM customer)
         SELECT dst, count(*)::BIGINT AS n_custs,
           sum(bal_cents)::BIGINT AS bal_sum
         FROM e JOIN c ON e.src = c.k GROUP BY 1 ORDER BY 1""",
    // ungrouped count/min/max census folded inside the DSv2 readers
    "dsv2_agg_push_audit" ->
      """WITH e AS (SELECT n_nationkey::BIGINT AS src,
                      n_regionkey::BIGINT AS dst FROM nation)
         SELECT count(*)::BIGINT AS n_edges, min(src)::BIGINT AS src_min,
           max(src)::BIGINT AS src_max, min(dst)::BIGINT AS dst_min,
           max(dst)::BIGINT AS dst_max
         FROM e""",
    // per-source-file provenance census via the _source_file metadata
    // column; the staging split is src < 12 -> a.txt, else b.txt
    "dsv2_metadata_col_audit" ->
      """WITH e AS (SELECT n_nationkey::BIGINT AS src,
                      n_regionkey::BIGINT AS dst FROM nation),
         lab AS (SELECT CASE WHEN src < 12 THEN 'a.txt' ELSE 'b.txt' END
                   AS source_file, dst FROM e)
         SELECT source_file, count(*)::BIGINT AS n_edges,
           sum(dst)::BIGINT AS dst_sum
         FROM lab GROUP BY 1 ORDER BY 1""",
    // Kalman local-level recursion replayed step-exact: P- = P + Q;
    // K = P-/(P- + R); l += K(x-l); P = (1-K)P-  (Q=0.5, R=2.0,
    // seeded l=x1, P=R, K=1) — identical IEEE op order both engines
    "kalman_filter" ->
      """WITH RECURSIVE daily AS MATERIALIZED (
           SELECT date_diff('day', DATE '2024-01-01', ts::DATE) AS day,
                  sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT))::DOUBLE
                    / 1e6 AS x
           FROM events GROUP BY 1),
         ord AS MATERIALIZED (
           SELECT day, x, row_number() OVER (ORDER BY day) AS rn
           FROM daily),
         r AS (
           SELECT day, x, rn, x AS pred, x AS level,
                  2.0::DOUBLE AS p, 1.0::DOUBLE AS gain
           FROM ord WHERE rn = 1
           UNION ALL
           SELECT o.day, o.x, o.rn,
             r.level,
             r.level + ((r.p + 0.5) / ((r.p + 0.5) + 2.0))
               * (o.x - r.level),
             (1.0 - ((r.p + 0.5) / ((r.p + 0.5) + 2.0))) * (r.p + 0.5),
             (r.p + 0.5) / ((r.p + 0.5) + 2.0)
           FROM ord o JOIN r ON o.rn = r.rn + 1)
         SELECT day::BIGINT AS day,
                floor(x * 1e6 + 0.5) / 1e6 AS actual,
                floor(pred * 1e6 + 0.5) / 1e6 AS pred,
                floor(level * 1e6 + 0.5) / 1e6 AS filtered,
                floor(gain * 1e6 + 0.5) / 1e6 AS gain,
                floor(p * 1e6 + 0.5) / 1e6 AS p_var
         FROM r ORDER BY day""",
    // communicating classes (SCC) of the per-source top-2 transition
    // skeleton + closed (recurrent) verdict; closure via recursive CTE
    "markov_classes" ->
      """WITH RECURSIVE seq AS (
           SELECT event_type AS cur,
                  lead(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS nxt
           FROM events),
         tr AS (SELECT cur, nxt, count(*)::BIGINT AS c FROM seq
                WHERE nxt IS NOT NULL GROUP BY 1, 2),
         edges AS (SELECT cur AS src, nxt AS dst FROM (
                     SELECT cur, nxt, row_number() OVER (
                       PARTITION BY cur ORDER BY c DESC, nxt) AS rn
                     FROM tr)
                   WHERE rn <= 2),
         nodes AS (SELECT DISTINCT src AS n FROM edges
                   UNION SELECT DISTINCT dst FROM edges),
         reach AS (
           SELECT n AS src, n AS dst FROM nodes
           UNION SELECT src, dst FROM edges
           UNION SELECT r.src, e.dst
           FROM reach r JOIN edges e ON r.dst = e.src),
         mutual AS (
           SELECT f.src AS node, f.dst AS peer
           FROM reach f JOIN reach b
             ON f.src = b.dst AND f.dst = b.src),
         classes AS (
           SELECT node, min(peer) AS class_id,
                  count(*)::BIGINT AS class_size
           FROM mutual GROUP BY node),
         esc AS (
           SELECT DISTINCT cs.class_id
           FROM edges ed
           JOIN classes cs ON ed.src = cs.node
           JOIN classes cd ON ed.dst = cd.node
           WHERE cs.class_id <> cd.class_id)
         SELECT node AS event_type, class_id, class_size,
           CASE WHEN class_id IN (SELECT class_id FROM esc)
             THEN 0 ELSE 1 END::BIGINT AS closed
         FROM classes ORDER BY event_type""",
    // 4 unrolled deterministic-hash walk steps over the
    // customer<->supplier graph; argmin of the shared 2^40 mix per
    // (seed, step), dst tie-break — identical integers both engines
    "hash_walks" ->
      (s"WITH $GraphCte,\n" +
        """seeds AS (
             SELECT DISTINCT c_custkey::BIGINT AS seed FROM customer
             WHERE c_custkey % 100 = 1
               AND c_custkey IN (SELECT src FROM edges)),
           w0 AS (SELECT seed, seed AS node FROM seeds),
        """ +
        (1 to 4).map(walkStepSql).mkString(",\n") + "\n" +
        """SELECT seed, 0::BIGINT AS step, node::BIGINT AS node FROM w0
           UNION ALL SELECT seed, 1, node FROM w1
           UNION ALL SELECT seed, 2, node FROM w2
           UNION ALL SELECT seed, 3, node FROM w3
           UNION ALL SELECT seed, 4, node FROM w4
           ORDER BY seed, step"""),
    // cell-blocked radius join on key-derived integer coordinates;
    // 3x3 probe neighborhood + exact dx^2+dy^2 <= r^2 verify (r=150)
    "geo_radius_join" ->
      (s"""WITH cust AS (
             ${gridCoordsSql("customer", "c_custkey",
               ", c_mktsegment AS segment", ", segment", 1L, 2L,
               10000L)}),
           supp AS (
             ${gridCoordsSql("supplier", "s_suppkey", "", "", 3L, 4L,
               10000L)}),
           probe AS (
             SELECT s.id AS sid, s.x AS sx, s.y AS sy,
                    s.x // 150 + dx.d AS px, s.y // 150 + dy.d AS py
             FROM supp s
             CROSS JOIN (SELECT unnest(range(-1, 2)) AS d) dx
             CROSS JOIN (SELECT unnest(range(-1, 2)) AS d) dy)
           SELECT c.segment, count(*)::BIGINT AS n_pairs,
                  count(DISTINCT c.id)::BIGINT AS n_customers,
                  sum((c.x - p.sx) * (c.x - p.sx)
                    + (c.y - p.sy) * (c.y - p.sy))::BIGINT AS d2_sum,
                  min((c.x - p.sx) * (c.x - p.sx)
                    + (c.y - p.sy) * (c.y - p.sy))::BIGINT AS d2_min
           FROM cust c JOIN probe p
             ON c.x // 150 = p.px AND c.y // 150 = p.py
           WHERE (c.x - p.sx) * (c.x - p.sx)
             + (c.y - p.sy) * (c.y - p.sy) <= 22500
           GROUP BY c.segment ORDER BY c.segment"""),
    // frequent-items sketch in its exact regime (cap >= distinct):
    // the merged estimate equals the exact census
    "topk_sketch_rollup" ->
      """SELECT event_type, count(*)::BIGINT AS n
         FROM events GROUP BY 1 ORDER BY 1""",
    // try_multiply/try_divide null semantics restated as explicit
    // guards: overflow iff cents > Long.Max // 2e12; div-by-zero null
    "try_arithmetic" ->
      """WITH li AS (
           SELECT l_returnflag,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
               AS cents,
             l_linenumber::BIGINT AS ln
           FROM lineitem),
         t AS (
           SELECT l_returnflag,
             CASE WHEN cents > 9223372036854775807 // 2000000000000
               THEN NULL ELSE cents * 2000000000000 END AS mul,
             CASE WHEN ln = 1 THEN NULL
               ELSE cents / (ln - 1) END AS dv
           FROM li)
         SELECT l_returnflag, count(*)::BIGINT AS n_rows,
           sum(CASE WHEN mul IS NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_mul_overflow,
           max(mul)::BIGINT AS mul_max,
           sum(CASE WHEN dv IS NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_div_null,
           sum(CAST(floor(dv * 1e6 + 0.5) AS BIGINT))::BIGINT
             AS div_sum6
         FROM t GROUP BY 1 ORDER BY 1""",
    // cross-source quantile normalization: pooled order statistic at
    // idx = ceil((2r-1)N / (2 n_g)), HUGEINT product, interval lookup
    "quantile_normalize" ->
      """WITH docs AS (
           SELECT source, doc_id, n_chars::BIGINT AS v FROM documents),
         rk AS (
           SELECT source, v,
             row_number() OVER (PARTITION BY source
               ORDER BY v, doc_id)::BIGINT AS r,
             count(*) OVER (PARTITION BY source)::BIGINT AS ng
           FROM docs),
         tot AS (SELECT count(*)::BIGINT AS nn FROM docs),
         pooled AS (
           SELECT v AS pv,
             sum(pc) OVER (ORDER BY v) - pc + 1 AS lo,
             sum(pc) OVER (ORDER BY v) AS hi
           FROM (SELECT v, count(*)::BIGINT AS pc FROM docs GROUP BY v)),
         ix AS (
           SELECT source,
             CAST(((2 * r - 1)::HUGEINT * nn + (2 * ng - 1))
               // (2 * ng) AS BIGINT) AS idx
           FROM rk, tot)
         SELECT source, count(*)::BIGINT AS n_docs,
           sum(pv)::BIGINT AS norm_sum, min(pv)::BIGINT AS norm_min,
           max(pv)::BIGINT AS norm_max,
           count(DISTINCT pv)::BIGINT AS n_norm_values
         FROM ix JOIN pooled p ON ix.idx BETWEEN p.lo AND p.hi
         GROUP BY source ORDER BY source""",
    // 12 unrolled exact-integer value-iteration rounds of
    // h(s) = 1 + sum_t P(s,t) h(t), h(purchase) = 0, on the 1e-6 grid
    "hitting_time" ->
      ("""WITH seq AS (
            SELECT event_type AS cur,
                   lead(event_type) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id) AS nxt
            FROM events),
          tr AS (SELECT cur, nxt, count(*)::BIGINT AS c FROM seq
                 WHERE nxt IS NOT NULL GROUP BY 1, 2),
          tc AS (SELECT cur, sum(c)::BIGINT AS tc FROM tr GROUP BY 1),
          h0 AS (SELECT DISTINCT cur AS state, 0::BIGINT AS h6 FROM tr),
       """ +
        (1 to 12).map(hitStepSql).mkString(",\n") + "\n" +
        """SELECT state, h6,
             floor((h6::DOUBLE / 1e6) * 1e6 + 0.5) / 1e6 AS steps
           FROM h12 ORDER BY state"""),
    // IDENTIFIER('...') table/column/group-key templating must
    // resolve to the literal spelling's semantics
    "identifier_templated" ->
      """SELECT o_orderpriority AS priority, count(*)::BIGINT AS n_orders,
           sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))::BIGINT
             AS cents
         FROM orders GROUP BY 1 ORDER BY 1""",
    // per-nation cut conductance on the symmetrized graph:
    // phi6 = cut*1e6 div min(vol, vtot - vol), exact integers
    "conductance" ->
      (s"WITH $GraphCte,\n" +
        """grp AS (
             SELECT c_custkey::BIGINT AS id,
                    c_nationkey::BIGINT AS g FROM customer
             UNION ALL
             SELECT s_suppkey + 1000000, s_nationkey::BIGINT
             FROM supplier),
           tagged AS (
             SELECT gs.g AS nation,
                    CASE WHEN gs.g <> gd.g THEN 1 ELSE 0 END AS mixed
             FROM edges e
             JOIN grp gs ON e.src = gs.id
             JOIN grp gd ON e.dst = gd.id),
           per AS (
             SELECT nation, count(*)::BIGINT AS vol,
                    sum(mixed)::BIGINT AS cut
             FROM tagged GROUP BY nation),
           tot AS (SELECT sum(vol)::BIGINT AS vtot FROM per)
         SELECT nation, vol, cut,
           CAST(cut * 1000000 // least(vol, vtot - vol) AS BIGINT)
             AS phi6
         FROM per, tot ORDER BY nation"""),
    // HyperANF: 3 register-merge rounds + per-round neighborhood-
    // function estimates; reached90's first true row = eff. diameter
    "effective_diameter" ->
      (s"WITH $GraphCte,\n" +
        """h0s AS (SELECT id,
               (list_reduce(list_prepend(0::BIGINT,
                  list_transform(string_split(id::VARCHAR, ''),
                    c -> ord(c)::BIGINT)),
                  (h, c) -> (h * 31 + c) % 1099511627776)) AS h
             FROM nodes),
        """ +
        (0 until 4).map(i =>
          s"""mx$i AS (SELECT id, xor(hm, hm // 1048576) AS h
             FROM (SELECT id, (h * 8388593) % 1099511627776 AS hm
               FROM ${if (i == 0) "h0s" else s"mx${i - 1}"}))""")
          .mkString(",\n") + ",\n" +
        s"""r0 AS (SELECT id, h % 16 AS bucket,
               (37 - (CASE ${(35 to 0 by -1).map(k =>
                 s"WHEN suffix >= ${1L << k} THEN ${k + 1}")
                 .mkString(" ")} ELSE 0 END))::BIGINT AS mj
             FROM (SELECT id, h, h >> 4 AS suffix FROM mx3)),
        """ +
        (1 to 3).map(anfRoundSql).mkString(",\n") + ",\n" +
        (0 to 3).map(anfEstSql).mkString(",\n") + ",\n" +
        """nf AS (SELECT * FROM est0 UNION ALL SELECT * FROM est1
             UNION ALL SELECT * FROM est2 UNION ALL SELECT * FROM est3),
           fin AS (SELECT n6 AS nfv FROM nf WHERE t = 3)
         SELECT t, n6,
           CAST(n6::HUGEINT * 1000000000 // nfv AS BIGINT) AS frac9,
           CAST(n6::HUGEINT * 1000000000 // nfv AS BIGINT)
             >= 900000000 AS reached90
         FROM nf, fin ORDER BY t"""),
    // the DSv2 streaming sink must land exactly the batch edge census
    "stream_dsv2_sink_replay" ->
      """WITH ed AS (SELECT user_id % 50 AS src,
             event_id % 1000 AS dst FROM events)
         SELECT src, count(*)::BIGINT AS n_edges,
           sum(dst)::BIGINT AS dst_sum
         FROM ed GROUP BY 1 ORDER BY 1""",
    // the DSv2 streaming source must deliver every file exactly once
    "stream_dsv2_source_replay" ->
      """WITH ed AS (SELECT user_id % 50 AS src,
             event_id % 1000 AS dst FROM events)
         SELECT src, count(*)::BIGINT AS n_edges,
           sum(dst)::BIGINT AS dst_sum
         FROM ed GROUP BY 1 ORDER BY 1""",
    // the HLL rollup's exact census; the two Spark-side sketch
    // contracts (merge consistency, 5% tolerance) restate as TRUE
    "hll_sketch_rollup" ->
      """SELECT event_type,
           count(DISTINCT user_id)::BIGINT AS exact_distinct,
           TRUE AS merge_consistent, TRUE AS est_ok
         FROM events GROUP BY 1 ORDER BY 1""",
    // the constrained table holds exactly the fixture; the rejected
    // violating write restates as TRUE
    "dsv2_check_audit" ->
      """SELECT n_regionkey::BIGINT AS dst,
           count(*)::BIGINT AS n_edges,
           sum(n_nationkey)::BIGINT AS src_sum,
           TRUE AS violation_rejected
         FROM nation GROUP BY 1 ORDER BY 1""",
    // DELETE FROM must leave exactly the non-matching rows
    "dsv2_delete_audit" ->
      """SELECT n_regionkey::BIGINT AS dst,
           count(*)::BIGINT AS n_edges,
           sum(n_nationkey)::BIGINT AS src_sum
         FROM nation WHERE NOT (n_nationkey >= 12)
         GROUP BY 1 ORDER BY 1""",
    // the storage-partitioned self-join must census like a plain join
    "spj_self_join_audit" ->
      """WITH ed AS (SELECT (c_custkey % 100)::BIGINT AS src,
             c_nationkey::BIGINT AS dst FROM customer)
         SELECT a.src AS src, count(*)::BIGINT AS n_pairs,
           sum(a.dst + b.dst)::BIGINT AS dst_sum
         FROM ed a JOIN ed b ON a.src = b.src
         GROUP BY 1 ORDER BY 1""",
  )

  private def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ", ", "]")

  /** 40-bit simhash near-dup pairs at Hamming distance ≤ 3 (mirrors
    * `Dedup.simhashPairs` / `SimHash40`): per-token base-31 poly fold +
    * 2×(multiply/xorshift) mixing, all mod 2^40, per-bit ±1 votes,
    * 4×10-bit bank join, exact Hamming check. Also the candidate set
    * for `dedup_fuzzy`.
    */
  private lazy val SimhashSql: String = s"""$TokCte,
       tok_h AS (
         SELECT doc_id, th4 AS h FROM (
           SELECT doc_id,
             xor(th3, th3 // 1048576) AS th4 FROM (
             SELECT doc_id, (th2 * 8388593) % 1099511627776 AS th3 FROM (
               SELECT doc_id, xor(th1, th1 // 1048576) AS th2 FROM (
                 SELECT doc_id, (th0 * 8388593) % 1099511627776 AS th1 FROM (
                   SELECT doc_id, list_reduce(
                     list_prepend(0::BIGINT,
                       list_transform(string_split(t, ''),
                         c -> ord(c)::BIGINT)),
                     (acc, c) -> (acc * 31 + c) % 1099511627776) AS th0
                   FROM (SELECT doc_id, unnest(ts) AS t FROM toks)))))) ),
       bits AS (
         SELECT doc_id, b,
                sum(CASE WHEN (h // (1::BIGINT << b)) % 2 = 1
                    THEN 1 ELSE -1 END) AS v
         FROM tok_h, (SELECT unnest(range(0, 40)) AS b)
         GROUP BY doc_id, b),
       sig AS (
         SELECT doc_id,
                sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT
                  AS sig
         FROM bits GROUP BY doc_id),
       banked AS (
         SELECT doc_id, sig, i AS bank, (sig >> (i * 10)) & 1023 AS bv
         FROM sig, (SELECT unnest(range(0, 4)) AS i))
       SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
              bit_count(xor(a.sig, b.sig)) AS dist
       FROM banked a JOIN banked b
         ON a.bank = b.bank AND a.bv = b.bv AND a.doc_id < b.doc_id
       WHERE bit_count(xor(a.sig, b.sig)) <= 3"""

  /** Quality scoring restated (length/stopword heuristics over the
    * shared tokenizer); also a CTE of the curation-pipeline oracle.
    */
  private lazy val QualitySql: String = {
    val en = sqlList(graft.operators.TextStats.Stopwords.head._2)
    s"""$TokCte
       SELECT doc_id, len(ts) AS n_tokens,
         round(list_sum(list_transform(ts, t -> len(t)))::DOUBLE / len(ts), 6)
           AS avg_token_len,
         round(len(list_filter(ts, t -> list_contains($en, t)))::DOUBLE
           / len(ts), 6) AS stopword_ratio,
         round(least(1.0, len(ts) / 100.0) *
           (0.3 + 0.7 * len(list_filter(ts, t -> list_contains($en, t)))
             / len(ts)), 6) AS quality
       FROM toks WHERE len(ts) > 0"""
  }

  /** Curation filter funnel (W227): cumulative survivors of the five
    * Gopher-style rules; every predicate is cross-multiplied integer
    * arithmetic, mirroring `Curation.filterFunnel` exactly.
    */
  private lazy val FilterFunnelSql: String = {
    val en = sqlList(graft.operators.TextStats.Stopwords.head._2)
    s"""$TokCte,
       mx AS (
         SELECT doc_id, max(c)::BIGINT AS maxf FROM (
           SELECT doc_id, t, count(*)::BIGINT AS c
           FROM (SELECT doc_id, unnest(ts) AS t FROM toks)
           GROUP BY doc_id, t)
         GROUP BY doc_id),
       fl AS (
         SELECT len(ts)::BIGINT AS n,
           coalesce(list_sum(list_transform(ts, x -> len(x))), 0)::BIGINT
             AS sumlen,
           len(list_filter(ts, x -> list_contains($en, x)))::BIGINT
             AS n_stop,
           coalesce(maxf, 0)::BIGINT AS maxf
         FROM toks t LEFT JOIN mx USING (doc_id)),
       fb AS (
         SELECT (n >= 10) AS f1, (n <= 5000) AS f2,
           (sumlen >= n * 2 AND sumlen <= n * 12) AS f3,
           (n_stop > 0) AS f4, (maxf * 5 <= n) AS f5
         FROM fl),
       c AS (
         SELECT count(*)::BIGINT AS c0,
           sum(CASE WHEN f1 THEN 1 ELSE 0 END)::BIGINT AS c1,
           sum(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END)::BIGINT AS c2,
           sum(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END)::BIGINT AS c3,
           sum(CASE WHEN f1 AND f2 AND f3 AND f4 THEN 1 ELSE 0 END)::BIGINT
             AS c4,
           sum(CASE WHEN f1 AND f2 AND f3 AND f4 AND f5 THEN 1 ELSE 0
             END)::BIGINT AS c5
         FROM fb)
       SELECT 0::INT AS stage, 'all_documents' AS rule,
              c0 AS survivors, (c0 - c0)::BIGINT AS dropped_here FROM c
       UNION ALL SELECT 1, 'min_length_10', c1, (c0 - c1)::BIGINT FROM c
       UNION ALL SELECT 2, 'max_length_5000', c2, (c1 - c2)::BIGINT FROM c
       UNION ALL SELECT 3, 'mean_word_len_2_12', c3, (c2 - c3)::BIGINT FROM c
       UNION ALL SELECT 4, 'has_stopword', c4, (c3 - c4)::BIGINT FROM c
       UNION ALL SELECT 5, 'top_token_share_le_20pct', c5,
         (c4 - c5)::BIGINT FROM c
       ORDER BY stage"""
  }

  /** Shared front half of the MinHash estimator oracles: the affine
    * signature family + the exact-Jaccard candidate pairs at the 0.05
    * audit floor. Consumed by `minhash_est_error` (W228, fixed k) and
    * `minhash_k_sweep` (W503, prefix sizes).
    */
  private lazy val MinhashPrSigCtes: String = {
    val p = graft.operators.Dedup.MhP
    val mins = graft.operators.Dedup.MhA.zip(graft.operators.Dedup.MhB)
      .map { case (a, b) => s"list_min(list_transform(hv, h -> (h * ${a}" +
        s" + ${b}) % ${p}))" }
      .mkString("[", ",\n               ", "]")
    s"""$TokCte,
       sh AS (
         SELECT doc_id, list_distinct(
           CASE WHEN len(ts) >= 3
             THEN list_transform(range(1, len(ts) - 1),
                    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
             ELSE [array_to_string(ts, ' ')] END) AS shs
         FROM toks),
       hs AS (
         SELECT doc_id,
           list_transform(shs, s -> list_reduce(
             list_prepend(0::BIGINT,
               list_transform(string_split(s, ''), c -> ord(c)::BIGINT)),
             (acc, c) -> (acc * 31 + c) % 1099511627776)) AS hv
         FROM sh),
       sig AS (
         SELECT doc_id,
           $mins AS sig
         FROM hs),
       ex AS (SELECT doc_id, unnest(shs) AS sh FROM sh),
       inter AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       pr AS (
         SELECT doc_a, doc_b,
                inter::DOUBLE / (sa.n + sb.n - inter) AS jaccard
         FROM inter
         JOIN (SELECT doc_id, len(shs) AS n FROM sh) sa ON doc_a = sa.doc_id
         JOIN (SELECT doc_id, len(shs) AS n FROM sh) sb ON doc_b = sb.doc_id
         WHERE inter::DOUBLE / (sa.n + sb.n - inter) >= 0.05)"""
  }

  /** MinHash estimator-error audit (W228): the same affine family over
    * the 40-bit poly hash as `Dedup.minhashEstError` (constants shared
    * via `Dedup.MhA`/`MhB`/`MhP`), agreement counted over the signature,
    * exact Jaccard from the shingle sets.
    */
  private lazy val MinhashEstErrorSql: String = {
    val k = graft.operators.Dedup.MhA.length
    s"""$MinhashPrSigCtes,
       ag AS (
         SELECT doc_a, doc_b, jaccard,
           list_sum(list_transform(range(1, ${k + 1}),
             j -> CASE WHEN x.sig[j] = y.sig[j] THEN 1 ELSE 0
               END))::BIGINT AS agree
         FROM pr JOIN sig x ON doc_a = x.doc_id
                 JOIN sig y ON doc_b = y.doc_id)
       SELECT doc_a, doc_b,
         floor(jaccard * 1e6 + 0.5) / 1e6 AS exact_jaccard,
         agree,
         floor(agree::DOUBLE / $k * 1e6 + 0.5) / 1e6 AS est_jaccard,
         floor((agree::DOUBLE / $k - floor(jaccard * 1e6 + 0.5) / 1e6)
           * 1e6 + 0.5) / 1e6 AS est_error
       FROM ag ORDER BY doc_a, doc_b"""
  }

  /** Prefix-size estimator-error sweep (mirrors `Dedup.minhashKSweep`:
    * same signature family, per-k agreement over the first k slots,
    * abs errors on the 1e-6 LONG grid before the order-free sums).
    */
  private lazy val MinhashKSweepSql: String =
    s"""$MinhashPrSigCtes,
       ag AS (
         SELECT kk, jaccard,
           list_sum(list_transform(range(1, kk + 1),
             j -> CASE WHEN x.sig[j] = y.sig[j] THEN 1 ELSE 0
               END))::BIGINT AS agree
         FROM pr JOIN sig x ON doc_a = x.doc_id
                 JOIN sig y ON doc_b = y.doc_id,
              (SELECT unnest([4, 8, 16]) AS kk)),
       e AS (
         SELECT kk,
           CAST(floor(abs(agree::DOUBLE / kk
             - floor(jaccard * 1e6 + 0.5) / 1e6) * 1e6 + 0.5) AS BIGINT)
             AS e6
         FROM ag),
       g AS (SELECT kk::BIGINT AS k, count(*)::BIGINT AS n_pairs,
               sum(e6)::BIGINT AS se6, max(e6)::BIGINT AS me6
             FROM e GROUP BY 1)
       SELECT k, n_pairs,
         floor(se6::DOUBLE / n_pairs::DOUBLE / 1e6 * 1e6 + 0.5) / 1e6
           AS mean_abs_err,
         me6::DOUBLE / 1e6 AS max_abs_err
       FROM g ORDER BY k"""

  /** Markov removal-effect attribution (W236): sessionized paths →
    * first-order transition matrix (9-dp) → `rounds` unrolled value
    * iterations of every chain (full + one per removed channel) on the
    * 1e-12 LONG probability grid — the exact arithmetic
    * `Events.markovAttribution` runs, so both engines land
    * bit-identical.
    */
  private def markovAttributionSql(rounds: Int): String = {
    val vBlocks = (1 to rounds).map { r =>
      s"""v$r AS MATERIALIZED (
         SELECT s.chain, s.st,
           CASE WHEN s.st = 'conv' THEN 1000000000000
                WHEN s.chain <> 'full' AND s.st = s.chain THEN 0
                ELSE coalesce(u.pin, 0) END::BIGINT AS pi
         FROM spine s LEFT JOIN (
           SELECT v.chain, p.cur AS st,
             sum(CAST(floor(p.p * v.pi + 0.5) AS BIGINT))::BIGINT AS pin
           FROM v${r - 1} v JOIN tp p ON p.nxt = v.st
           WHERE v.chain = 'full' OR v.st <> v.chain
           GROUP BY v.chain, p.cur) u
         ON u.chain = s.chain AND u.st = s.st)"""
    }.mkString(",\n       ")
    s"""WITH e AS (
         SELECT user_id, ts, event_id, event_type,
           CASE WHEN lag(epoch_ms(ts) // 1000) OVER w IS NULL
                  OR epoch_ms(ts) // 1000
                     - lag(epoch_ms(ts) // 1000) OVER w > 1800
                THEN 1 ELSE 0 END AS new_s
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       s1 AS (
         SELECT *, sum(new_s) OVER (PARTITION BY user_id
           ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
         FROM e),
       s2 AS (
         SELECT user_id, session_seq, ts, event_id, event_type,
           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id, session_seq ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS prior_pur
         FROM s1),
       kept AS (
         SELECT user_id, session_seq, ts, event_id,
           CASE WHEN event_type = 'purchase' THEN 'conv'
                ELSE event_type END AS st
         FROM s2 WHERE coalesce(prior_pur, 0) = 0),
       sq AS (
         SELECT *, row_number() OVER w2 AS rn, lead(st) OVER w2 AS nxt
         FROM kept
         WINDOW w2 AS (PARTITION BY user_id, session_seq
           ORDER BY ts, event_id)),
       tr AS (
         SELECT 'start' AS cur, st AS nxt FROM sq WHERE rn = 1
         UNION ALL SELECT st, nxt FROM sq WHERE nxt IS NOT NULL
         UNION ALL SELECT st, 'null' FROM sq
           WHERE nxt IS NULL AND st <> 'conv'),
       tc2 AS (SELECT cur, nxt, count(*)::BIGINT AS c FROM tr GROUP BY 1, 2),
       tp AS MATERIALIZED (
         SELECT cur, nxt,
           round(c::DOUBLE / sum(c) OVER (PARTITION BY cur), 9) AS p
         FROM tc2),
       states AS MATERIALIZED (
         SELECT DISTINCT st FROM
           (SELECT cur AS st FROM tp UNION ALL SELECT nxt FROM tp)),
       chains AS MATERIALIZED (
         SELECT st AS chain FROM states
         WHERE st NOT IN ('start', 'conv', 'null')
         UNION ALL SELECT 'full'),
       spine AS MATERIALIZED (SELECT chain, st FROM chains CROSS JOIN states),
       v0 AS (SELECT chain, st,
                CASE WHEN st = 'conv' THEN 1000000000000
                     ELSE 0 END::BIGINT AS pi
              FROM spine),
       $vBlocks,
       res AS (SELECT chain, pi FROM v$rounds WHERE st = 'start'),
       fullp AS (SELECT pi AS pf FROM res WHERE chain = 'full'),
       effs AS (
         SELECT chain AS channel, pf,
           CASE WHEN pf > 0
             THEN CAST(floor((1 - pi::DOUBLE / pf) * 1e6 + 0.5) AS BIGINT)
             ELSE 0 END AS eff_i
         FROM res CROSS JOIN fullp WHERE chain <> 'full'),
       te AS (SELECT sum(eff_i)::BIGINT AS t FROM effs)
       SELECT channel,
         floor(pf::DOUBLE / 1e12 * 1e6 + 0.5) / 1e6 AS conv_prob,
         eff_i::DOUBLE / 1e6 AS removal_effect,
         CASE WHEN t > 0 THEN floor(eff_i::DOUBLE / t * 1e6 + 0.5) / 1e6
              ELSE 0.0 END AS attribution
       FROM effs CROSS JOIN te ORDER BY channel"""
  }

  /** Dedup bias audit (W234): quality terciles (exact global rank cut,
    * doc_id tiebreak) × near-dup survivorship, removal rate and lift
    * per band — mirrors `Dedup.dedupBias`.
    */
  private lazy val DedupBiasSql: String =
    s"""WITH RECURSIVE prs AS ($JaccardSql),
       edges AS (SELECT doc_a AS s, doc_b AS d FROM prs
                 UNION ALL SELECT doc_b, doc_a FROM prs),
       walk(id, comp) AS (
         SELECT doc_id, doc_id FROM documents
         UNION
         SELECT e.d, w.comp FROM walk w JOIN edges e ON e.s = w.id),
       canon AS (SELECT id AS doc_id, min(comp) AS canonical_id
                 FROM walk GROUP BY id),
       qual AS ($QualitySql),
       banded AS (
         SELECT q.doc_id, c.canonical_id,
           ntile(3) OVER (ORDER BY q.quality, q.doc_id) AS band
         FROM qual q JOIN canon c USING (doc_id)),
       g AS (
         SELECT band, count(*)::BIGINT AS n_docs,
           sum(CASE WHEN doc_id <> canonical_id THEN 1 ELSE 0
             END)::BIGINT AS removed_docs
         FROM banded GROUP BY band),
       tot AS (SELECT sum(n_docs)::BIGINT AS n, sum(removed_docs)::BIGINT
                 AS r FROM g)
       SELECT band, n_docs, removed_docs,
         floor(removed_docs::DOUBLE / n_docs * 1e6 + 0.5) / 1e6
           AS removal_rate,
         CASE WHEN r > 0
           THEN floor((removed_docs::DOUBLE / n_docs) / (r::DOUBLE / n)
             * 1e6 + 0.5) / 1e6
           ELSE 0.0 END AS lift
       FROM g CROSS JOIN tot ORDER BY band"""

  /** Shared BM25 + tf-idf ranked-list CTEs (`sa`/`sb`): the prefix for
    * both `rank_agreement` and `rrf_fusion`.
    */
  private lazy val RankersCte: String = s"""$TokCte,
       lens AS (SELECT doc_id, len(ts)::BIGINT AS dl FROM toks),
       p AS (SELECT term, doc_id, count(*) AS tf
             FROM (SELECT doc_id, unnest(ts) AS term FROM toks)
             GROUP BY 1, 2),
       d AS (SELECT term, count(*) AS df FROM p GROUP BY term),
       c AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
       scb AS (SELECT p.term, p.doc_id,
                 round(ln((n_docs - df + 0.5) / (df + 0.5)) * tf * 2.2 /
                       (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS score
               FROM p JOIN d USING (term) JOIN lens USING (doc_id)
               CROSS JOIN c),
       sa AS (SELECT term, doc_id, rnk AS ra FROM (
                SELECT *, row_number() OVER (PARTITION BY term
                  ORDER BY score DESC, doc_id) AS rnk FROM scb)
              WHERE rnk <= 10),
       sct AS (SELECT p.term, p.doc_id,
                 round(p.tf * ln(n_docs / df), 6) AS tfidf
               FROM p JOIN d USING (term) CROSS JOIN c),
       sb AS (SELECT term, doc_id, rnk AS rb FROM (
                SELECT *, row_number() OVER (PARTITION BY term
                  ORDER BY tfidf DESC, doc_id) AS rnk FROM sct)
              WHERE rnk <= 10)"""

  /** Ranker rank-agreement audit (W235): BM25 vs tf-idf top-10 per
    * term — set overlap and normalized Spearman footrule over the
    * common documents; both rankings re-derived from the surfaced
    * quantized scores with doc_id tiebreaks, exactly as
    * `Index.rankAgreement` does.
    */
  private lazy val RankAgreementSql: String = s"""$RankersCte,
       j AS (SELECT sa.term, sa.ra, sb.rb
             FROM sa JOIN sb USING (term, doc_id)),
       g AS (SELECT term, count(*)::BIGINT AS nc,
               sum(abs(ra - rb))::BIGINT AS fr
             FROM j GROUP BY term),
       terms AS (SELECT DISTINCT term FROM sa)
       SELECT term, coalesce(nc, 0)::BIGINT AS n_common,
         floor(coalesce(nc, 0)::DOUBLE / 10 * 1e6 + 0.5) / 1e6 AS overlap,
         coalesce(fr, 0)::BIGINT AS footrule,
         CASE WHEN nc > 0
           THEN floor(fr::DOUBLE / (nc * 9) * 1e6 + 0.5) / 1e6
           ELSE NULL END AS divergence
       FROM terms LEFT JOIN g USING (term) ORDER BY term"""

  /** Reciprocal-rank fusion of the two ranked lists (K = 60): rrf =
    * Σ 1/(K + rank) over the rankers that listed the doc, quantized at
    * 9 dp before the per-term re-rank cut (mirrors `Index.rrfFusion`).
    */
  private lazy val RrfFusionSql: String = s"""$RankersCte,
       u AS (SELECT coalesce(sa.term, sb.term) AS term,
                    coalesce(sa.doc_id, sb.doc_id) AS doc_id,
                    sa.ra, sb.rb
             FROM sa FULL JOIN sb
               ON sa.term = sb.term AND sa.doc_id = sb.doc_id),
       sc2 AS (SELECT term, doc_id,
                 floor((coalesce(1.0 / (60 + ra), 0.0) +
                        coalesce(1.0 / (60 + rb), 0.0)) * 1e9 + 0.5)
                   / 1e9 AS rrf
               FROM u),
       rk AS (SELECT term, doc_id, rrf,
                row_number() OVER (PARTITION BY term
                  ORDER BY rrf DESC, doc_id) AS rn
              FROM sc2)
       SELECT term, doc_id, rn::BIGINT AS rrf_rank, rrf
       FROM rk WHERE rn <= 10 ORDER BY term, rrf_rank"""

  /** Exact shingle-Jaccard near-dup pairs (threshold 0.8, 3-gram
    * shingles) — also the oracle for the MinHash+LSH variant.
    */
  private def jaccardSqlAt(threshold: Double): String = s"""$TokCte,
       sh AS (
         SELECT doc_id, list_distinct(
           CASE WHEN len(ts) >= 3
             THEN list_transform(range(1, len(ts) - 1),
                    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
             ELSE [array_to_string(ts, ' ')] END) AS shs
         FROM toks),
       ex AS (SELECT doc_id, unnest(shs) AS sh FROM sh),
       inter AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
       SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard FROM (
         SELECT doc_a, doc_b,
                inter::DOUBLE / (sa.n + sb.n - inter) AS jaccard
         FROM inter
         JOIN (SELECT doc_id, len(shs) AS n FROM sh) sa ON doc_a = sa.doc_id
         JOIN (SELECT doc_id, len(shs) AS n FROM sh) sb ON doc_b = sb.doc_id)
       WHERE jaccard >= $threshold"""

  private lazy val JaccardSql: String = jaccardSqlAt(0.8)

  /** Stopword-count language ID with fixed priority tie-break, generated
    * from the same `TextStats.Stopwords` table the Spark side uses.
    */
  private lazy val LangIdSql: String = {
    val sw = graft.operators.TextStats.Stopwords
    val langs = sw.map(_._1)
    val cnts = sw.map { case (l, ws) =>
      s"len(list_filter(ts, t -> list_contains(${sqlList(ws)}, t))) AS cnt_$l"
    }.mkString(",\n                ")
    val cases = langs.map { l =>
      val beats = langs.filter(_ != l)
        .map(o => s"cnt_$l >= cnt_$o").mkString(" AND ")
      s"WHEN $beats AND cnt_$l > 0 THEN '$l'"
    }.mkString("\n                ")
    s"""$TokCte,
       scored AS (
         SELECT doc_id,
                $cnts
         FROM toks)
       SELECT doc_id, ${langs.map(l => s"cnt_$l").mkString(", ")},
              CASE $cases ELSE 'und' END AS pred_lang
       FROM scored"""
  }

  /** McNemar oracle: classifier A = the lang-id priority vote's 'en'
    * branch, B = the 1/8 en-stopword-share baseline, truth = the
    * fixture label; mirrors `Ml.mcnemarTest` bit for bit.
    */
  private lazy val McnemarSql: String = {
    val sw = graft.operators.TextStats.Stopwords
    val langs = sw.map(_._1)
    val cnts = sw.map { case (l, ws) =>
      s"len(list_filter(ts, t -> list_contains(${sqlList(ws)}, t))) AS cnt_$l"
    }.mkString(",\n                ")
    val beatsAll = langs.filter(_ != "en")
      .map(o => s"cnt_en >= cnt_$o").mkString(" AND ")
    s"""$TokCte,
       scored AS (
         SELECT t.doc_id, d.lang, len(ts) AS n_toks,
                $cnts
         FROM toks t JOIN documents d ON t.doc_id = d.doc_id),
       fl AS (
         SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                CASE WHEN $beatsAll AND cnt_en > 0
                  THEN 1 ELSE 0 END AS pa,
                CASE WHEN cnt_en * 8 >= n_toks AND cnt_en > 0
                  THEN 1 ELSE 0 END AS pb
         FROM scored),
       ag AS (SELECT count(*)::BIGINT AS n,
                sum(CASE WHEN pa = y AND pb = y THEN 1 ELSE 0
                  END)::BIGINT AS both_right,
                sum(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0
                  END)::BIGINT AS b,
                sum(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0
                  END)::BIGINT AS c
              FROM fl)
       SELECT n, both_right, b, c,
         CASE WHEN b + c > 0 THEN
           floor(greatest(abs(b - c) - 1, 0)::DOUBLE *
             greatest(abs(b - c) - 1, 0) / (b + c) * 1e6 + 0.5) / 1e6
         ELSE 0.0 END AS chi2
       FROM ag"""
  }
}
