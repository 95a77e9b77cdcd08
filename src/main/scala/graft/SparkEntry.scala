package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{EventQueries, MlQueries, OpsOracles, OpsQueries, PathQueries}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * a full elastic-net path fit (the reference's core capability). */
  def entry(spark: SparkSession): DataFrame =
    MlQueries.lambdaPath(spark, "/root/testdata/sf0.001")

  /** A map of `entries` that fails on a repeated key: in a plain
    * `Map(...)` a later copy would silently replace the first. */
  private[graft] def uniqueKeys[V](entries: (String, V)*): Map[String, V] = {
    val repeated = entries.groupBy(_._1).collect { case (k, v) if v.size > 1 => k }
    require(repeated.isEmpty,
      s"repeated query keys: ${repeated.toSeq.sorted.mkString(", ")}")
    entries.toMap
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = uniqueKeys(
    "q_gauss_ols1"    -> (MlQueries.gaussOls1 _),
    "q_gauss_ridge1"  -> (MlQueries.gaussRidge1 _),
    "q_ridge_compat"  -> (MlQueries.gaussRidgeCompat _),
    "q_gauss_lasso1"  -> (MlQueries.gaussLasso1 _),
    "q_gauss_ols3"    -> (MlQueries.gaussOls3 _),
    "q_coef_limits"   -> (MlQueries.coefLimits _),
    "q_exclude"       -> (MlQueries.excludeFit _),
    "q_gauss_ridge3"  -> (MlQueries.gaussRidge3 _),
    "q_gauss_noint"   -> (MlQueries.gaussNoInt _),
    "q_lambda_path"   -> (MlQueries.lambdaPath _),
    "q_gauss_nulldev" -> (MlQueries.gaussNullDev _),
    "q_devratio"      -> (MlQueries.devRatioQ _),
    "q_standardize"   -> (MlQueries.standardizeQ _),
    "q_predict_link"  -> (MlQueries.predictLink _),
    "q_predict_interp" -> (MlQueries.predictInterp _),
    "q_predict_sparse" -> (MlQueries.predictSparseQ _),
    "q_refit_exact"   -> (MlQueries.refitExact _),
    "q_score_interp"  -> (MlQueries.scoreInterp _),
    "q_score_mse"     -> (MlQueries.scoreMse _),
    "q_score_mae"     -> (MlQueries.scoreMae _),
    "q_score_auc"     -> (MlQueries.scoreAuc _),
    "q_binom_nulldev" -> (MlQueries.binomNullDev _),
    "q_binom_fit"        -> (PathQueries.binomFit _),
    "q_binom_offset_fit" -> (PathQueries.binomOffsetFit _),
    "q_relaxed_binom"    -> (PathQueries.relaxedBinom _),
    "q_relaxed_binom_sparse" -> (PathQueries.relaxedBinomSparse _),
    "q_relaxed_binom_weighted" -> (PathQueries.relaxedBinomWeighted _),
    "q_relaxed_binom_offset" -> (PathQueries.relaxedBinomOffset _),
    "q_binom_offset_sparse" -> (PathQueries.binomOffsetSparse _),
    "q_multinom_fit"     -> (PathQueries.multinomFit _),
    "q_multinom_offset"  -> (PathQueries.multinomOffset _),
    "q_multinom_offset_sparse" -> (PathQueries.multinomOffsetSparse _),
    "q_multinom_grouped" -> (PathQueries.multinomGrouped _),
    "q_mgauss_fit"       -> (PathQueries.mgaussFit _),
    "q_mgauss_offset"    -> (PathQueries.mgaussOffset _),
    "q_mgauss_limits"    -> (PathQueries.mgaussLimits _),
    "q_poisson_fit"      -> (PathQueries.poissonFit _),
    "q_poisson_nulldev"  -> (PathQueries.poissonNullDev _),
    "q_predict_response" -> (PathQueries.predictResponse _),
    "q_predict_offset"   -> (PathQueries.predictOffset _),
    "q_predict_class"    -> (PathQueries.predictClass _),
    "q_score_class"      -> (PathQueries.scoreClass _),
    "q_nonzero"          -> (PathQueries.nonzeroQ _),
    "q_df_path"          -> (PathQueries.dfPath _),
    "q_dfmax"            -> (PathQueries.dfmaxPath _),
    "q_path_summary"     -> (PathQueries.pathSummary _),
    "q_plot_path_data"   -> (PathQueries.plotPathData _),
    "q_deviance"         -> (PathQueries.devianceQ _),
    "q_cv_curve"         -> (PathQueries.cvCurve _),
    "q_cv_select"        -> (PathQueries.cvSelect _),
    "q_cv_auc"           -> (PathQueries.cvAuc _),
    "q_cv_mae"           -> (PathQueries.cvMae _),
    "q_cv_alpha"         -> (PathQueries.cvAlphaCurve _),
    "q_cv_multinom"      -> (PathQueries.cvMultinom _),
    "q_cv_multinom_offset" -> (PathQueries.cvMultinomOffset _),
    "q_cv_sparse_multinom_offset" -> (PathQueries.cvSparseMultinomOffset _),
    "q_cv_mgauss"        -> (PathQueries.cvMgauss _),
    "q_cv_poisson"       -> (PathQueries.cvPoisson _),
    "q_cv_offset"        -> (PathQueries.cvOffset _),
    "q_cv_sparse_offset" -> (PathQueries.cvSparseOffset _),
    "q_cv_predict_offset" -> (PathQueries.cvPredictOffset _),
    "q_screen_irls"      -> (PathQueries.screenIrls _),
    "q_gauss_largep"     -> (PathQueries.gaussLargeP _),
    "q_binom_largep"     -> (PathQueries.binomLargeP _),
    "q_cv_largep"        -> (PathQueries.cvLargeP _),
    "q_sparse_largep"    -> (PathQueries.sparseLargeP _),
    "q_sparse_irls"      -> (PathQueries.sparseIrls _),
    "q_weighted_largep"  -> (PathQueries.weightedLargeP _),
    "q_irls_weighted_largep" -> (PathQueries.irlsWeightedLargeP _),
    "q_cv_irls_largep"   -> (PathQueries.cvIrlsLargeP _),
    "q_sparse_cv_largep" -> (PathQueries.sparseCvLargeP _),
    "q_relaxed_largep"   -> (PathQueries.relaxedLargeP _),
    "q_relaxed_glm_largep" -> (PathQueries.relaxedGlmLargePQ _),
    "q_multinom_largep"  -> (PathQueries.multinomLargeP _),
    "q_multinom_sparse_largep" -> (PathQueries.multinomSparseLargeP _),
    "q_irls_offset_largep" -> (PathQueries.irlsOffsetLargeP _),
    "q_cv_summary"       -> (PathQueries.cvSummary _),
    "q_cv_score"         -> (PathQueries.cvScore _),
    "q_cv_deviance"      -> (PathQueries.cvDeviance _),
    "q_mgauss_stdresp"   -> (PathQueries.mgaussStdResp _),
    "q_score_mgauss"     -> (PathQueries.scoreMgauss _),
    "q_cv_exact_curve"   -> (PathQueries.cvExactCurve _),
    "q_cv_relaxed"       -> (PathQueries.cvRelaxed _),
    "q_cv_relaxed_sparse" -> (PathQueries.cvRelaxedSparse _),
    "q_cv_relaxed_binom" -> (PathQueries.cvRelaxedBinom _),
    "q_cv_relaxed_binom_sparse" -> (PathQueries.cvRelaxedBinomSparse _),
    "q_cv_relaxed_binom_offset" -> (PathQueries.cvRelaxedBinomOffset _),
    "q_cv_exact_pick"    -> (PathQueries.cvExactPick _),
    "q_cv_exact_predict" -> (PathQueries.cvExactPredict _),
    "q_cv_limits"        -> (PathQueries.cvLimits _),
    "q_cv_weighted"      -> (PathQueries.cvWeighted _),
    "q_cv_weighted_auc"  -> (PathQueries.cvWeightedAuc _),
    "q_cv_weighted_mgauss" -> (PathQueries.cvWeightedMgauss _),
    "q_cv_sparse"        -> (PathQueries.cvSparse _),
    "q_cv_sparse_auc"    -> (PathQueries.cvSparseAuc _),
    "q_cv_sparse_multinom" -> (PathQueries.cvSparseMultinom _),
    "q_cv_sparse_weighted" -> (PathQueries.cvSparseWeighted _),
    "q_cv_sparse_mgauss" -> (PathQueries.cvSparseMgauss _),
    "q_multinom_pf"      -> (PathQueries.multinomPf _),
    "q_weighted_binom"   -> (MlQueries.weightedBinom _),
    "q_weighted_poisson" -> (MlQueries.weightedPoisson _),
    "q_weighted_multinom" -> (MlQueries.weightedMultinom _),
    "q_weighted_mgauss"  -> (MlQueries.weightedMgauss _),
    "q_binom_null_fit"   -> (PathQueries.binomNullFit _),
    "q_poisson_null_fit" -> (PathQueries.poissonNullFit _),
    "q_dedup_exact"      -> (OpsQueries.dedupExact _),
    "q_dedup_minhash"    -> (OpsQueries.dedupMinhash _),
    "q_dedup_incremental" -> (OpsQueries.dedupIncremental _),
    "q_dedup_simhash"    -> (OpsQueries.dedupSimhash _),
    "q_ngram_jaccard"    -> (OpsQueries.ngramJaccard _),
    "q_dedup_cosine"     -> (OpsQueries.dedupCosine _),
    "q_ann_topk"         -> (OpsQueries.annTopK _),
    "q_maxsim"           -> (OpsQueries.maxSimQ _),
    "q_matryoshka"       -> (OpsQueries.matryoshkaEval _),
    "q_mmr"              -> (OpsQueries.mmrQ _),
    "q_ann_lsh"          -> (OpsQueries.annLsh _),
    "q_ann_ivf"          -> (OpsQueries.annIvf _),
    "q_ann_pq"           -> (OpsQueries.annPq _),
    "q_ann_ivfpq"        -> (OpsQueries.annIvfPq _),
    "q_ann_ivf_dist"     -> (OpsQueries.annIvfDist _),
    "q_ann_ivfpq_dist"   -> (OpsQueries.annIvfPqDist _),
    "q_ann_rerank"       -> (OpsQueries.annRerank _),
    "q_para_dedup"       -> (OpsQueries.paraDedup _),
    "q_group_sample"     -> (OpsQueries.groupSampleQ _),
    "q_temp_budgets"     -> (OpsQueries.tempBudgets _),
    "q_ohlc"             -> (EventQueries.ohlcQ _),
    "q_url_dedup"        -> (OpsQueries.urlDedupQ _),
    "q_split_leakage"    -> (OpsQueries.splitLeakage _),
    "q_epoch_shuffle"    -> (OpsQueries.epochShuffleQ _),
    "q_psi"              -> (OpsQueries.psiQ _),
    "q_span_removal"     -> (OpsQueries.spanRemoval _),
    "q_containment"      -> (OpsQueries.containmentQ _),
    "q_calibrated_rank"  -> (OpsQueries.calibratedRank _),
    "q_group_budget"     -> (OpsQueries.groupBudgetSelect _),
    "q_embed_project"    -> (OpsQueries.embedProject _),
    "q_lang_id"          -> (OpsQueries.langId _),
    "q_quality_score"    -> (OpsQueries.qualityScore _),
    "q_gopher_rules"     -> (OpsQueries.gopherRulesQ _),
    "q_c4_filters"       -> (OpsQueries.c4FiltersQ _),
    "q_gopher_repetition" -> (OpsQueries.gopherRepetitionQ _),
    "q_token_count"      -> (OpsQueries.tokenCount _),
    "q_fingerprint"      -> (OpsQueries.fingerprint _),
    "q_winnow"           -> (OpsQueries.winnow _),
    "q_multimodal_meta"  -> (OpsQueries.multimodalMeta _),
    "q_multimodal_embed" -> (OpsQueries.multimodalEmbed _),
    "q_pipeline_e2e"     -> (OpsQueries.pipelineE2e _),
    "q_pii_scrub"        -> (OpsQueries.piiScrub _),
    "q_repetition"       -> (OpsQueries.repetition _),
    "q_contamination"    -> (OpsQueries.contamination _),
    "q_event_window"     -> (EventQueries.eventWindow _),
    "q_sessionize"       -> (EventQueries.sessionize _),
    "q_cv_predict"       -> (PathQueries.cvPredict _),
    "q_dedup_cluster"    -> (OpsQueries.dedupCluster _),
    "q_cc_star"          -> (OpsQueries.dedupClusterStar _),
    "q_boilerplate"      -> (OpsQueries.boilerplate _),
    "q_sample_strat"     -> (OpsQueries.sampleStrat _),
    "q_sample_weighted"  -> (OpsQueries.sampleWeighted _),
    "q_rrf_fusion"       -> (OpsQueries.rrfFusion _),
    "q_hard_negatives"   -> (OpsQueries.hardNegativesQ _),
    "q_embed_centroid"   -> (OpsQueries.embedCentroid _),
    "q_vocab"            -> (OpsQueries.vocab _),
    "q_lm_score"         -> (OpsQueries.lmScore _),
    "q_pack_chunks"      -> (OpsQueries.packChunks _),
    "q_domain_stats"     -> (OpsQueries.domainStats _),
    // q_bpe_merges / q_bpe_tokens: the merge loop has a FIXED depth at
    // declaration time (numMerges = 20), so the oracle unrolls it into
    // 20 generated CTE blocks (OpsOracles.bpeMergesSql) — hash-exact
    // like everything else; q_bpe_tokens applies the same unrolled
    // rewrites to encode documents.
    "q_bpe_merges"       -> (OpsQueries.bpeMerges _),
    "q_bpe_tokens"       -> (OpsQueries.bpeTokens _),
    "q_bpe_encode"       -> (OpsQueries.bpeEncodeQ _),
    "q_keeper_table"     -> (OpsQueries.keeperTableQ _),
    "q_bm25"             -> (OpsQueries.bm25 _),
    "q_quantiles"        -> (OpsQueries.quantiles _),
    "q_quantiles_approx" -> (OpsQueries.quantilesApprox _),
    "q_asof_join"        -> (EventQueries.asofErrors _),
    "q_chunk"            -> (OpsQueries.chunk _),
    "q_rolling"          -> (OpsQueries.rollingFeats _),
    "q_skew_join"        -> (OpsQueries.skewJoin _),
    "q_semdedup"         -> (OpsQueries.semDedup _),
    "q_zorder"           -> (OpsQueries.zorder _),
    "q_tfidf"            -> (OpsQueries.tfidfQ _),
    "q_group_topk"       -> (OpsQueries.groupTopK _),
    "q_ks_drift"         -> (OpsQueries.ksDrift _),
    "q_event_sliding"    -> (EventQueries.eventSliding _),
    "q_dup_spans"        -> (OpsQueries.dupSpans _),
    "q_profile"          -> (OpsQueries.profileQ _),
    "q_heavy_tokens"     -> (OpsQueries.heavyTokensQ _),
    "q_shard_manifest"   -> (OpsQueries.shardManifest _),
    "q_budget_select"    -> (OpsQueries.budgetSelect _),
    "q_funnel"           -> (EventQueries.funnelQ _),
    "q_retention"        -> (EventQueries.retentionQ _),
    "q_corr"             -> (OpsQueries.corrMatrix _),
    "q_mixture_sample"   -> (OpsQueries.mixtureSample _),
    "q_kmeans"           -> (OpsQueries.kmeansQ _),
    "q_rollup"           -> (OpsQueries.rollupQ _),
    "q_pivot"            -> (OpsQueries.pivotQ _),
    "q_pagerank"         -> (OpsQueries.pagerankQ _),
    "q_pagerank_dangling" -> (OpsQueries.pagerankDangling _),
    "q_fuzzy_join"       -> (OpsQueries.fuzzyJoinQ _),
    "q_entity_resolution" -> (OpsQueries.entityResolution _),
    "q_export_delta"     -> (OpsQueries.exportDelta _),
    "q_dq_checks"        -> (OpsQueries.dqChecks _),
    "q_histogram"        -> (OpsQueries.histogramQ _),
    "q_rank_deciles"     -> (OpsQueries.rankDeciles _),
    "q_interval_join"    -> (EventQueries.intervalJoinQ _),
    "q_scd2"             -> (EventQueries.scd2Q _),
    "q_gap_fill"         -> (EventQueries.gapFillQ _),
    "q_transitions"      -> (EventQueries.transitionsQ _),
    "q_ab_test"          -> (EventQueries.abTestQ _),
    "q_cdc_merge"        -> (OpsQueries.cdcMerge _),
    "q_cube"             -> (OpsQueries.cubeQ _),
    "q_mad_outliers"     -> (OpsQueries.madOutliersQ _),
    "q_triangle_count"   -> (OpsQueries.triangleCountQ _),
    "q_cooccur"          -> (OpsQueries.cooccurQ _),
    "q_pos_index"        -> (OpsQueries.posIndexQ _),
    "q_kcore"            -> (OpsQueries.kcoreQ _),
    "q_kcore_conv"       -> (OpsQueries.kcoreConvQ _),
    "q_cusum"            -> (EventQueries.cusumQ _),
    "q_twap"             -> (EventQueries.twapQ _),
    "q_prefix_jaccard"   -> (OpsQueries.prefixJaccard _),
    "q_nearest_join"     -> (EventQueries.nearestJoinQ _),
    "q_wow"              -> (EventQueries.wowQ _),
    "q_group_pcts"       -> (OpsQueries.groupPcts _),
    "q_group_pcts_scale" -> (OpsQueries.groupPctsScale _),
    "q_group_ols"        -> (OpsQueries.groupOls _),
    "q_table_digest"     -> (OpsQueries.tableDigestQ _),
    "q_attribution"      -> (EventQueries.attributionQ _),
    "q_dsir_weights"     -> (OpsQueries.dsirWeights _),
    "q_kn_lm"            -> (OpsQueries.knLm _),
    "q_ppl_ratio"        -> (OpsQueries.pplRatio _),
    "q_novelty"          -> (OpsQueries.noveltyQ _),
    "q_tok_fertility"    -> (OpsQueries.tokFertility _),
    "q_feature_scale"    -> (OpsQueries.featureScale _),
    "q_contam_matrix"    -> (OpsQueries.contamMatrix _),
    "q_lexical_stats"    -> (OpsQueries.lexicalStats _),
    "q_zipf"             -> (OpsQueries.zipfQ _),
    "q_kl_mix"           -> (OpsQueries.klMix _),
    "q_domain_filter"    -> (OpsQueries.domainFilter _),
    "q_nfc_norm"         -> (OpsQueries.nfcNorm _),
    "q_ewma"             -> (OpsQueries.ewmaQ _),
    "q_hits"             -> (OpsQueries.hitsQ _),
    "q_luhn_scan"        -> (OpsQueries.luhnScanQ _),
    "q_sketch_sim"       -> (OpsQueries.sketchSim _),
    "q_ann_recall"       -> (OpsQueries.annRecall _),
    "q_embed_dispersion" -> (OpsQueries.embedDispersion _),
    "q_code_detect"      -> (OpsQueries.codeDetect _),
    "q_ranked_eval"      -> (OpsQueries.rankedEvalQ _),
    "q_ir_summary"       -> (OpsQueries.irSummaryQ _),
    "q_pr_curve"         -> (OpsQueries.prCurveQ _),
    "q_confusion"        -> (OpsQueries.confusionQ _),
    "q_calibration"      -> (OpsQueries.calibrationQ _),
    "q_brier"            -> (OpsQueries.brierQ _),
    "q_link_predict"     -> (OpsQueries.linkPredictQ _),
    "q_clustering_coeff" -> (OpsQueries.clusteringCoeffQ _),
    "q_assortativity"    -> (OpsQueries.assortativityQ _),
    "q_assoc_rules"      -> (OpsQueries.assocRulesQ _),
    "q_mojibake"         -> (OpsQueries.mojibakeQ _),
    "q_readability"      -> (OpsQueries.readabilityQ _),
    "q_keyphrase"        -> (OpsQueries.keyphraseQ _),
    "q_compaction_plan"  -> (OpsQueries.compactionPlanQ _),
    "q_skew_report"      -> (OpsQueries.skewReportQ _),
    "q_mannwhitney"      -> (OpsQueries.mannWhitneyQ _),
    "q_cvm"              -> (OpsQueries.cvmQ _),
    "q_gini"             -> (OpsQueries.giniQ _),
    "q_modularity"       -> (OpsQueries.modularityQ _),
    "q_bootstrap_ci"     -> (OpsQueries.bootstrapCiQ _),
    "q_mutual_info"      -> (OpsQueries.mutualInfoQ _),
    "q_holt"             -> (OpsQueries.holtQ _),
    "q_silhouette"       -> (OpsQueries.silhouetteQ _),
    "q_time_decay"       -> (OpsQueries.timeDecayQ _),
    "q_join_estimate"    -> (OpsQueries.joinEstimateQ _),
    "q_k_anon"           -> (OpsQueries.kAnonQ _),
    "q_dedup_eval"       -> (OpsQueries.dedupEvalQ _),
    "q_label_prop"       -> (OpsQueries.labelPropQ _),
    "q_seasonality"      -> (OpsQueries.seasonalityQ _),
    "q_chi2"             -> (OpsQueries.chi2Q _),
    "q_winsorize"        -> (OpsQueries.winsorizeQ _),
    "q_iban_scan"        -> (OpsQueries.ibanScanQ _),
    "q_bitext_mine"      -> (OpsQueries.bitextMineQ _),
    "q_cc_incremental"   -> (OpsQueries.ccIncrementalQ _),
    "q_embed_int8"       -> (OpsQueries.embedInt8Q _),
    "q_coverage_curve"   -> (OpsQueries.coverageCurveQ _),
    "q_gate_matrix"      -> (OpsQueries.gateMatrixQ _),
    "q_effective_tokens" -> (OpsQueries.effectiveTokensQ _),
    "q_interarrival"     -> (OpsQueries.interArrivalQ _),
    "q_degree_dist"      -> (OpsQueries.degreeDistQ _),
    "q_ann_multiprobe"   -> (OpsQueries.annMultiProbe _),
    "q_seasonal_resid"   -> (OpsQueries.seasonalResidQ _),
    "q_emd"              -> (OpsQueries.emdQ _),
    "q_rolling_distinct" -> (OpsQueries.rollingDistinctQ _),
    "q_spearman"         -> (OpsQueries.spearmanQ _),
    "q_kendall"          -> (OpsQueries.kendallQ _),
    "q_welch_t"          -> (OpsQueries.welchQ _),
    "q_benford"          -> (OpsQueries.benfordQ _),
    "q_cuped"            -> (OpsQueries.cupedQ _),
    "q_acf"              -> (OpsQueries.acfQ _),
    "q_token_entropy"    -> (OpsQueries.tokenEntropyQ _),
    "q_profile_drift"    -> (OpsQueries.profileDriftQ _),
    "q_embed_cov"        -> (OpsQueries.embedCovQ _),
    "q_target_encode"    -> (OpsQueries.targetEncodeQ _),
    "q_woe_iv"           -> (OpsQueries.woeIvQ _),
    "q_cohen_kappa"      -> (OpsQueries.cohenKappaQ _),
    "q_kaplan_meier"     -> (OpsQueries.kaplanMeierQ _),
    "q_nelson_aalen"     -> (OpsQueries.nelsonAalenQ _),
    "q_g_test"           -> (OpsQueries.gTestQ _),
    "q_jarque_bera"      -> (OpsQueries.jarqueBeraQ _),
    "q_grubbs"           -> (OpsQueries.grubbsQ _),
    "q_bh_fdr"           -> (OpsQueries.bhFdrQ _),
    "q_knn_graph"        -> (OpsQueries.knnGraphQ _),
    "q_ann_filtered"     -> (OpsQueries.annFilteredQ _),
    "q_lsh_plan"         -> (OpsQueries.lshPlanQ _),
    "q_multi_touch"      -> (OpsQueries.multiTouchQ _),
    "q_stump"            -> (OpsQueries.stumpQ _),
    "q_hapax"            -> (OpsQueries.hapaxQ _),
    "q_bradley_terry"    -> (OpsQueries.bradleyTerryQ _),
    "q_good_turing"      -> (OpsQueries.goodTuringQ _),
    "q_isotonic"         -> (OpsQueries.isotonicQ _),
    "q_fleiss_kappa"     -> (OpsQueries.fleissKappaQ _),
    "q_pca"              -> (OpsQueries.pcaQ _),
    "q_cox_score"        -> (OpsQueries.coxScoreQ _),
    "q_hll"              -> (OpsQueries.hllQ _),
    "q_hll_by"           -> (OpsQueries.hllByQ _),
    "q_domain_reweight"  -> (OpsQueries.domainReweightQ _),
    "q_sign_flip"        -> (OpsQueries.signFlipQ _),
    "q_wilcoxon"         -> (OpsQueries.wilcoxonQ _),
    "q_ratio_ci"         -> (OpsQueries.ratioCiQ _),
    "q_cmh"              -> (OpsQueries.cmhQ _),
    "q_friedman"         -> (OpsQueries.friedmanQ _),
    "q_theil_sen"        -> (OpsQueries.theilSenQ _),
    "q_hhi"              -> (OpsQueries.hhiQ _),
    "q_jsd"              -> (OpsQueries.jsdQ _),
    "q_hill_tail"        -> (OpsQueries.hillTailQ _),
    "q_cluster_sizes"    -> (OpsQueries.clusterSizesQ _),
    "q_top_movers"       -> (EventQueries.topMoversQ _),
    "q_lateness"         -> (EventQueries.latenessQ _),
    "q_user_growth"      -> (OpsQueries.userGrowthQ _),
    "q_stickiness"       -> (OpsQueries.stickinessQ _),
    "q_fairness"         -> (OpsQueries.fairnessQ _),
    "q_neg_sample"       -> (OpsQueries.negSampleQ _),
    "q_eb_smooth"        -> (OpsQueries.ebSmoothQ _),
    "q_json_extract"     -> (OpsQueries.jsonExtractQ _),
    "q_session_paths"    -> (OpsQueries.sessionPathsQ _),
    "q_conversion_lag"   -> (OpsQueries.conversionLagQ _),
    "q_lang_confusion"   -> (OpsQueries.langConfusionQ _),
    "q_pareto_curve"     -> (OpsQueries.paretoCurveQ _),
    "q_engagement_depth" -> (OpsQueries.engagementDepthQ _),
    "q_psi_series"       -> (OpsQueries.psiSeriesQ _),
    "q_rfm"              -> (OpsQueries.rfmQ _),
    "q_cluster_downweight" -> (OpsQueries.clusterDownweightQ _),
    "q_anova"            -> (OpsQueries.anovaQ _),
    "q_kruskal"          -> (OpsQueries.kruskalQ _),
    "q_sorted_neighborhood" -> (OpsQueries.sortedNeighborhoodQ _),
    "q_distinctive_terms" -> (OpsQueries.distinctiveTermsQ _),
    "q_term_burst"       -> (OpsQueries.termBurstQ _),
    "q_corpus_card"      -> (OpsQueries.corpusCardQ _),
    "q_vocab_overlap"    -> (OpsQueries.vocabOverlapQ _),
    "q_did"              -> (OpsQueries.didQ _),
    "q_ipw"              -> (PathQueries.ipwAte _),
    "q_cms_audit"        -> (OpsQueries.cmsAuditQ _),
    "q_srm"              -> (OpsQueries.srmQ _),
    "q_weighted_quantiles" -> (OpsQueries.weightedQuantilesQ _),
    "q_quad_trend"       -> (OpsQueries.quadTrendQ _),
    "q_lorenz"           -> (OpsQueries.lorenzQ _),
    "q_pvm"              -> (OpsQueries.pvmQ _),
    "q_logrank"          -> (OpsQueries.logRankQ _),
    "q_changepoint"      -> (OpsQueries.changepointQ _),
    "q_holt_winters"     -> (OpsQueries.holtWintersQ _),
    "q_conformal"        -> (OpsQueries.conformalQ _),
    "q_nav_entropy"      -> (OpsQueries.navEntropyQ _),
    "q_kanon_ladder"     -> (OpsQueries.kanonLadderQ _),
    "q_golden_record"    -> (OpsQueries.goldenRecordQ _),
    "q_fk_integrity"     -> (OpsQueries.integrityQ _),
    "q_cohort_ltv"       -> (OpsQueries.cohortLtvQ _),
    "q_dup_rate"         -> (OpsQueries.dupRateQ _),
    "q_cliffs_delta"     -> (OpsQueries.cliffsDeltaQ _),
    "q_effect_size"      -> (OpsQueries.effectSizeQ _),
    "q_levene"           -> (OpsQueries.leveneQ _),
    "q_trimmed_mean"     -> (OpsQueries.trimmedMeanQ _),
    "q_dw"               -> (OpsQueries.durbinWatsonQ _),
    "q_qld"              -> (OpsQueries.qldQ _),
    "q_onion"            -> (OpsQueries.onionQ _),
    "q_relaxed_fit"      -> (MlQueries.relaxedLasso _),
    "q_dev_resid"        -> (MlQueries.devResid _),
    "q_penalty_factor"   -> (MlQueries.penaltyFactorRidge _),
    "q_weighted_fit"     -> (MlQueries.weightedRidge _),
    "q_offset_fit"       -> (MlQueries.offsetRidge _),
    "q_key_detect"       -> (OpsQueries.keyDetectQ _),
    "q_null_pattern"     -> (OpsQueries.nullPatternQ _),
    "q_ppr"              -> (OpsQueries.pprQ _),
    "q_lang_mix"         -> (OpsQueries.langMixQ _),
    "q_grouping_sets"    -> (OpsQueries.groupingSetsQ _),
    "q_quantile_norm"    -> (OpsQueries.quantileNormQ _),
    "q_closeness"        -> (OpsQueries.closenessQ _),
    "q_mcnemar"          -> (OpsQueries.mcnemarQ _),
    "q_runs_test"        -> (OpsQueries.runsTestQ _),
    "q_mann_kendall"     -> (OpsQueries.mannKendallQ _),
    "q_gains"            -> (OpsQueries.gainsQ _),
    "q_mcf"              -> (OpsQueries.mcfQ _),
    "q_cronbach"         -> (OpsQueries.cronbachQ _),
    "q_icc"              -> (OpsQueries.iccQ _),
    "q_capture_recapture" -> (OpsQueries.captureRecaptureQ _)
  )

  private val fixedPathValues =
    "(VALUES (0, 256.0), (1, 128.0), (2, 64.0), (3, 32.0), (4, 16.0), " +
      "(5, 8.0), (6, 4.0), (7, 2.0), (8, 1.0), (9, 0.5)) AS t(lambda_idx, lam)"

  /** Closed-form 1-feature lasso CV (portable Knuth-hash folds, moment
    * subtraction per fold) — shared CTE chain of the q_cv_exact oracles. */
  private val cvExactCte =
    """WITH r AS (
      |  SELECT l_quantity AS x, l_extendedprice AS y,
      |    (((l_orderkey * 100 + l_linenumber) % 2147483648) * 2654435761)
      |      % 4294967296 % 5 AS f
      |  FROM lineitem),
      |tot AS (SELECT count(*)::double n, sum(x) sx, sum(y) sy, sum(x*x) sxx,
      |               sum(x*y) sxy, sum(y*y) syy FROM r),
      |pf AS (SELECT f, count(*)::double n, sum(x) sx, sum(y) sy, sum(x*x) sxx,
      |              sum(x*y) sxy, sum(y*y) syy FROM r GROUP BY f),
      |lmx AS (SELECT abs(covar_pop(l_quantity, l_extendedprice)
      |          / sqrt(var_pop(l_quantity))) AS lmax FROM lineitem),
      |lgrid AS (SELECT cast(g.i AS INT) AS lambda_idx,
      |                 lmax * pow(0.01, g.i / 9.0) AS lam
      |          FROM lmx, generate_series(0, 9) AS g(i)),
      |tr AS (SELECT pf.f, tot.n - pf.n AS n, tot.sx - pf.sx AS sx,
      |              tot.sy - pf.sy AS sy, tot.sxx - pf.sxx AS sxx,
      |              tot.sxy - pf.sxy AS sxy, tot.syy - pf.syy AS syy
      |       FROM pf, tot),
      |fitm AS (SELECT tr.f, lgrid.lambda_idx, lgrid.lam,
      |           sx/n AS mx, sy/n AS my,
      |           sqrt(sxx/n - (sx/n)*(sx/n)) AS sd,
      |           (sxy/n - (sx/n)*(sy/n)) AS cxy
      |         FROM tr, lgrid),
      |co AS (SELECT f, lambda_idx, lam, mx, my,
      |         sign(cxy/sd) * greatest(abs(cxy/sd) - lam, 0) / sd AS b
      |       FROM fitm),
      |sc AS (SELECT co.f, lambda_idx, lam, my - b*mx AS a0, b, pf.n AS nf,
      |         pf.sx AS fx, pf.sy AS fy, pf.sxx AS fxx, pf.sxy AS fxy,
      |         pf.syy AS fyy
      |       FROM co JOIN pf ON co.f = pf.f),
      |msef AS (SELECT lambda_idx, lam, f,
      |           fyy/nf - 2*a0*fy/nf + a0*a0 + b*b*fxx/nf
      |             + 2*a0*b*fx/nf - 2*b*fxy/nf AS m
      |         FROM sc),
      |curve AS (SELECT lambda_idx, lam, avg(m) AS cvm,
      |                 stddev_samp(m) / sqrt(5) AS cvsd
      |          FROM msef GROUP BY lambda_idx, lam)""".stripMargin

  /** Closed-form 3-feature ridge CV (portable Knuth-hash folds, Cramer
    * solve of the standardized (C + lambda I) b = d system on subtracted
    * fold moments, moment-form held-out MSE — exactly the arithmetic of
    * `CvSgdNet.cvGaussianOnePass`) — shared CTE chain of the
    * q_cv_curve / q_cv_select / q_cv_predict oracles. */
  private val cvRidgeCte =
    s"""WITH r AS (
      |  SELECT l_quantity AS x1, l_discount AS x2, l_tax AS x3,
      |    l_extendedprice AS y,
      |    (((l_orderkey * 100 + l_linenumber) % 2147483648) * 2654435761)
      |      % 4294967296 % 5 AS f
      |  FROM lineitem),
      |tot AS (SELECT count(*)::double n, sum(x1) s1, sum(x2) s2, sum(x3) s3,
      |          sum(y) sy, sum(x1*x1) s11, sum(x2*x2) s22, sum(x3*x3) s33,
      |          sum(x1*x2) s12, sum(x1*x3) s13, sum(x2*x3) s23,
      |          sum(x1*y) s1y, sum(x2*y) s2y, sum(x3*y) s3y, sum(y*y) syy
      |        FROM r),
      |pf AS (SELECT f, count(*)::double n, sum(x1) s1, sum(x2) s2, sum(x3) s3,
      |         sum(y) sy, sum(x1*x1) s11, sum(x2*x2) s22, sum(x3*x3) s33,
      |         sum(x1*x2) s12, sum(x1*x3) s13, sum(x2*x3) s23,
      |         sum(x1*y) s1y, sum(x2*y) s2y, sum(x3*y) s3y, sum(y*y) syy
      |       FROM r GROUP BY f),
      |lgrid AS (SELECT lambda_idx, lam::DOUBLE AS lam FROM $fixedPathValues),
      |trn AS (SELECT pf.f, tot.n - pf.n AS n, tot.s1 - pf.s1 AS s1,
      |          tot.s2 - pf.s2 AS s2, tot.s3 - pf.s3 AS s3,
      |          tot.sy - pf.sy AS sy, tot.s11 - pf.s11 AS s11,
      |          tot.s22 - pf.s22 AS s22, tot.s33 - pf.s33 AS s33,
      |          tot.s12 - pf.s12 AS s12, tot.s13 - pf.s13 AS s13,
      |          tot.s23 - pf.s23 AS s23, tot.s1y - pf.s1y AS s1y,
      |          tot.s2y - pf.s2y AS s2y, tot.s3y - pf.s3y AS s3y
      |        FROM pf, tot),
      |mo AS (SELECT f, n, s1/n m1, s2/n m2, s3/n m3, sy/n my,
      |         s11/n - (s1/n)*(s1/n) c11, s22/n - (s2/n)*(s2/n) c22,
      |         s33/n - (s3/n)*(s3/n) c33, s12/n - (s1/n)*(s2/n) c12,
      |         s13/n - (s1/n)*(s3/n) c13, s23/n - (s2/n)*(s3/n) c23,
      |         s1y/n - (s1/n)*(sy/n) e1, s2y/n - (s2/n)*(sy/n) e2,
      |         s3y/n - (s3/n)*(sy/n) e3
      |       FROM trn),
      |g AS (SELECT f, lambda_idx, lam, m1, m2, m3, my,
      |        sqrt(c11) sd1, sqrt(c22) sd2, sqrt(c33) sd3,
      |        1 + lam AS a11, c12/(sqrt(c11)*sqrt(c22)) AS a12,
      |        c13/(sqrt(c11)*sqrt(c33)) AS a13, 1 + lam AS a22,
      |        c23/(sqrt(c22)*sqrt(c33)) AS a23, 1 + lam AS a33,
      |        e1/sqrt(c11) AS d1, e2/sqrt(c22) AS d2, e3/sqrt(c33) AS d3
      |      FROM mo, lgrid),
      |t2 AS (SELECT *,
      |         a11*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13)
      |           + a13*(a12*a23 - a22*a13) AS det FROM g),
      |u AS (SELECT f, lambda_idx, lam, m1, m2, m3, my,
      |        (d1*(a22*a33 - a23*a23) - a12*(d2*a33 - a23*d3)
      |          + a13*(d2*a23 - a22*d3)) / det / sd1 AS b1,
      |        (a11*(d2*a33 - d3*a23) - d1*(a12*a33 - a23*a13)
      |          + a13*(a12*d3 - d2*a13)) / det / sd2 AS b2,
      |        (a11*(a22*d3 - d2*a23) - a12*(a12*d3 - d2*a13)
      |          + d1*(a12*a23 - a22*a13)) / det / sd3 AS b3
      |      FROM t2),
      |sc AS (SELECT u.f, lambda_idx, lam,
      |         my - b1*m1 - b2*m2 - b3*m3 AS a0, b1, b2, b3,
      |         pf.n AS nf, pf.s1 f1, pf.s2 f2, pf.s3 f3, pf.sy fy,
      |         pf.syy fyy, pf.s11 f11, pf.s22 f22, pf.s33 f33,
      |         pf.s12 f12, pf.s13 f13, pf.s23 f23,
      |         pf.s1y f1y, pf.s2y f2y, pf.s3y f3y
      |       FROM u JOIN pf ON u.f = pf.f),
      |msef AS (SELECT lambda_idx, lam, f,
      |           fyy/nf - 2*a0*fy/nf + a0*a0
      |             + (b1*b1*f11 + b2*b2*f22 + b3*b3*f33
      |                + 2*b1*b2*f12 + 2*b1*b3*f13 + 2*b2*b3*f23)/nf
      |             + 2*a0*(b1*f1 + b2*f2 + b3*f3)/nf
      |             - 2*(b1*f1y + b2*f2y + b3*f3y)/nf AS m
      |         FROM sc),
      |curve AS (SELECT lambda_idx, lam, avg(m) AS cvm,
      |            stddev_samp(m) / sqrt(5) AS cvsd
      |          FROM msef GROUP BY lambda_idx, lam)""".stripMargin

  /** Full-data 3-feature ridge solve shared by the q_cv_predict /
    * q_cv_score / q_cv_deviance oracles: expects a CTE
    * `lsrc(lambda_idx, lam)` naming the penalties to solve at, and
    * emits `cf` with the original-scale coefficients per lsrc row plus
    * the raw total sums for downstream moment forms. Appended after
    * `cvRidgeCte` (which defines `tot`). ONE copy — the Cramer
    * determinant/solve must never drift between the three oracles. */
  private val fullRidgeSolveCte =
    """fmo AS (SELECT n, s1, s2, s3, sy, s11, s22, s33, s12, s13, s23,
      |          s1y, s2y, s3y, syy,
      |          s1/n m1, s2/n m2, s3/n m3, sy/n my,
      |          s11/n - (s1/n)*(s1/n) c11, s22/n - (s2/n)*(s2/n) c22,
      |          s33/n - (s3/n)*(s3/n) c33, s12/n - (s1/n)*(s2/n) c12,
      |          s13/n - (s1/n)*(s3/n) c13, s23/n - (s2/n)*(s3/n) c23,
      |          s1y/n - (s1/n)*(sy/n) e1, s2y/n - (s2/n)*(sy/n) e2,
      |          s3y/n - (s3/n)*(sy/n) e3
      |        FROM tot),
      |fg AS (SELECT lambda_idx, lam, fmo.*,
      |         sqrt(c11) sd1, sqrt(c22) sd2, sqrt(c33) sd3,
      |         1 + lam AS a11, c12/(sqrt(c11)*sqrt(c22)) AS a12,
      |         c13/(sqrt(c11)*sqrt(c33)) AS a13, 1 + lam AS a22,
      |         c23/(sqrt(c22)*sqrt(c33)) AS a23, 1 + lam AS a33,
      |         e1/sqrt(c11) AS d1, e2/sqrt(c22) AS d2, e3/sqrt(c33) AS d3
      |       FROM fmo, lsrc),
      |ft AS (SELECT *,
      |         a11*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13)
      |           + a13*(a12*a23 - a22*a13) AS det FROM fg),
      |fu AS (SELECT lambda_idx, lam, n, s1, s2, s3, sy, s11, s22, s33,
      |         s12, s13, s23, s1y, s2y, s3y, syy, m1, m2, m3, my,
      |         (d1*(a22*a33 - a23*a23) - a12*(d2*a33 - a23*d3)
      |           + a13*(d2*a23 - a22*d3)) / det / sd1 AS b1,
      |         (a11*(d2*a33 - d3*a23) - d1*(a12*a33 - a23*a13)
      |           + a13*(a12*d3 - d2*a13)) / det / sd2 AS b2,
      |         (a11*(a22*d3 - d2*a23) - a12*(a12*d3 - d2*a13)
      |           + d1*(a12*a23 - a22*a13)) / det / sd3 AS b3
      |       FROM ft),
      |cf AS (SELECT lambda_idx, lam, n, s1, s2, s3, sy, s11, s22, s33,
      |         s12, s13, s23, s1y, s2y, s3y, syy, b1, b2, b3,
      |         my - b1*m1 - b2*m2 - b3*m3 AS a0 FROM fu)""".stripMargin

  /** q_screen_irls oracle (round 18), generated: the 36-feature
    * one-IRLS-step binomial closed form — per-feature working gradient
    * c_j = cov(x_j, y)/sd_j, λ₁ = 0.75·max|c_j|, each coefficient the
    * soft threshold S(c_j, λ₁)/(p̄(1−p̄))/sd_j (zero for every
    * pseudo-noise feature by construction), intercept
    * logit(p̄) − Σ b_j·mean_j. Long frame over both path points. */
  private def screenIrlsSql: String = {
    val names = Seq("f0") ++ (1 until 36).map(j => f"f$j%02d")
    val featDefs = ("(CASE WHEN l_returnflag = 'R' THEN 4 ELSE 0 END " +
      "+ l_orderkey % 3)::DOUBLE AS f0") +: (1 until 36).map(j =>
      f"((l_orderkey*${2 * j + 3} + l_linenumber*${j + 1}) %% 23)::DOUBLE AS f$j%02d")
    val statDefs = names.map(f =>
      s"avg($f) m_$f, covar_pop($f, y)/sqrt(var_pop($f)) c_$f, " +
        s"sqrt(var_pop($f)) s_$f")
    val lmax = names.map(f => s"abs(c_$f)").mkString("greatest(", ", ", ")")
    val coefDefs = names.map(f =>
      s"sign(c_$f)*greatest(abs(c_$f) - lam, 0)/(p*(1 - p))/s_$f AS b_$f")
    val a0Adj = names.map(f => s"b_$f*m_$f").mkString(" + ")
    val rows0 =
      ("SELECT 0 AS lambda_idx, 'a0' AS term, " +
        "round(ln(p/(1 - p)), 6) + 0.0 AS value FROM coefs") +:
        names.map(f => s"SELECT 0, '$f', 0.0 FROM coefs")
    val rows1 =
      (s"SELECT 1, 'a0', round(ln(p/(1 - p)) - ($a0Adj), 6) + 0.0 " +
        "FROM coefs") +:
        names.map(f => s"SELECT 1, '$f', round(b_$f, 6) + 0.0 FROM coefs")
    s"""WITH r AS MATERIALIZED (
       |  SELECT CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y,
       |    ${featDefs.mkString(",\n    ")}
       |  FROM lineitem WHERE l_orderkey % 4 = 0),
       |s AS (SELECT avg(y) p,
       |  ${statDefs.mkString(",\n  ")}
       |  FROM r),
       |g AS (SELECT *, $lmax AS lmax FROM s),
       |lm AS (SELECT *, 0.75*lmax AS lam FROM g),
       |coefs AS (SELECT *,
       |  ${coefDefs.mkString(",\n  ")}
       |  FROM lm)
       |${(rows0 ++ rows1).mkString("\nUNION ALL ")}
       |ORDER BY lambda_idx, term""".stripMargin
  }

  /** q_gauss_largep oracle (round 18), generated: the gaussian twin of
    * [[screenIrlsSql]] through the screened-Gram LargeP route —
    * c_j = cov(f_j, y)/sd_j, λ₁ = 0.75·max|c_j|, the single active
    * coefficient S(c_j, λ₁)/sd_j (zero for every noise feature),
    * a0 = ȳ − Σ b_j·mean_j; idx 0 (λ₀ > λmax) is the ȳ intercept
    * with an EMPTY candidate set exercised in the engine. */
  private def gaussLargePSql: String = {
    val names = Seq("f0") ++ (1 until 36).map(j => f"f$j%02d")
    val featDefs = ("(l_extendedprice::DOUBLE / 1000 + l_orderkey % 3) " +
      "AS f0") +: (1 until 36).map(j =>
      f"((l_orderkey*${2 * j + 3} + l_linenumber*${j + 1}) %% 23)::DOUBLE AS f$j%02d")
    val statDefs = names.map(f =>
      s"avg($f) m_$f, covar_pop($f, y)/sqrt(var_pop($f)) c_$f, " +
        s"sqrt(var_pop($f)) s_$f")
    val lmax = names.map(f => s"abs(c_$f)").mkString("greatest(", ", ", ")")
    val coefDefs = names.map(f =>
      s"sign(c_$f)*greatest(abs(c_$f) - lam, 0)/s_$f AS b_$f")
    val a0Adj = names.map(f => s"b_$f*m_$f").mkString(" + ")
    val rows0 =
      ("SELECT 0 AS lambda_idx, 'a0' AS term, " +
        "round(ym, 6) + 0.0 AS value FROM coefs") +:
        names.map(f => s"SELECT 0, '$f', 0.0 FROM coefs")
    val rows1 =
      (s"SELECT 1, 'a0', round(ym - ($a0Adj), 6) + 0.0 FROM coefs") +:
        names.map(f => s"SELECT 1, '$f', round(b_$f, 6) + 0.0 FROM coefs")
    s"""WITH r AS MATERIALIZED (
       |  SELECT l_extendedprice::DOUBLE AS y,
       |    ${featDefs.mkString(",\n    ")}
       |  FROM lineitem WHERE l_orderkey % 4 = 0),
       |s AS (SELECT avg(y) ym,
       |  ${statDefs.mkString(",\n  ")}
       |  FROM r),
       |g AS (SELECT *, $lmax AS lmax FROM s),
       |lm AS (SELECT *, 0.75*lmax AS lam FROM g),
       |coefs AS (SELECT *,
       |  ${coefDefs.mkString(",\n  ")}
       |  FROM lm)
       |${(rows0 ++ rows1).mkString("\nUNION ALL ")}
       |ORDER BY lambda_idx, term""".stripMargin
  }

  /** q_cv_largep oracle (round 18), generated: 5-fold CV of the
    * gaussLargeP fixture at the two-point lasso grid
    * (λ₀ = 1.15·λmax → every fold model is the train-mean null;
    * λ₁ = 0.75·λmax → one active coordinate, the soft threshold on
    * the fold's TRAIN moments) — per-fold held-out MSE in moment
    * form, cvm = mean, cvsd = sqrt(var_samp/nfolds), ln-encoded like
    * the other CV oracles. λmax needs the full 36-feature stats; the
    * per-fold algebra only needs f0 (the only coordinate any fold
    * activates — margins are structural: noise |c| ≈ 0.02·λmax). */
  private def cvLargePSql: String = {
    val names = Seq("f0") ++ (1 until 36).map(j => f"f$j%02d")
    val featDefs = ("(l_extendedprice::DOUBLE / 1000 + l_orderkey % 3) " +
      "AS f0") +: (1 until 36).map(j =>
      f"((l_orderkey*${2 * j + 3} + l_linenumber*${j + 1}) %% 23)::DOUBLE AS f$j%02d")
    val statDefs = names.map(f =>
      s"covar_pop($f, y)/sqrt(var_pop($f)) c_$f")
    val lmax = names.map(f => s"abs(c_$f)").mkString("greatest(", ", ", ")")
    s"""WITH r AS MATERIALIZED (
       |  SELECT l_extendedprice::DOUBLE AS y,
       |    (((l_orderkey * 100 + l_linenumber) % 2147483648) * 2654435761)
       |      % 4294967296 % 5 AS f,
       |    ${featDefs.mkString(",\n    ")}
       |  FROM lineitem WHERE l_orderkey % 4 = 0),
       |s AS (SELECT ${statDefs.mkString(",\n  ")} FROM r),
       |lmx AS (SELECT $lmax AS lmax FROM s),
       |lgrid AS (SELECT 0 AS lambda_idx, 1.15*lmax AS lam FROM lmx
       |          UNION ALL SELECT 1, 0.75*lmax FROM lmx),
       |tot AS (SELECT count(*)::DOUBLE n, sum(f0) s, sum(f0*f0) s00,
       |          sum(y) sy, sum(f0*y) s0y, sum(y*y) syy FROM r),
       |pf AS (SELECT f, count(*)::DOUBLE n, sum(f0) s, sum(f0*f0) s00,
       |         sum(y) sy, sum(f0*y) s0y, sum(y*y) syy FROM r GROUP BY f),
       |trn AS (SELECT pf.f, tot.n - pf.n AS n, tot.s - pf.s AS s,
       |          tot.s00 - pf.s00 AS s00, tot.sy - pf.sy AS sy,
       |          tot.s0y - pf.s0y AS s0y
       |        FROM pf, tot),
       |mo AS (SELECT f, n, s/n m, sy/n my,
       |         s00/n - (s/n)*(s/n) v, s0y/n - (s/n)*(sy/n) e FROM trn),
       |co AS (SELECT mo.f, lambda_idx, lam, m, my, sqrt(v) sd,
       |         e/sqrt(v) AS c FROM mo, lgrid),
       |bb AS (SELECT *, CASE WHEN abs(c) > lam
       |         THEN sign(c)*(abs(c) - lam)/sd ELSE 0.0::DOUBLE END AS b
       |       FROM co),
       |sc AS (SELECT bb.f, lambda_idx, lam, my - b*m AS a0, b,
       |         pf.n nf, pf.s fs, pf.sy fsy, pf.s00 fs00, pf.s0y fs0y,
       |         pf.syy fsyy
       |       FROM bb JOIN pf ON bb.f = pf.f),
       |ms AS (SELECT lambda_idx, lam,
       |         fsyy/nf - 2*a0*fsy/nf + a0*a0 + b*b*fs00/nf
       |           + 2*a0*b*fs/nf - 2*b*fs0y/nf AS mse
       |       FROM sc),
       |curve AS (SELECT lambda_idx, lam, avg(mse) AS cvm,
       |            sqrt(var_samp(mse)/5) AS cvsd
       |          FROM ms GROUP BY lambda_idx, lam)
       |SELECT cast(lambda_idx AS INT) AS lambda_idx,
       |       round(lam, 4) AS lambda,
       |       round(ln(cvm), 6) AS ln_cvm, round(ln(cvsd), 6) AS ln_cvsd
       |FROM curve ORDER BY lambda_idx""".stripMargin
  }

  /** q_weighted_largep oracle (round 18), generated: the weighted
    * twin of [[gaussLargePSql]] — every moment a weighted sum ratio
    * (Σw·x/Σw), the single active coefficient the weighted
    * soft-threshold closed form, a0 the weighted mean adjusted by
    * b·m. Two CTE levels (raw weighted sums, then ratios) keep the
    * SQL portable. */
  private def weightedLargePSql: String = {
    val names = Seq("f0") ++ (1 until 36).map(j => f"f$j%02d")
    val featDefs = ("(l_extendedprice::DOUBLE / 1000 + l_orderkey % 3) " +
      "AS f0") +: (1 until 36).map(j =>
      f"((l_orderkey*${2 * j + 3} + l_linenumber*${j + 1}) %% 23)::DOUBLE AS f$j%02d")
    val sumDefs = names.map(f =>
      s"sum(w*$f) sf_$f, sum(w*$f*$f) sff_$f, sum(w*$f*y) sfy_$f")
    val ratioDefs = names.map(f =>
      s"sf_$f/sw AS m_$f, " +
        s"sqrt(sff_$f/sw - (sf_$f/sw)*(sf_$f/sw)) AS s_$f, " +
        s"(sfy_$f/sw - (sf_$f/sw)*ym) / " +
        s"sqrt(sff_$f/sw - (sf_$f/sw)*(sf_$f/sw)) AS c_$f")
    val lmax = names.map(f => s"abs(c_$f)").mkString("greatest(", ", ", ")")
    val coefDefs = names.map(f =>
      s"sign(c_$f)*greatest(abs(c_$f) - lam, 0)/s_$f AS b_$f")
    val a0Adj = names.map(f => s"b_$f*m_$f").mkString(" + ")
    val rows0 =
      ("SELECT 0 AS lambda_idx, 'a0' AS term, " +
        "round(ym, 6) + 0.0 AS value FROM coefs") +:
        names.map(f => s"SELECT 0, '$f', 0.0 FROM coefs")
    val rows1 =
      (s"SELECT 1, 'a0', round(ym - ($a0Adj), 6) + 0.0 FROM coefs") +:
        names.map(f => s"SELECT 1, '$f', round(b_$f, 6) + 0.0 FROM coefs")
    s"""WITH r AS MATERIALIZED (
       |  SELECT l_extendedprice::DOUBLE AS y,
       |    (l_orderkey % 3 + 1)::DOUBLE AS w,
       |    ${featDefs.mkString(",\n    ")}
       |  FROM lineitem WHERE l_orderkey % 4 = 0),
       |s0 AS (SELECT sum(w) sw, sum(w*y) swy,
       |  ${sumDefs.mkString(",\n  ")}
       |  FROM r),
       |s AS (SELECT sw, swy/sw AS ym,
       |  ${ratioDefs.mkString(",\n  ")}
       |  FROM s0),
       |g AS (SELECT *, $lmax AS lmax FROM s),
       |lm AS (SELECT *, 0.75*lmax AS lam FROM g),
       |coefs AS (SELECT *,
       |  ${coefDefs.mkString(",\n  ")}
       |  FROM lm)
       |${(rows0 ++ rows1).mkString("\nUNION ALL ")}
       |ORDER BY lambda_idx, term""".stripMargin
  }

  /** DuckDB-equivalent SQL for each SQL-expressible query. */
  def oracleSql: Map[String, String] = {
    val base = Map(
    "q_screen_irls" -> screenIrlsSql,
    "q_gauss_largep" -> gaussLargePSql,
    "q_cv_largep" -> cvLargePSql,
    // the sparse (CSR) screened chassis on the SAME fixture and grid
    // as q_gauss_largep — byte-identical closed-form oracle
    "q_sparse_largep" -> gaussLargePSql,
    // the sparse screened IRLS chassis on the q_screen_irls fixture —
    // byte-identical one-IRLS-step closed-form oracle
    "q_sparse_irls" -> screenIrlsSql,
    "q_weighted_largep" -> weightedLargePSql,
    // the screened large-p IRLS chassis on the SAME fixture, grid and
    // one-step discipline as q_screen_irls — the oracle is the same
    // closed form byte-for-byte (divergence isolates the chassis)
    "q_binom_largep" -> screenIrlsSql,
    "q_cv_curve" ->
      s"""$cvRidgeCte
        |SELECT cast(lambda_idx AS INT) AS lambda_idx, round(lam, 4) AS lambda,
        |       round(ln(cvm), 4) AS ln_cvm, round(ln(cvsd), 4) AS ln_cvsd
        |FROM curve ORDER BY lambda_idx""".stripMargin,

    "q_cv_select" ->
      s"""$cvRidgeCte,
        |sel AS (SELECT lam, cvm, cvsd FROM curve
        |        ORDER BY cvm, lambda_idx LIMIT 1),
        |one AS (SELECT max(c.lam) AS l1se FROM curve c, sel
        |        WHERE c.cvm <= sel.cvm + sel.cvsd)
        |SELECT 0.0::DOUBLE AS alpha, round(sel.lam, 4) AS lambda_min,
        |       round(one.l1se, 4) AS lambda_1se
        |FROM sel, one""".stripMargin,

    "q_cv_summary" ->
      s"""$cvRidgeCte,
        |sel AS (SELECT lam, cvm, cvsd FROM curve
        |        ORDER BY cvm, lambda_idx LIMIT 1),
        |one AS (SELECT c.lam AS l1se, c.cvm AS cvm1 FROM curve c, sel
        |        WHERE c.cvm <= sel.cvm + sel.cvsd
        |        ORDER BY c.lam DESC LIMIT 1)
        |SELECT 0.0::DOUBLE AS alpha, round(sel.lam, 4) AS lambda_min,
        |       round(ln(sel.cvm), 6) AS ln_cvm_min,
        |       round(ln(sel.cvsd), 6) AS ln_cvsd_min,
        |       round(one.l1se, 4) AS lambda_1se,
        |       round(ln(one.cvm1), 6) AS ln_cvm_1se
        |FROM sel, one""".stripMargin,

    "q_cv_score" ->
      s"""$cvRidgeCte,
        |sel AS (SELECT lam FROM curve ORDER BY cvm, lambda_idx LIMIT 1),
        |lsrc AS (SELECT 0 AS lambda_idx, lam FROM sel),
        |$fullRidgeSolveCte
        |SELECT round(ln(avg(pow(l_extendedprice
        |         - (a0 + b1*l_quantity + b2*l_discount + b3*l_tax), 2))), 4) AS mse
        |FROM lineitem, cf""".stripMargin,

    // full-data ridge solved at EVERY lambda (lsrc = the whole grid);
    // deviance = RSS in original-scale moment form over cf's sums
    "q_cv_deviance" ->
      s"""$cvRidgeCte,
        |lsrc AS (SELECT lambda_idx, lam FROM lgrid),
        |$fullRidgeSolveCte,
        |dev AS (SELECT lambda_idx,
        |          syy - 2*a0*sy + n*a0*a0
        |            + (b1*b1*s11 + b2*b2*s22 + b3*b3*s33
        |               + 2*b1*b2*s12 + 2*b1*b3*s13 + 2*b2*b3*s23)
        |            + 2*a0*(b1*s1 + b2*s2 + b3*s3)
        |            - 2*(b1*s1y + b2*s2y + b3*s3y) AS d
        |        FROM cf)
        |SELECT lambda_idx, round(ln(d), 6) AS ln_dev
        |FROM dev ORDER BY lambda_idx""".stripMargin,

    // standardize.response at alpha=0.5: the group prox couples the
    // responses through the norm of the y-STANDARDIZED gradients
    // cs_t = (cov_t/sd_x)/sd_yt — the sd_y scaling changes the shrink,
    // so a broken flag cannot hash-match. For p=1 the solve is one
    // group soft-threshold: shrink = (1 - l1/||cs||)+ / (1 + l2) with
    // l1 = lam*alpha = 1.0, l2 = lam*(1-alpha) = 1.0; back-transform
    // b_t = cs_t*shrink/sd_x*sd_yt, a0_t = my_t - b_t*mx
    "q_mgauss_stdresp" ->
      """WITH s AS (SELECT avg(l_quantity) mx, sqrt(var_pop(l_quantity)) sdx,
        |  avg(l_extendedprice) m1, sqrt(var_pop(l_extendedprice)) sd1,
        |  avg(l_tax) m2, sqrt(var_pop(l_tax)) sd2,
        |  covar_pop(l_quantity, l_extendedprice) c1,
        |  covar_pop(l_quantity, l_tax) c2 FROM lineitem),
        |cs AS (SELECT *, ((c1 / sdx) / sd1) AS cs1, ((c2 / sdx) / sd2) AS cs2
        |       FROM s),
        |sh AS (SELECT *, sqrt(cs1*cs1 + cs2*cs2) AS nrm FROM cs),
        |u0 AS (SELECT *,
        |  CASE WHEN nrm > 2.0 * 0.5
        |       THEN (1.0 - (2.0 * 0.5) / nrm) / (1.0 + 2.0 * (1.0 - 0.5))
        |       ELSE 0.0 END AS shrink FROM sh),
        |u AS (SELECT 'l_extendedprice' AS response, m1 AS my,
        |        cs1 * shrink / sdx * sd1 AS b, mx FROM u0
        |  UNION ALL SELECT 'l_tax', m2,
        |        cs2 * shrink / sdx * sd2, mx FROM u0)
        |SELECT response, round(my - b * mx, 4) + 0 AS a0, round(b, 8) + 0 AS b
        |FROM u ORDER BY response""".stripMargin,

    "q_cv_predict" ->
      s"""$cvRidgeCte,
        |sel AS (SELECT lam FROM curve ORDER BY cvm, lambda_idx LIMIT 1),
        |lsrc AS (SELECT 0 AS lambda_idx, lam FROM sel),
        |$fullRidgeSolveCte
        |SELECT l_orderkey, l_linenumber,
        |       round(a0 + b1*l_quantity + b2*l_discount + b3*l_tax, 2) AS pred
        |FROM lineitem, cf WHERE l_orderkey <= 5
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_gauss_ols1" ->
      """WITH s AS (SELECT regr_intercept(l_extendedprice, l_quantity) i,
        |                  regr_slope(l_extendedprice, l_quantity) b FROM lineitem)
        |SELECT 'a0' AS term, round(i, 4) + 0 AS value FROM s
        |UNION ALL SELECT 'l_quantity', round(b, 4) + 0 FROM s
        |ORDER BY term""".stripMargin,

    "q_gauss_ridge1" ->
      """WITH s AS (SELECT avg(l_quantity) mx, avg(l_extendedprice) my,
        |                  covar_pop(l_quantity, l_extendedprice) cxy,
        |                  var_pop(l_quantity) vx FROM lineitem),
        |t AS (SELECT mx, my, cxy / (vx * (1 + 2.5)) AS b FROM s)
        |SELECT 'a0' AS term, round(my - b * mx, 4) + 0 AS value FROM t
        |UNION ALL SELECT 'l_quantity', round(b, 4) + 0 FROM t
        |ORDER BY term""".stripMargin,

    // reference-implemented penalty convention: L2 term / sd_pop(y)
    // (sgdnet src/utils.h:170-180) — only the shrink denominator changes
    "q_ridge_compat" ->
      """WITH s AS (SELECT avg(l_quantity) mx, avg(l_extendedprice) my,
        |                  covar_pop(l_quantity, l_extendedprice) cxy,
        |                  var_pop(l_quantity) vx,
        |                  sqrt(var_pop(l_extendedprice)) sy FROM lineitem),
        |t AS (SELECT mx, my, cxy / (vx * (1 + 2.5 / sy)) AS b FROM s)
        |SELECT 'a0' AS term, round(my - b * mx, 4) + 0 AS value FROM t
        |UNION ALL SELECT 'l_quantity', round(b, 4) + 0 FROM t
        |ORDER BY term""".stripMargin,

    "q_gauss_lasso1" ->
      """WITH s AS (SELECT avg(l_quantity) mx, avg(l_extendedprice) my,
        |                  covar_pop(l_quantity, l_extendedprice) cxy,
        |                  sqrt(var_pop(l_quantity)) sd FROM lineitem),
        |t AS (SELECT mx, my,
        |        sign(cxy / sd) * greatest(abs(cxy / sd) - 1.0, 0) / sd AS b FROM s)
        |SELECT 'a0' AS term, round(my - b * mx, 4) + 0 AS value FROM t
        |UNION ALL SELECT 'l_quantity', round(b, 4) + 0 FROM t
        |ORDER BY term""".stripMargin,

    // gaussian deviance residual = y − ŷ of the closed-form OLS
    "q_dev_resid" ->
      """WITH m AS (SELECT regr_intercept(l_extendedprice, l_quantity) i,
        |                  regr_slope(l_extendedprice, l_quantity) b FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |  round(l_extendedprice - (i + b * l_quantity), 2) + 0.0 AS dev_resid
        |FROM lineitem, m WHERE l_orderkey <= 5
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // relaxed lasso: lambda 1e12 zeroes the coef (intercept-only
    // refit); lambda 1.0 is the q_gauss_lasso1 closed form with the
    // plain OLS refit; blend at gamma = 0.5
    "q_relaxed_fit" ->
      """WITH s AS (SELECT avg(l_quantity) mx, avg(l_extendedprice) my,
        |                  covar_pop(l_quantity, l_extendedprice) cxy,
        |                  sqrt(var_pop(l_quantity)) sd FROM lineitem),
        |t AS (SELECT mx, my,
        |        sign(cxy / sd) * greatest(abs(cxy / sd) - 1.0, 0) / sd AS bl,
        |        (cxy / sd) / sd AS bo FROM s),
        |r AS (
        |  SELECT 0 AS lambda_idx, 'a0' AS term, my AS lasso, my AS ols FROM t
        |  UNION ALL SELECT 0, 'l_quantity', 0.0::DOUBLE, 0.0::DOUBLE FROM t
        |  UNION ALL SELECT 1, 'a0', my - bl * mx, my - bo * mx FROM t
        |  UNION ALL SELECT 1, 'l_quantity', bl, bo FROM t)
        |SELECT lambda_idx, term, round(lasso, 4) + 0.0 AS lasso,
        |  round(ols, 4) + 0.0 AS ols,
        |  round(0.5::DOUBLE * lasso + 0.5::DOUBLE * ols, 4) + 0.0 AS relaxed
        |FROM r ORDER BY lambda_idx, term""".stripMargin,

    "q_gauss_ols3" ->
      """WITH s AS (SELECT
        |  var_pop(l_quantity) c11, covar_pop(l_quantity, l_discount) c12,
        |  covar_pop(l_quantity, l_tax) c13, var_pop(l_discount) c22,
        |  covar_pop(l_discount, l_tax) c23, var_pop(l_tax) c33,
        |  covar_pop(l_quantity, l_extendedprice) d1,
        |  covar_pop(l_discount, l_extendedprice) d2,
        |  covar_pop(l_tax, l_extendedprice) d3,
        |  avg(l_quantity) m1, avg(l_discount) m2, avg(l_tax) m3,
        |  avg(l_extendedprice) my
        |FROM lineitem),
        |t AS (SELECT *,
        |  c11*(c22*c33 - c23*c23) - c12*(c12*c33 - c23*c13)
        |    + c13*(c12*c23 - c22*c13) AS det FROM s),
        |u AS (SELECT m1, m2, m3, my,
        |  (d1*(c22*c33 - c23*c23) - c12*(d2*c33 - c23*d3)
        |    + c13*(d2*c23 - c22*d3)) / det AS b1,
        |  (c11*(d2*c33 - d3*c23) - d1*(c12*c33 - c23*c13)
        |    + c13*(c12*d3 - d2*c13)) / det AS b2,
        |  (c11*(c22*d3 - d2*c23) - c12*(c12*d3 - d2*c13)
        |    + d1*(c12*c23 - c22*c13)) / det AS b3
        |FROM t)
        |SELECT 'a0' AS term, round(my - b1*m1 - b2*m2 - b3*m3, 4) + 0 AS value FROM u
        |UNION ALL SELECT 'l_discount', round(b2, 4) + 0 FROM u
        |UNION ALL SELECT 'l_quantity', round(b1, 4) + 0 FROM u
        |UNION ALL SELECT 'l_tax', round(b3, 4) + 0 FROM u
        |ORDER BY term""".stripMargin,

    // non-negative OLS (glmnet lower.limits): the optimum of a
    // box-constrained strictly convex QP is the best FEASIBLE
    // face-restricted minimizer — enumerate the 4 active-set faces,
    // keep the feasible ones, take the min-SSE candidate
    "q_coef_limits" ->
      """WITH s AS (SELECT var_pop(l_quantity) c11,
        |  covar_pop(l_quantity, l_tax) c12, var_pop(l_tax) c22,
        |  covar_pop(l_quantity, l_extendedprice) d1,
        |  covar_pop(l_tax, l_extendedprice) d2,
        |  avg(l_quantity) m1, avg(l_tax) m2, avg(l_extendedprice) my,
        |  var_pop(l_extendedprice) vy
        |FROM lineitem),
        |c AS (
        |  SELECT 'both' AS k,
        |    (d1*c22 - d2*c12) / (c11*c22 - c12*c12) AS b1,
        |    (c11*d2 - c12*d1) / (c11*c22 - c12*c12) AS b2 FROM s
        |  UNION ALL SELECT 'b1', d1 / c11, 0.0::DOUBLE FROM s
        |  UNION ALL SELECT 'b2', 0.0::DOUBLE, d2 / c22 FROM s
        |  UNION ALL SELECT 'none', 0.0::DOUBLE, 0.0::DOUBLE FROM s),
        |f AS (SELECT c.k, c.b1, c.b2, s.vy - (c.b1*s.d1 + c.b2*s.d2) AS sse
        |  FROM c, s WHERE c.b1 >= 0 AND c.b2 >= 0),
        |best AS (SELECT b1, b2 FROM f ORDER BY sse, k LIMIT 1)
        |SELECT 'a0' AS term, round(my - b1*m1 - b2*m2, 4) + 0 AS value
        |  FROM best, s
        |UNION ALL SELECT 'l_quantity', round(b1, 4) + 0 FROM best
        |UNION ALL SELECT 'l_tax', round(b2, 4) + 0 FROM best
        |ORDER BY term""".stripMargin,

    // exclude (lower = upper = 0): the b2-fixed-at-0 OLS restricted to
    // the remaining columns is exactly the 2-feature OLS on them
    "q_exclude" ->
      """WITH s AS (SELECT var_pop(l_quantity) c11,
        |  covar_pop(l_quantity, l_tax) c13, var_pop(l_tax) c33,
        |  covar_pop(l_quantity, l_extendedprice) d1,
        |  covar_pop(l_tax, l_extendedprice) d3,
        |  avg(l_quantity) m1, avg(l_tax) m3, avg(l_extendedprice) my
        |FROM lineitem),
        |u AS (SELECT m1, m3, my,
        |  (d1*c33 - d3*c13) / (c11*c33 - c13*c13) AS b1,
        |  (c11*d3 - c13*d1) / (c11*c33 - c13*c13) AS b3 FROM s)
        |SELECT 'a0' AS term, round(my - b1*m1 - b3*m3, 4) + 0 AS value FROM u
        |UNION ALL SELECT 'l_discount', 0.0::DOUBLE FROM u
        |UNION ALL SELECT 'l_quantity', round(b1, 4) + 0 FROM u
        |UNION ALL SELECT 'l_tax', round(b3, 4) + 0 FROM u
        |ORDER BY term""".stripMargin,

    // offset fit: gaussian with linear-predictor offset == ridge on
    // y − offset
    "q_offset_fit" ->
      """WITH s AS (SELECT avg(l_quantity) mx,
        |  avg(l_extendedprice - l_tax * 1000) my,
        |  covar_pop(l_quantity, l_extendedprice - l_tax * 1000) cxy,
        |  var_pop(l_quantity) vx FROM lineitem),
        |t AS (SELECT mx, my, cxy / (vx * (1 + 2.5)) AS b FROM s)
        |SELECT 'a0' AS term, round(my - b * mx, 4) + 0 AS value FROM t
        |UNION ALL SELECT 'l_quantity', round(b, 4) + 0 FROM t
        |ORDER BY term""".stripMargin,

    // observation-weighted ridge: all moments weighted by l_linenumber
    // (weights normalized to sum to n cancel in every moment ratio)
    "q_weighted_fit" ->
      """WITH s AS (SELECT sum(l_linenumber)::DOUBLE AS w,
        |  sum(l_linenumber * l_quantity) AS swx,
        |  sum(l_linenumber * l_extendedprice) AS swy,
        |  sum(l_linenumber * l_quantity * l_quantity) AS swxx,
        |  sum(l_linenumber * l_quantity * l_extendedprice) AS swxy
        |FROM lineitem),
        |t AS (SELECT swx/w AS mx, swy/w AS my,
        |  swxy/w - (swx/w) * (swy/w) AS cxy,
        |  swxx/w - (swx/w) * (swx/w) AS vx FROM s),
        |u AS (SELECT mx, my, cxy / (vx * (1 + 2.5)) AS b FROM t)
        |SELECT 'a0' AS term, round(my - b * mx, 4) + 0 AS value FROM u
        |UNION ALL SELECT 'l_quantity', round(b, 4) + 0 FROM u
        |ORDER BY term""".stripMargin,

    // weighted BINOMIAL at coefficient-killing lambda: the weighted
    // IRLS fixed point is the intercept-only weighted logistic MLE
    // a0 = logit(sum(w y)/sum(w)) — exact oracle for SgdNet.fitWeighted
    "q_weighted_binom" ->
      """WITH s AS (SELECT sum(l_linenumber)::DOUBLE AS w,
        |  sum(l_linenumber *
        |    CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) AS wy
        |FROM lineitem),
        |t AS (SELECT wy / w AS p FROM s)
        |SELECT 'a0' AS term, round(ln(p / (1 - p)), 6) + 0 AS value FROM t
        |UNION ALL SELECT 'l_quantity', 0.0::DOUBLE FROM t
        |ORDER BY term""".stripMargin,

    // weighted MGAUSSIAN ridge: alpha = 0 decouples the group penalty
    // per response, so each coefficient is the q_weighted_fit
    // weighted-moment closed form
    "q_weighted_mgauss" ->
      """WITH s AS (SELECT sum(l_linenumber)::DOUBLE AS w,
        |  sum(l_linenumber * l_quantity) AS swx,
        |  sum(l_linenumber * l_extendedprice) AS swy1,
        |  sum(l_linenumber * l_tax) AS swy2,
        |  sum(l_linenumber * l_quantity * l_quantity) AS swxx,
        |  sum(l_linenumber * l_quantity * l_extendedprice) AS swxy1,
        |  sum(l_linenumber * l_quantity * l_tax) AS swxy2
        |FROM lineitem),
        |t AS (SELECT swx/w AS mx, swy1/w AS my1, swy2/w AS my2,
        |  swxy1/w - (swx/w) * (swy1/w) AS cxy1,
        |  swxy2/w - (swx/w) * (swy2/w) AS cxy2,
        |  swxx/w - (swx/w) * (swx/w) AS vx FROM s),
        |u AS (SELECT mx, my1, my2,
        |  cxy1 / (vx * (1 + 2.5)) AS b1,
        |  cxy2 / (vx * (1 + 2.5)) AS b2 FROM t)
        |SELECT 'l_extendedprice' AS response, 'a0' AS term,
        |       round(my1 - b1 * mx, 4) + 0 AS value FROM u
        |UNION ALL SELECT 'l_extendedprice', 'l_quantity', round(b1, 8) + 0 FROM u
        |UNION ALL SELECT 'l_tax', 'a0', round(my2 - b2 * mx, 4) + 0 FROM u
        |UNION ALL SELECT 'l_tax', 'l_quantity', round(b2, 8) + 0 FROM u
        |ORDER BY response, term""".stripMargin,

    // weighted POISSON, same construction: intercept-only weighted
    // poisson MLE a0 = ln(sum(w y)/sum(w))
    "q_weighted_poisson" ->
      """WITH s AS (SELECT sum(l_linenumber)::DOUBLE AS w,
        |  sum(l_linenumber * l_quantity) AS wy
        |FROM lineitem),
        |t AS (SELECT wy / w AS m FROM s)
        |SELECT 'a0' AS term, round(ln(m), 6) + 0 AS value FROM t
        |UNION ALL SELECT 'l_discount', 0.0::DOUBLE FROM t
        |ORDER BY term""".stripMargin,

    // penalty.factor [0,1,2] at lambda 0.5: ridge-3 Cramer solve with
    // per-feature diagonal 1 + 0.5·pf_j
    "q_penalty_factor" ->
      """WITH s AS (SELECT
        |  sqrt(var_pop(l_quantity)) s1, sqrt(var_pop(l_discount)) s2,
        |  sqrt(var_pop(l_tax)) s3,
        |  covar_pop(l_quantity, l_discount) c12, covar_pop(l_quantity, l_tax) c13,
        |  covar_pop(l_discount, l_tax) c23,
        |  covar_pop(l_quantity, l_extendedprice) e1,
        |  covar_pop(l_discount, l_extendedprice) e2,
        |  covar_pop(l_tax, l_extendedprice) e3,
        |  avg(l_quantity) m1, avg(l_discount) m2, avg(l_tax) m3,
        |  avg(l_extendedprice) my
        |FROM lineitem),
        |g AS (SELECT m1, m2, m3, my, s1, s2, s3,
        |  1 + 0.5 * 0 AS a11, c12/(s1*s2) AS a12, c13/(s1*s3) AS a13,
        |  1 + 0.5 * 1 AS a22, c23/(s2*s3) AS a23, 1 + 0.5 * 2 AS a33,
        |  e1/s1 AS d1, e2/s2 AS d2, e3/s3 AS d3 FROM s),
        |t AS (SELECT *,
        |  a11*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13)
        |    + a13*(a12*a23 - a22*a13) AS det FROM g),
        |u AS (SELECT m1, m2, m3, my,
        |  (d1*(a22*a33 - a23*a23) - a12*(d2*a33 - a23*d3)
        |    + a13*(d2*a23 - a22*d3)) / det / s1 AS b1,
        |  (a11*(d2*a33 - d3*a23) - d1*(a12*a33 - a23*a13)
        |    + a13*(a12*d3 - d2*a13)) / det / s2 AS b2,
        |  (a11*(a22*d3 - d2*a23) - a12*(a12*d3 - d2*a13)
        |    + d1*(a12*a23 - a22*a13)) / det / s3 AS b3
        |FROM t)
        |SELECT 'a0' AS term, round(my - b1*m1 - b2*m2 - b3*m3, 4) + 0 AS value FROM u
        |UNION ALL SELECT 'l_discount', round(b2, 4) + 0 FROM u
        |UNION ALL SELECT 'l_quantity', round(b1, 4) + 0 FROM u
        |UNION ALL SELECT 'l_tax', round(b3, 4) + 0 FROM u
        |ORDER BY term""".stripMargin,

    "q_gauss_ridge3" ->
      """WITH s AS (SELECT
        |  sqrt(var_pop(l_quantity)) s1, sqrt(var_pop(l_discount)) s2,
        |  sqrt(var_pop(l_tax)) s3,
        |  covar_pop(l_quantity, l_discount) c12, covar_pop(l_quantity, l_tax) c13,
        |  covar_pop(l_discount, l_tax) c23,
        |  covar_pop(l_quantity, l_extendedprice) e1,
        |  covar_pop(l_discount, l_extendedprice) e2,
        |  covar_pop(l_tax, l_extendedprice) e3,
        |  avg(l_quantity) m1, avg(l_discount) m2, avg(l_tax) m3,
        |  avg(l_extendedprice) my
        |FROM lineitem),
        |g AS (SELECT m1, m2, m3, my, s1, s2, s3,
        |  1 + 0.5 AS a11, c12/(s1*s2) AS a12, c13/(s1*s3) AS a13,
        |  1 + 0.5 AS a22, c23/(s2*s3) AS a23, 1 + 0.5 AS a33,
        |  e1/s1 AS d1, e2/s2 AS d2, e3/s3 AS d3 FROM s),
        |t AS (SELECT *,
        |  a11*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13)
        |    + a13*(a12*a23 - a22*a13) AS det FROM g),
        |u AS (SELECT m1, m2, m3, my,
        |  (d1*(a22*a33 - a23*a23) - a12*(d2*a33 - a23*d3)
        |    + a13*(d2*a23 - a22*d3)) / det / s1 AS b1,
        |  (a11*(d2*a33 - d3*a23) - d1*(a12*a33 - a23*a13)
        |    + a13*(a12*d3 - d2*a13)) / det / s2 AS b2,
        |  (a11*(a22*d3 - d2*a23) - a12*(a12*d3 - d2*a13)
        |    + d1*(a12*a23 - a22*a13)) / det / s3 AS b3
        |FROM t)
        |SELECT 'a0' AS term, round(my - b1*m1 - b2*m2 - b3*m3, 4) + 0 AS value FROM u
        |UNION ALL SELECT 'l_discount', round(b2, 4) + 0 FROM u
        |UNION ALL SELECT 'l_quantity', round(b1, 4) + 0 FROM u
        |UNION ALL SELECT 'l_tax', round(b3, 4) + 0 FROM u
        |ORDER BY term""".stripMargin,

    "q_gauss_noint" ->
      """WITH s AS (SELECT sum(l_quantity * l_extendedprice)
        |                    / sum(l_quantity * l_quantity) AS b FROM lineitem)
        |SELECT 'a0' AS term, round(0.0, 4) + 0 AS value FROM s
        |UNION ALL SELECT 'l_quantity', round(b, 4) + 0 FROM s
        |ORDER BY term""".stripMargin,

    "q_lambda_path" ->
      """WITH s AS (SELECT greatest(
        |    abs(covar_pop(l_quantity, l_extendedprice) / sqrt(var_pop(l_quantity))),
        |    abs(covar_pop(l_discount, l_extendedprice) / sqrt(var_pop(l_discount))),
        |    abs(covar_pop(l_tax, l_extendedprice) / sqrt(var_pop(l_tax)))) lmax
        |  FROM lineitem)
        |SELECT cast(g.i AS INTEGER) AS idx,
        |       round(ln(lmax) + (ln(lmax * 0.0001) - ln(lmax)) * g.i / 19.0, 4) AS lambda
        |FROM s, generate_series(0, 19) AS g(i) ORDER BY idx""".stripMargin,

    "q_gauss_nulldev" ->
      """SELECT round(ln(count(*) * var_pop(l_extendedprice)), 4) AS nulldev
        |FROM lineitem""".stripMargin,

    "q_devratio" ->
      """SELECT round(pow(corr(l_quantity, l_extendedprice), 2), 6) AS dev_ratio
        |FROM lineitem""".stripMargin,

    "q_standardize" ->
      """WITH s AS (SELECT avg(l_quantity) m1, sqrt(var_pop(l_quantity)) s1,
        |  avg(l_discount) m2, sqrt(var_pop(l_discount)) s2,
        |  avg(l_tax) m3, sqrt(var_pop(l_tax)) s3 FROM lineitem)
        |SELECT 'l_discount' AS term, round(m2, 6) AS mean, round(s2, 6) AS sd FROM s
        |UNION ALL SELECT 'l_quantity', round(m1, 6), round(s1, 6) FROM s
        |UNION ALL SELECT 'l_tax', round(m3, 6), round(s3, 6) FROM s
        |ORDER BY term""".stripMargin,

    "q_predict_link" ->
      """WITH m AS (SELECT regr_intercept(l_extendedprice, l_quantity) i,
        |                  regr_slope(l_extendedprice, l_quantity) b FROM lineitem)
        |SELECT l_orderkey, l_linenumber, round(i + b * l_quantity, 2) AS pred
        |FROM lineitem, m WHERE l_orderkey <= 10
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // interpolation between path points: coefficients at s=4 are the
    // frac-weighted blend of the closed-form ridge fits at lambda 8 and
    // 2, frac = (s - l_right) / (l_left - l_right)
    "q_predict_interp" ->
      """WITH s AS (SELECT avg(l_quantity) mx, avg(l_extendedprice) my,
        |                  covar_pop(l_quantity, l_extendedprice) cxy,
        |                  var_pop(l_quantity) vx FROM lineitem),
        |t AS (SELECT mx, my, cxy / (vx * (1 + 8.0)) AS b8,
        |             cxy / (vx * (1 + 2.0)) AS b2 FROM s),
        |c AS (SELECT ((4.0 - 2.0) / (8.0 - 2.0)) * (my - b8 * mx)
        |          + (1 - ((4.0 - 2.0) / (8.0 - 2.0))) * (my - b2 * mx) AS ia0,
        |        ((4.0 - 2.0) / (8.0 - 2.0)) * b8
        |          + (1 - ((4.0 - 2.0) / (8.0 - 2.0))) * b2 AS ib FROM t)
        |SELECT l_orderkey, l_linenumber, round(ia0 + ib * l_quantity, 2) AS pred
        |FROM lineitem, c WHERE l_orderkey <= 10
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // sparse rows are the dense column with zeros (odd line numbers
    // carry no entries) — dense-equivalence is what makes the sparse
    // fit/predict path exactly verifiable
    "q_predict_sparse" ->
      """WITH r AS (SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_linenumber % 2 = 1 THEN 0.0
        |       ELSE l_quantity::DOUBLE END AS x,
        |  l_extendedprice AS y FROM lineitem),
        |s AS (SELECT avg(x) mx, avg(y) my, covar_pop(x, y) cxy,
        |             var_pop(x) vx FROM r),
        |t AS (SELECT mx, my, cxy / (vx * (1 + 2.0)) AS b FROM s)
        |SELECT l_orderkey, l_linenumber, round((my - b * mx) + b * x, 2) AS pred
        |FROM r, t WHERE l_orderkey <= 10
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_refit_exact" ->
      """WITH s AS (SELECT avg(l_quantity) mx, avg(l_extendedprice) my,
        |                  covar_pop(l_quantity, l_extendedprice) cxy,
        |                  var_pop(l_quantity) vx FROM lineitem),
        |g AS (SELECT cast(i AS INT) AS lambda_idx, lam::DOUBLE AS lam
        |      FROM (VALUES (0, 8.0), (1, 4.0), (2, 2.0)) AS t(i, lam)),
        |t AS (SELECT lambda_idx, lam, mx, my,
        |        cxy / (vx * (1 + lam)) AS b FROM s, g)
        |SELECT lambda_idx, round(lam, 4) AS lambda,
        |       round(my - b * mx, 4) + 0 AS a0, round(b, 6) + 0 AS b
        |FROM t ORDER BY lambda_idx""".stripMargin,

    "q_score_interp" ->
      """WITH s AS (SELECT avg(l_quantity) mx, avg(l_extendedprice) my,
        |                  covar_pop(l_quantity, l_extendedprice) cxy,
        |                  var_pop(l_quantity) vx FROM lineitem),
        |t AS (SELECT mx, my, cxy / (vx * (1 + 8.0)) AS b8,
        |             cxy / (vx * (1 + 2.0)) AS b2 FROM s),
        |c AS (SELECT ((4.0 - 2.0) / (8.0 - 2.0)) * (my - b8 * mx)
        |          + (1 - ((4.0 - 2.0) / (8.0 - 2.0))) * (my - b2 * mx) AS ia0,
        |        ((4.0 - 2.0) / (8.0 - 2.0)) * b8
        |          + (1 - ((4.0 - 2.0) / (8.0 - 2.0))) * b2 AS ib FROM t)
        |SELECT round(ln(avg(pow(l_extendedprice - (ia0 + ib * l_quantity), 2))), 4) AS mse
        |FROM lineitem, c""".stripMargin,

    // mgaussian score: lambda=0 fit == per-response OLS (regr_*), score =
    // avg over rows of the error summed across both responses
    "q_score_mgauss" ->
      """WITH m AS (SELECT
        |    regr_intercept(l_extendedprice, l_quantity) i1,
        |    regr_slope(l_extendedprice, l_quantity) b1,
        |    regr_intercept(l_tax, l_quantity) i2,
        |    regr_slope(l_tax, l_quantity) b2 FROM lineitem),
        |e AS (SELECT
        |    avg(pow(l_extendedprice - (i1 + b1 * l_quantity), 2)
        |      + pow(l_tax - (i2 + b2 * l_quantity), 2)) AS mse,
        |    avg(abs(l_extendedprice - (i1 + b1 * l_quantity))
        |      + abs(l_tax - (i2 + b2 * l_quantity))) AS mae
        |  FROM lineitem, m)
        |SELECT 'mse' AS measure, round(ln(mse), 4) + 0 AS ln_score FROM e
        |UNION ALL SELECT 'mae', round(ln(mae), 4) + 0 FROM e
        |ORDER BY measure""".stripMargin,

    "q_score_mse" ->
      """WITH m AS (SELECT regr_intercept(l_extendedprice, l_quantity) i,
        |                  regr_slope(l_extendedprice, l_quantity) b FROM lineitem)
        |SELECT round(ln(avg(pow(l_extendedprice - (i + b * l_quantity), 2))), 4) AS mse
        |FROM lineitem, m""".stripMargin,

    "q_poisson_nulldev" ->
      """WITH s AS (SELECT avg(l_quantity) yb FROM lineitem)
        |SELECT round(ln(2 * sum(CASE WHEN l_quantity > 0
        |    THEN l_quantity * ln(l_quantity / yb) ELSE 0 END
        |  - (l_quantity - yb))), 4) AS nulldev
        |FROM lineitem, s""".stripMargin,

    "q_score_mae" ->
      """WITH m AS (SELECT regr_intercept(l_extendedprice, l_quantity) i,
        |                  regr_slope(l_extendedprice, l_quantity) b FROM lineitem)
        |SELECT round(ln(avg(abs(l_extendedprice - (i + b * l_quantity)))), 4) AS mae
        |FROM lineitem, m""".stripMargin,

    "q_score_auc" ->
      """WITH r AS (SELECT l_quantity s,
        |    CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END y FROM lineitem),
        |k AS (SELECT y, rank() OVER (ORDER BY s)
        |        + (count(*) OVER (PARTITION BY s) - 1) / 2.0 AS avgr FROM r),
        |a AS (SELECT sum(CASE WHEN y = 1 THEN avgr END) rpos,
        |             sum(CASE WHEN y = 1 THEN 1.0 ELSE 0.0 END) np,
        |             sum(CASE WHEN y = 0 THEN 1.0 ELSE 0.0 END) nn FROM k)
        |SELECT round((rpos - np * (np + 1) / 2) / (np * nn), 6) AS auc FROM a""".stripMargin,

    "q_binom_nulldev" ->
      """WITH s AS (SELECT avg(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) p,
        |                  count(*) n FROM lineitem)
        |SELECT round(-2 * n * (p * ln(p) + (1 - p) * ln(1 - p)), 4) AS nulldev
        |FROM s""".stripMargin,

    "q_mgauss_fit" ->
      """WITH s AS (SELECT var_pop(l_quantity) vq, var_pop(l_discount) vd,
        |  covar_pop(l_quantity, l_discount) cqd,
        |  covar_pop(l_quantity, l_extendedprice) c1q,
        |  covar_pop(l_discount, l_extendedprice) c1d,
        |  covar_pop(l_quantity, l_tax) c2q, covar_pop(l_discount, l_tax) c2d,
        |  avg(l_quantity) mq, avg(l_discount) md,
        |  avg(l_extendedprice) m1, avg(l_tax) m2 FROM lineitem),
        |t AS (SELECT *, vq * vd - cqd * cqd AS det FROM s),
        |u AS (SELECT 'l_extendedprice' AS response, m1 AS my,
        |        (c1q*vd - cqd*c1d)/det AS b1, (vq*c1d - cqd*c1q)/det AS b2, mq, md FROM t
        |  UNION ALL SELECT 'l_tax', m2,
        |        (c2q*vd - cqd*c2d)/det, (vq*c2d - cqd*c2q)/det, mq, md FROM t)
        |SELECT response, 'a0' AS term, round(my - b1*mq - b2*md, 4) + 0 AS value FROM u
        |UNION ALL SELECT response, 'l_discount', round(b2, 4) + 0 FROM u
        |UNION ALL SELECT response, 'l_quantity', round(b1, 4) + 0 FROM u
        |ORDER BY response, term""".stripMargin,

    // the q_mgauss_fit Cramer closed form with each response mean
    // shifted by its constant offset (identity link: the offset fit
    // IS the OLS of y - off; slopes unchanged, intercepts -c_t)
    "q_mgauss_offset" ->
      """WITH s AS (SELECT var_pop(l_quantity) vq, var_pop(l_discount) vd,
        |  covar_pop(l_quantity, l_discount) cqd,
        |  covar_pop(l_quantity, l_extendedprice) c1q,
        |  covar_pop(l_discount, l_extendedprice) c1d,
        |  covar_pop(l_quantity, l_tax) c2q, covar_pop(l_discount, l_tax) c2d,
        |  avg(l_quantity) mq, avg(l_discount) md,
        |  avg(l_extendedprice) - 100.0 AS m1, avg(l_tax) - 0.05 AS m2 FROM lineitem),
        |t AS (SELECT *, vq * vd - cqd * cqd AS det FROM s),
        |u AS (SELECT 'l_extendedprice' AS response, m1 AS my,
        |        (c1q*vd - cqd*c1d)/det AS b1, (vq*c1d - cqd*c1q)/det AS b2, mq, md FROM t
        |  UNION ALL SELECT 'l_tax', m2,
        |        (c2q*vd - cqd*c2d)/det, (vq*c2d - cqd*c2q)/det, mq, md FROM t)
        |SELECT response, 'a0' AS term, round(my - b1*mq - b2*md, 4) + 0 AS value FROM u
        |UNION ALL SELECT response, 'l_discount', round(b2, 4) + 0 FROM u
        |UNION ALL SELECT response, 'l_quantity', round(b1, 4) + 0 FROM u
        |ORDER BY response, term""".stripMargin,

    // alpha = 0 decouples the boxed group prox into the exact clipped
    // ridge step per response (see PathQueries.mgaussLimits): the CD
    // fixed point at p = 1 is u_t = clip(b_std/(gjj + lam), ±20·sd),
    // back-transformed beta = u/sd, a0 = my − beta·mx
    "q_mgauss_limits" ->
      """WITH s AS (SELECT avg(l_quantity) mx, var_pop(l_quantity) vx,
        |    avg(l_extendedprice) m1, covar_pop(l_quantity, l_extendedprice) c1,
        |    avg(l_tax) m2, covar_pop(l_quantity, l_tax) c2 FROM lineitem),
        |l AS (SELECT * FROM (VALUES (0, 256.0::DOUBLE), (1, 16.0::DOUBLE),
        |        (2, 1.0::DOUBLE), (3, 0.0::DOUBLE)) AS t(lambda_idx, lam)),
        |u AS (
        |  SELECT lambda_idx, lam, 'l_extendedprice' AS response, m1 AS my,
        |         c1 AS c, mx, vx FROM l, s
        |  UNION ALL
        |  SELECT lambda_idx, lam, 'l_tax', m2, c2, mx, vx FROM l, s),
        |v AS (SELECT lambda_idx, response, my, mx,
        |  least(greatest((c / sqrt(vx)) / (vx / (sqrt(vx) * sqrt(vx)) + lam),
        |                 -20.0::DOUBLE * sqrt(vx)), 20.0::DOUBLE * sqrt(vx))
        |    / sqrt(vx) AS beta FROM u)
        |SELECT lambda_idx::INTEGER AS lambda_idx, response, 'a0' AS term,
        |  round(my - beta * mx, 4) + 0 AS value FROM v
        |UNION ALL SELECT lambda_idx::INTEGER, response, 'l_quantity',
        |  round(beta, 4) + 0 FROM v
        |ORDER BY lambda_idx, response, term""".stripMargin,

    "q_predict_response" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(1 / (1 + exp(-(-1.2 + l_quantity * 0.045))), 6) AS prob
        |FROM lineitem WHERE l_orderkey <= 10
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // predict with newoffset (round 16): the q_predict_response fixed
    // model with a varying 2*l_tax offset added to the linear
    // predictor before the sigmoid / 0.5 class cut
    "q_predict_offset" ->
      """WITH e AS (SELECT l_orderkey, l_linenumber,
        |  -1.2 + l_quantity * 0.045 + l_tax * 2.0::DOUBLE AS eta
        |FROM lineitem WHERE l_orderkey <= 10)
        |SELECT l_orderkey, l_linenumber, round(eta, 6) AS eta,
        |  round(1 / (1 + exp(-eta)), 6) AS prob,
        |  CASE WHEN 1 / (1 + exp(-eta)) > 0.5 THEN '1' ELSE '0' END AS pred
        |FROM e ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_predict_class" ->
      """WITH e AS (SELECT l_orderkey, l_linenumber,
        |  0.1 + l_quantity * 0.02 + l_discount * 1.5 AS ea,
        |  -0.05 + l_quantity * -0.01 + l_discount * 2.0 AS en,
        |  0.0 + l_quantity * 0.005 + l_discount * -3.0 AS er
        |FROM lineitem WHERE l_orderkey <= 20)
        |SELECT l_orderkey, l_linenumber,
        |  CASE WHEN er >= en AND er >= ea THEN 'R'
        |       WHEN en >= ea THEN 'N' ELSE 'A' END AS pred
        |FROM e ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_score_class" ->
      """SELECT round(avg(CASE WHEN
        |  (CASE WHEN 1 / (1 + exp(-(-1.2 + l_quantity * 0.045))) > 0.5
        |        THEN '1' ELSE '0' END)
        |  != (CASE WHEN l_returnflag = 'R' THEN '1' ELSE '0' END)
        |  THEN 1.0 ELSE 0.0 END), 6) AS class_error
        |FROM lineitem""".stripMargin,

    "q_nonzero" ->
      s"""WITH s AS (SELECT abs(covar_pop(l_quantity, l_extendedprice)
        |    / sqrt(var_pop(l_quantity))) AS bmax FROM lineitem),
        |l AS (SELECT * FROM $fixedPathValues)
        |SELECT cast(l.lambda_idx AS INTEGER) AS lambda_idx, 'l_quantity' AS term
        |FROM l, s WHERE l.lam < s.bmax ORDER BY lambda_idx""".stripMargin,

    "q_df_path" ->
      s"""WITH s AS (SELECT abs(covar_pop(l_quantity, l_extendedprice)
        |    / sqrt(var_pop(l_quantity))) AS bmax FROM lineitem),
        |l AS (SELECT * FROM $fixedPathValues)
        |SELECT cast(l.lambda_idx AS INTEGER) AS lambda_idx,
        |       CASE WHEN l.lam < s.bmax THEN 1 ELSE 0 END AS df
        |FROM l, s ORDER BY lambda_idx""".stripMargin,

    // dfmax truncation (round 16): the 1-feature lasso activates iff
    // lambda < bmax, so with dfmax = 0 the returned path is exactly
    // the lambda > bmax prefix of the grid (first active point
    // dropped, path stopped)
    "q_dfmax" ->
      """WITH s AS (SELECT abs(covar_pop(l_quantity, l_extendedprice)
        |    / sqrt(var_pop(l_quantity))) AS bmax FROM lineitem),
        |g AS (SELECT * FROM (VALUES (0, 2.0::DOUBLE), (1, 1.5::DOUBLE),
        |        (2, 1.01::DOUBLE), (3, 0.99::DOUBLE), (4, 0.5::DOUBLE),
        |        (5, 0.1::DOUBLE)) t(i, m))
        |SELECT cast(i AS INTEGER) AS lambda_idx,
        |       round(m * bmax, 4) AS lambda, 0 AS df
        |FROM g, s WHERE m > 1.0 ORDER BY lambda_idx""".stripMargin,

    "q_path_summary" ->
      s"""WITH s AS (SELECT covar_pop(l_quantity, l_extendedprice)
        |    / sqrt(var_pop(l_quantity)) AS b,
        |    var_pop(l_extendedprice) AS vy FROM lineitem),
        |l AS (SELECT * FROM $fixedPathValues),
        |c AS (SELECT lambda_idx, lam,
        |        sign(b) * greatest(abs(b) - lam, 0) AS beta, b, vy FROM l, s)
        |SELECT cast(lambda_idx AS INTEGER) AS lambda_idx,
        |       CASE WHEN beta != 0 THEN 1 ELSE 0 END AS df,
        |       round((2 * beta * b - beta * beta) / vy, 6) + 0 AS dev_ratio,
        |       round(lam, 4) AS lambda
        |FROM c ORDER BY lambda_idx""".stripMargin,

    "q_plot_path_data" ->
      s"""WITH s AS (SELECT covar_pop(l_quantity, l_extendedprice)
        |    / sqrt(var_pop(l_quantity)) AS b, sqrt(var_pop(l_quantity)) AS sd,
        |    avg(l_quantity) AS mx, avg(l_extendedprice) AS my FROM lineitem),
        |l AS (SELECT * FROM $fixedPathValues),
        |c AS (SELECT lambda_idx,
        |        sign(b) * greatest(abs(b) - lam, 0) / sd AS bo, mx, my FROM l, s)
        |SELECT cast(lambda_idx AS INTEGER) AS lambda_idx, '(Intercept)' AS term,
        |       round(my - bo * mx, 4) + 0 AS value FROM c
        |UNION ALL SELECT cast(lambda_idx AS INTEGER), 'l_quantity', round(bo, 4) + 0 FROM c
        |ORDER BY lambda_idx, term""".stripMargin,

    "q_deviance" ->
      """SELECT round(ln((1 - pow(corr(l_quantity, l_extendedprice), 2))
        |  * count(*) * var_pop(l_extendedprice)), 4) AS deviance
        |FROM lineitem""".stripMargin,

    "q_cv_exact_curve" ->
      s"""$cvExactCte
        |SELECT lambda_idx, round(ln(lam), 4) AS ln_lambda,
        |       round(ln(cvm), 6) AS ln_cvm, round(ln(cvsd), 6) AS ln_cvsd
        |FROM curve ORDER BY lambda_idx""".stripMargin,

    // relaxed CV surface (round 16): the q_cv_exact_curve fold algebra
    // with a gamma blend — b_pen is the soft threshold, b_ols the plain
    // covariance ratio on the active set (zero when the threshold
    // zeroed b_pen), b(g) = g*b_pen + (1-g)*b_ols, a0 = my - b*mx, and
    // the held-out MSE is the same moment form
    "q_cv_relaxed" ->
      """WITH r AS (
        |  SELECT l_quantity AS x, l_extendedprice AS y,
        |    (((l_orderkey * 100 + l_linenumber) % 2147483648) * 2654435761)
        |      % 4294967296 % 5 AS f
        |  FROM lineitem),
        |tot AS (SELECT count(*)::double n, sum(x) sx, sum(y) sy, sum(x*x) sxx,
        |               sum(x*y) sxy, sum(y*y) syy FROM r),
        |pf AS (SELECT f, count(*)::double n, sum(x) sx, sum(y) sy, sum(x*x) sxx,
        |              sum(x*y) sxy, sum(y*y) syy FROM r GROUP BY f),
        |lmx AS (SELECT abs(covar_pop(l_quantity, l_extendedprice)
        |          / sqrt(var_pop(l_quantity))) AS lmax FROM lineitem),
        |lgrid AS (SELECT cast(g.i AS INT) AS lambda_idx,
        |                 lmax * pow(0.01, g.i / 9.0) AS lam
        |          FROM lmx, generate_series(0, 9) AS g(i)),
        |ggrid AS (SELECT * FROM (VALUES (0.0::DOUBLE), (0.5::DOUBLE),
        |                                (1.0::DOUBLE)) AS t(gamma)),
        |tr AS (SELECT pf.f, tot.n - pf.n AS n, tot.sx - pf.sx AS sx,
        |              tot.sy - pf.sy AS sy, tot.sxx - pf.sxx AS sxx,
        |              tot.sxy - pf.sxy AS sxy, tot.syy - pf.syy AS syy
        |       FROM pf, tot),
        |fitm AS (SELECT tr.f, lgrid.lambda_idx, lgrid.lam,
        |           sx/n AS mx, sy/n AS my,
        |           sqrt(sxx/n - (sx/n)*(sx/n)) AS sd,
        |           (sxy/n - (sx/n)*(sy/n)) AS cxy
        |         FROM tr, lgrid),
        |co AS (SELECT f, lambda_idx, lam, mx, my,
        |         sign(cxy/sd) * greatest(abs(cxy/sd) - lam, 0) / sd AS bp,
        |         CASE WHEN abs(cxy/sd) > lam THEN (cxy/sd)/sd
        |              ELSE 0.0 END AS bo
        |       FROM fitm),
        |bl AS (SELECT gamma, f, lambda_idx, lam, mx, my,
        |         gamma * bp + (1.0 - gamma) * bo AS b
        |       FROM co, ggrid),
        |sc AS (SELECT gamma, bl.f, lambda_idx, lam, my - b*mx AS a0, b,
        |         pf.n AS nf, pf.sx AS fx, pf.sy AS fy, pf.sxx AS fxx,
        |         pf.sxy AS fxy, pf.syy AS fyy
        |       FROM bl JOIN pf ON bl.f = pf.f),
        |msef AS (SELECT gamma, lambda_idx, lam, f,
        |           fyy/nf - 2*a0*fy/nf + a0*a0 + b*b*fxx/nf
        |             + 2*a0*b*fx/nf - 2*b*fxy/nf AS m
        |         FROM sc),
        |curve AS (SELECT gamma, lambda_idx, avg(m) AS cvm,
        |                 stddev_samp(m) / sqrt(5) AS cvsd
        |          FROM msef GROUP BY gamma, lambda_idx)
        |SELECT round(gamma, 2) + 0 AS gamma, lambda_idx,
        |       round(ln(cvm), 6) AS ln_cvm, round(ln(cvsd), 6) AS ln_cvsd
        |FROM curve ORDER BY gamma, lambda_idx""".stripMargin,
    // the q_cv_relaxed oracle BYTE-IDENTICALLY through the sparse
    // moment chassis (same data/folds/grid/gammas)
    "q_cv_relaxed_sparse" ->
      """WITH r AS (
        |  SELECT l_quantity AS x, l_extendedprice AS y,
        |    (((l_orderkey * 100 + l_linenumber) % 2147483648) * 2654435761)
        |      % 4294967296 % 5 AS f
        |  FROM lineitem),
        |tot AS (SELECT count(*)::double n, sum(x) sx, sum(y) sy, sum(x*x) sxx,
        |               sum(x*y) sxy, sum(y*y) syy FROM r),
        |pf AS (SELECT f, count(*)::double n, sum(x) sx, sum(y) sy, sum(x*x) sxx,
        |              sum(x*y) sxy, sum(y*y) syy FROM r GROUP BY f),
        |lmx AS (SELECT abs(covar_pop(l_quantity, l_extendedprice)
        |          / sqrt(var_pop(l_quantity))) AS lmax FROM lineitem),
        |lgrid AS (SELECT cast(g.i AS INT) AS lambda_idx,
        |                 lmax * pow(0.01, g.i / 9.0) AS lam
        |          FROM lmx, generate_series(0, 9) AS g(i)),
        |ggrid AS (SELECT * FROM (VALUES (0.0::DOUBLE), (0.5::DOUBLE),
        |                                (1.0::DOUBLE)) AS t(gamma)),
        |tr AS (SELECT pf.f, tot.n - pf.n AS n, tot.sx - pf.sx AS sx,
        |              tot.sy - pf.sy AS sy, tot.sxx - pf.sxx AS sxx,
        |              tot.sxy - pf.sxy AS sxy, tot.syy - pf.syy AS syy
        |       FROM pf, tot),
        |fitm AS (SELECT tr.f, lgrid.lambda_idx, lgrid.lam,
        |           sx/n AS mx, sy/n AS my,
        |           sqrt(sxx/n - (sx/n)*(sx/n)) AS sd,
        |           (sxy/n - (sx/n)*(sy/n)) AS cxy
        |         FROM tr, lgrid),
        |co AS (SELECT f, lambda_idx, lam, mx, my,
        |         sign(cxy/sd) * greatest(abs(cxy/sd) - lam, 0) / sd AS bp,
        |         CASE WHEN abs(cxy/sd) > lam THEN (cxy/sd)/sd
        |              ELSE 0.0 END AS bo
        |       FROM fitm),
        |bl AS (SELECT gamma, f, lambda_idx, lam, mx, my,
        |         gamma * bp + (1.0 - gamma) * bo AS b
        |       FROM co, ggrid),
        |sc AS (SELECT gamma, bl.f, lambda_idx, lam, my - b*mx AS a0, b,
        |         pf.n AS nf, pf.sx AS fx, pf.sy AS fy, pf.sxx AS fxx,
        |         pf.sxy AS fxy, pf.syy AS fyy
        |       FROM bl JOIN pf ON bl.f = pf.f),
        |msef AS (SELECT gamma, lambda_idx, lam, f,
        |           fyy/nf - 2*a0*fy/nf + a0*a0 + b*b*fxx/nf
        |             + 2*a0*b*fx/nf - 2*b*fxy/nf AS m
        |         FROM sc),
        |curve AS (SELECT gamma, lambda_idx, avg(m) AS cvm,
        |                 stddev_samp(m) / sqrt(5) AS cvsd
        |          FROM msef GROUP BY gamma, lambda_idx)
        |SELECT round(gamma, 2) + 0 AS gamma, lambda_idx,
        |       round(ln(cvm), 6) AS ln_cvm, round(ln(cvsd), 6) AS ln_cvsd
        |FROM curve ORDER BY gamma, lambda_idx""".stripMargin,

    // box-constrained CV (cv.glmnet lower/upper.limits): per fold the
    // 1-feature bounded lasso is the closed-form clipped soft threshold
    // clip(S(c_std, lam)/sd, 0, 4) — the same CTE chain as q_cv_exact_*
    // with the clip applied to the coefficient
    "q_cv_limits" ->
      """WITH r AS (
        |  SELECT l_quantity AS x, l_extendedprice AS y,
        |    (((l_orderkey * 100 + l_linenumber) % 2147483648) * 2654435761)
        |      % 4294967296 % 5 AS f
        |  FROM lineitem),
        |tot AS (SELECT count(*)::double n, sum(x) sx, sum(y) sy, sum(x*x) sxx,
        |               sum(x*y) sxy, sum(y*y) syy FROM r),
        |pf AS (SELECT f, count(*)::double n, sum(x) sx, sum(y) sy, sum(x*x) sxx,
        |              sum(x*y) sxy, sum(y*y) syy FROM r GROUP BY f),
        |lgrid AS (SELECT cast(lambda_idx AS INT) AS lambda_idx, lam::DOUBLE AS lam
        |          FROM (VALUES (0, 64.0), (1, 16.0), (2, 4.0), (3, 1.0),
        |                       (4, 0.25)) AS t(lambda_idx, lam)),
        |tr AS (SELECT pf.f, tot.n - pf.n AS n, tot.sx - pf.sx AS sx,
        |              tot.sy - pf.sy AS sy, tot.sxx - pf.sxx AS sxx,
        |              tot.sxy - pf.sxy AS sxy
        |       FROM pf, tot),
        |fitm AS (SELECT tr.f, lgrid.lambda_idx, lgrid.lam,
        |           sx/n AS mx, sy/n AS my,
        |           sqrt(sxx/n - (sx/n)*(sx/n)) AS sd,
        |           (sxy/n - (sx/n)*(sy/n)) AS cxy
        |         FROM tr, lgrid),
        |co AS (SELECT f, lambda_idx, lam, mx, my,
        |         least(greatest(
        |           sign(cxy/sd) * greatest(abs(cxy/sd) - lam, 0) / sd,
        |           0.0), 4.0) AS b
        |       FROM fitm),
        |sc AS (SELECT co.f, lambda_idx, lam, my - b*mx AS a0, b,
        |         pf.n AS nf, pf.sx AS fx, pf.sy AS fy, pf.sxx AS fxx,
        |         pf.sxy AS fxy, pf.syy AS fyy
        |       FROM co JOIN pf ON co.f = pf.f),
        |msef AS (SELECT lambda_idx, lam, f,
        |           fyy/nf - 2*a0*fy/nf + a0*a0 + b*b*fxx/nf
        |             + 2*a0*b*fx/nf - 2*b*fxy/nf AS m
        |         FROM sc),
        |curve AS (SELECT lambda_idx, lam, avg(m) AS cvm,
        |                 stddev_samp(m) / sqrt(5) AS cvsd
        |          FROM msef GROUP BY 1, 2)
        |SELECT lambda_idx, round(lam, 4) AS lambda,
        |       round(ln(cvm), 6) AS ln_cvm, round(ln(cvsd), 6) AS ln_cvsd
        |FROM curve ORDER BY lambda_idx""".stripMargin,

    // weighted CV (cv.glmnet weights): per-fold weighted-moment ridge
    // closed form on TRAIN rows, v-weighted held-out mse row-aggregated
    // exactly as the engine scores it
    "q_cv_weighted" ->
      """WITH r AS (
        |  SELECT l_quantity AS x, l_extendedprice AS y,
        |    l_linenumber::DOUBLE AS w,
        |    (((l_orderkey * 100 + l_linenumber) % 2147483648) * 2654435761)
        |      % 4294967296 % 5 AS f
        |  FROM lineitem),
        |lgrid AS (SELECT cast(lambda_idx AS INT) AS lambda_idx, lam::DOUBLE AS lam
        |          FROM (VALUES (0, 256.0), (1, 16.0), (2, 1.0)) AS t(lambda_idx, lam)),
        |tr AS (SELECT k.f, sum(r.w) AS sw, sum(r.w * r.x) AS swx,
        |         sum(r.w * r.y) AS swy, sum(r.w * r.x * r.x) AS swxx,
        |         sum(r.w * r.x * r.y) AS swxy
        |       FROM (SELECT DISTINCT f FROM r) k(f)
        |       JOIN r ON r.f <> k.f GROUP BY k.f),
        |fitm AS (SELECT tr.f, lgrid.lambda_idx, lgrid.lam,
        |           swx/sw AS mx, swy/sw AS my,
        |           swxy/sw - (swx/sw) * (swy/sw) AS cxy,
        |           swxx/sw - (swx/sw) * (swx/sw) AS vx
        |         FROM tr, lgrid),
        |co AS (SELECT f, lambda_idx, lam, mx, my,
        |         cxy / (vx * (1.0 + lam)) AS b FROM fitm),
        |sc AS (SELECT co.lambda_idx, co.lam, co.f,
        |         sum(r.w * (r.y - (co.my - co.b * co.mx) - co.b * r.x)
        |             * (r.y - (co.my - co.b * co.mx) - co.b * r.x))
        |           / sum(r.w) AS m
        |       FROM co JOIN r ON r.f = co.f GROUP BY 1, 2, 3),
        |curve AS (SELECT lambda_idx, lam, avg(m) AS cvm,
        |                 stddev_samp(m) / sqrt(5) AS cvsd
        |          FROM sc GROUP BY 1, 2)
        |SELECT lambda_idx, round(lam, 4) AS lambda,
        |       round(ln(cvm), 4) AS ln_cvm, round(ln(cvsd), 4) AS ln_cvsd
        |FROM curve ORDER BY lambda_idx""".stripMargin,

    // sparse-input gaussian CV: per-fold unweighted ridge closed form
    // on subtracted moments + the moment-form held-out mse (the
    // q_cv_alpha msef discipline at alpha = 0) — the ENGINE side goes
    // through the one-pass SPARSE-moment route
    "q_cv_sparse" ->
      """WITH r AS (
        |  SELECT l_quantity AS x, l_extendedprice AS y,
        |    (((l_orderkey * 100 + l_linenumber) % 2147483648) * 2654435761)
        |      % 4294967296 % 5 AS f
        |  FROM lineitem),
        |tot AS (SELECT count(*)::double n, sum(x) sx, sum(y) sy, sum(x*x) sxx,
        |               sum(x*y) sxy, sum(y*y) syy FROM r),
        |pf AS (SELECT f, count(*)::double n, sum(x) sx, sum(y) sy, sum(x*x) sxx,
        |              sum(x*y) sxy, sum(y*y) syy FROM r GROUP BY f),
        |lgrid AS (SELECT cast(lambda_idx AS INT) AS lambda_idx, lam::DOUBLE AS lam
        |          FROM (VALUES (0, 256.0), (1, 16.0), (2, 1.0)) AS t(lambda_idx, lam)),
        |tr AS (SELECT pf.f, tot.n - pf.n AS n, tot.sx - pf.sx AS sx,
        |              tot.sy - pf.sy AS sy, tot.sxx - pf.sxx AS sxx,
        |              tot.sxy - pf.sxy AS sxy
        |       FROM pf, tot),
        |fitm AS (SELECT tr.f, lgrid.lambda_idx, lgrid.lam,
        |           sx/n AS mx, sy/n AS my,
        |           sqrt(sxx/n - (sx/n)*(sx/n)) AS sd,
        |           (sxy/n - (sx/n)*(sy/n)) AS cxy
        |         FROM tr, lgrid),
        |co AS (SELECT f, lambda_idx, lam, mx, my,
        |         (cxy/sd) / (1.0 + lam) / sd AS b FROM fitm),
        |sc AS (SELECT co.f, lambda_idx, lam, my - b*mx AS a0, b,
        |         pf.n AS nf, pf.sx AS fx, pf.sy AS fy, pf.sxx AS fxx,
        |         pf.sxy AS fxy, pf.syy AS fyy
        |       FROM co JOIN pf ON co.f = pf.f),
        |msef AS (SELECT lambda_idx, lam, f,
        |           fyy/nf - 2*a0*fy/nf + a0*a0 + b*b*fxx/nf
        |             + 2*a0*b*fx/nf - 2*b*fxy/nf AS m
        |         FROM sc),
        |curve AS (SELECT lambda_idx, lam, avg(m) AS cvm,
        |                 stddev_samp(m) / sqrt(5) AS cvsd
        |          FROM msef GROUP BY 1, 2)
        |SELECT lambda_idx, round(lam, 4) AS lambda,
        |       round(ln(cvm), 4) AS ln_cvm, round(ln(cvsd), 4) AS ln_cvsd
        |FROM curve ORDER BY lambda_idx""".stripMargin,

    // weighted mgaussian CV: q_cv_weighted's per-fold weighted-moment
    // ridge closed form PER RESPONSE (alpha = 0 decouples the group
    // penalty), held-out v-weighted mse summed across the two
    // responses (score.sgdnet_mgaussian), row-aggregated scoring
    "q_cv_weighted_mgauss" ->
      """WITH r AS (
        |  SELECT l_quantity AS x, l_extendedprice AS y1, l_tax AS y2,
        |    l_linenumber::DOUBLE AS w,
        |    (((l_orderkey * 100 + l_linenumber) % 2147483648) * 2654435761)
        |      % 4294967296 % 5 AS f
        |  FROM lineitem),
        |lgrid AS (SELECT cast(lambda_idx AS INT) AS lambda_idx, lam::DOUBLE AS lam
        |          FROM (VALUES (0, 256.0), (1, 16.0), (2, 1.0)) AS t(lambda_idx, lam)),
        |tr AS (SELECT k.f, sum(r.w) AS sw, sum(r.w * r.x) AS swx,
        |         sum(r.w * r.y1) AS swy1, sum(r.w * r.y2) AS swy2,
        |         sum(r.w * r.x * r.x) AS swxx,
        |         sum(r.w * r.x * r.y1) AS swxy1,
        |         sum(r.w * r.x * r.y2) AS swxy2
        |       FROM (SELECT DISTINCT f FROM r) k(f)
        |       JOIN r ON r.f <> k.f GROUP BY k.f),
        |fitm AS (SELECT tr.f, lgrid.lambda_idx, lgrid.lam,
        |           swx/sw AS mx, swy1/sw AS my1, swy2/sw AS my2,
        |           swxy1/sw - (swx/sw) * (swy1/sw) AS c1,
        |           swxy2/sw - (swx/sw) * (swy2/sw) AS c2,
        |           swxx/sw - (swx/sw) * (swx/sw) AS vx
        |         FROM tr, lgrid),
        |co AS (SELECT f, lambda_idx, lam, mx, my1, my2,
        |         c1 / (vx * (1.0 + lam)) AS b1,
        |         c2 / (vx * (1.0 + lam)) AS b2 FROM fitm),
        |sc AS (SELECT co.lambda_idx, co.lam, co.f,
        |         sum(r.w * (
        |             (r.y1 - (co.my1 - co.b1 * co.mx) - co.b1 * r.x)
        |           * (r.y1 - (co.my1 - co.b1 * co.mx) - co.b1 * r.x)
        |           + (r.y2 - (co.my2 - co.b2 * co.mx) - co.b2 * r.x)
        |           * (r.y2 - (co.my2 - co.b2 * co.mx) - co.b2 * r.x)))
        |           / sum(r.w) AS m
        |       FROM co JOIN r ON r.f = co.f GROUP BY 1, 2, 3),
        |curve AS (SELECT lambda_idx, lam, avg(m) AS cvm,
        |                 stddev_samp(m) / sqrt(5) AS cvsd
        |          FROM sc GROUP BY 1, 2)
        |SELECT lambda_idx, round(lam, 4) AS lambda,
        |       round(ln(cvm), 4) AS ln_cvm, round(ln(cvsd), 4) AS ln_cvsd
        |FROM curve ORDER BY lambda_idx""".stripMargin,

    // weighted CV over auc (cv.glmnet weights + the rank measure): the
    // q_cv_auc closed form with WEIGHTED train moments for the KKT
    // activity check, and the v-weighted continuous-mass rank statistic
    // (cells of mass Σv; per-cell midrank cum_below + cnt/2; correction
    // P²/2) — all mass sums are integer/half-integer doubles, exact on
    // both engines
    "q_cv_weighted_auc" ->
      """WITH r AS (
        |  SELECT l_quantity AS x,
        |    CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y,
        |    l_linenumber::DOUBLE AS v,
        |    (((l_orderkey * 100 + l_linenumber) % 2147483648) * 2654435761)
        |      % 4294967296 % 5 AS f
        |  FROM lineitem),
        |lgrid AS (SELECT lambda_idx, lam::DOUBLE AS lam
        |          FROM (VALUES (0, 0.01), (1, 0.003), (2, 0.001),
        |          (3, 0.0005), (4, 0.0002), (5, 0.00005)) AS t(lambda_idx, lam)),
        |tot AS (SELECT sum(v) w, sum(v*x) sx, sum(v*y) sy,
        |               sum(v*x*x) sxx, sum(v*x*y) sxy FROM r),
        |pf AS (SELECT f, sum(v) w, sum(v*x) sx, sum(v*y) sy,
        |              sum(v*x*x) sxx, sum(v*x*y) sxy FROM r GROUP BY f),
        |g AS (SELECT pf.f,
        |        ((tot.sxy-pf.sxy)/(tot.w-pf.w)
        |          - ((tot.sx-pf.sx)/(tot.w-pf.w))*((tot.sy-pf.sy)/(tot.w-pf.w)))
        |        / sqrt((tot.sxx-pf.sxx)/(tot.w-pf.w)
        |          - ((tot.sx-pf.sx)/(tot.w-pf.w))*((tot.sx-pf.sx)/(tot.w-pf.w)))
        |        AS grad
        |      FROM pf, tot),
        |cells AS (SELECT f, x, sum(v) AS cnt, sum(v*y) AS pos
        |          FROM r GROUP BY f, x),
        |k AS (SELECT f, pos,
        |        sum(cnt) OVER (PARTITION BY f ORDER BY x) - cnt/2.0 AS mida,
        |        sum(cnt) OVER (PARTITION BY f ORDER BY x DESC) - cnt/2.0 AS midd
        |      FROM cells),
        |a AS (SELECT f, sum(pos * mida) rpa, sum(pos * midd) rpd,
        |             sum(pos) np
        |      FROM k GROUP BY f),
        |tots AS (SELECT f, sum(cnt) AS mass FROM cells GROUP BY f),
        |aucf AS (SELECT a.f, (rpa - np*np/2) / (np*(mass-np)) AS auc_a,
        |                (rpd - np*np/2) / (np*(mass-np)) AS auc_d
        |         FROM a JOIN tots ON a.f = tots.f),
        |fl AS (SELECT lgrid.lambda_idx, lgrid.lam, g.f,
        |         CASE WHEN abs(g.grad) <= lgrid.lam THEN 0.5
        |              WHEN g.grad > 0 THEN aucf.auc_a
        |              ELSE aucf.auc_d END AS m
        |       FROM lgrid, g JOIN aucf ON g.f = aucf.f),
        |curve AS (SELECT lambda_idx, lam,
        |            list_aggregate(list(m ORDER BY f), 'sum') AS sm,
        |            list(m ORDER BY f) AS la
        |          FROM fl GROUP BY lambda_idx, lam)
        |SELECT lambda_idx, round(lam, 6) AS lambda,
        |       round(sm/5, 6) + 0 AS cvm,
        |       round(sqrt(list_aggregate(list_transform(la,
        |           x -> (x - sm/5)*(x - sm/5)), 'sum') / 4.0 / 5.0), 6) + 0 AS cvsd
        |FROM curve ORDER BY lambda_idx""".stripMargin,

    // alpha-grid CV: the 1-feature elastic net at ANY alpha is the
    // closed form S(c, lam*alpha) / (1 + lam*(1-alpha)) on standardized
    // subtracted fold moments — cvExactCte generalized with an alpha
    // cross join
    "q_cv_alpha" ->
      """WITH r AS (
        |  SELECT l_quantity AS x, l_extendedprice AS y,
        |    (((l_orderkey * 100 + l_linenumber) % 2147483648) * 2654435761)
        |      % 4294967296 % 5 AS f
        |  FROM lineitem),
        |tot AS (SELECT count(*)::double n, sum(x) sx, sum(y) sy, sum(x*x) sxx,
        |               sum(x*y) sxy, sum(y*y) syy FROM r),
        |pf AS (SELECT f, count(*)::double n, sum(x) sx, sum(y) sy, sum(x*x) sxx,
        |              sum(x*y) sxy, sum(y*y) syy FROM r GROUP BY f),
        |lgrid AS (SELECT cast(lambda_idx AS INT) AS lambda_idx, lam::DOUBLE AS lam
        |          FROM (VALUES (0, 256.0), (1, 64.0), (2, 16.0), (3, 4.0),
        |                       (4, 1.0), (5, 0.25)) AS t(lambda_idx, lam)),
        |ag AS (SELECT unnest([1.0, 0.5, 0.0]) AS alpha),
        |tr AS (SELECT pf.f, tot.n - pf.n AS n, tot.sx - pf.sx AS sx,
        |              tot.sy - pf.sy AS sy, tot.sxx - pf.sxx AS sxx,
        |              tot.sxy - pf.sxy AS sxy, tot.syy - pf.syy AS syy
        |       FROM pf, tot),
        |fitm AS (SELECT tr.f, ag.alpha, lgrid.lambda_idx, lgrid.lam,
        |           sx/n AS mx, sy/n AS my,
        |           sqrt(sxx/n - (sx/n)*(sx/n)) AS sd,
        |           (sxy/n - (sx/n)*(sy/n)) AS cxy
        |         FROM tr, lgrid, ag),
        |co AS (SELECT f, alpha, lambda_idx, lam, mx, my,
        |         sign(cxy/sd) * greatest(abs(cxy/sd) - lam * alpha, 0)
        |           / (1.0 + lam * (1.0 - alpha)) / sd AS b
        |       FROM fitm),
        |sc AS (SELECT co.f, alpha, lambda_idx, lam, my - b*mx AS a0, b,
        |         pf.n AS nf, pf.sx AS fx, pf.sy AS fy, pf.sxx AS fxx,
        |         pf.sxy AS fxy, pf.syy AS fyy
        |       FROM co JOIN pf ON co.f = pf.f),
        |msef AS (SELECT alpha, lambda_idx, lam, f,
        |           fyy/nf - 2*a0*fy/nf + a0*a0 + b*b*fxx/nf
        |             + 2*a0*b*fx/nf - 2*b*fxy/nf AS m
        |         FROM sc),
        |curve AS (SELECT alpha, lambda_idx, lam, avg(m) AS cvm,
        |                 stddev_samp(m) / sqrt(5) AS cvsd
        |          FROM msef GROUP BY 1, 2, 3)
        |SELECT round(alpha, 2) + 0.0 AS alpha,
        |       cast(lambda_idx AS INT) AS lambda_idx, round(lam, 4) AS lambda,
        |       round(ln(cvm), 6) AS ln_cvm, round(ln(cvsd), 6) AS ln_cvsd
        |FROM curve ORDER BY alpha, lambda_idx""".stripMargin,

    // AUC of a 1-feature logistic model depends only on the
    // coefficient's activity (KKT at the null: |cov(x_std,y)| <= lam on
    // train moments) and sign — closed form — so the CV-auc curve is
    // exact. Fold sums use ORDER BY f lists so both engines add the 5
    // fold scores in the same order (bit-stable rounding).
    "q_cv_auc" ->
      """WITH r AS (
        |  SELECT l_quantity AS x,
        |    CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y,
        |    (((l_orderkey * 100 + l_linenumber) % 2147483648) * 2654435761)
        |      % 4294967296 % 5 AS f
        |  FROM lineitem),
        |lgrid AS (SELECT lambda_idx, lam::DOUBLE AS lam
        |          FROM (VALUES (0, 0.01), (1, 0.003), (2, 0.001),
        |          (3, 0.0005), (4, 0.0002), (5, 0.00005)) AS t(lambda_idx, lam)),
        |tot AS (SELECT count(*)::double n, sum(x) sx, sum(y) sy,
        |               sum(x*x) sxx, sum(x*y) sxy FROM r),
        |pf AS (SELECT f, count(*)::double n, sum(x) sx, sum(y) sy,
        |              sum(x*x) sxx, sum(x*y) sxy FROM r GROUP BY f),
        |g AS (SELECT pf.f,
        |        ((tot.sxy-pf.sxy)/(tot.n-pf.n)
        |          - ((tot.sx-pf.sx)/(tot.n-pf.n))*((tot.sy-pf.sy)/(tot.n-pf.n)))
        |        / sqrt((tot.sxx-pf.sxx)/(tot.n-pf.n)
        |          - ((tot.sx-pf.sx)/(tot.n-pf.n))*((tot.sx-pf.sx)/(tot.n-pf.n)))
        |        AS grad
        |      FROM pf, tot),
        |k AS (SELECT f, y,
        |        rank() OVER (PARTITION BY f ORDER BY x)
        |          + (count(*) OVER (PARTITION BY f, x) - 1) / 2.0 AS ra,
        |        rank() OVER (PARTITION BY f ORDER BY x DESC)
        |          + (count(*) OVER (PARTITION BY f, x) - 1) / 2.0 AS rd
        |      FROM r),
        |a AS (SELECT f, sum(CASE WHEN y = 1 THEN ra END) rpa,
        |             sum(CASE WHEN y = 1 THEN rd END) rpd,
        |             sum(CASE WHEN y = 1 THEN 1.0 ELSE 0.0 END) np,
        |             sum(CASE WHEN y = 0 THEN 1.0 ELSE 0.0 END) nn
        |      FROM k GROUP BY f),
        |aucf AS (SELECT f, (rpa - np*(np+1)/2) / (np*nn) AS auc_a,
        |                (rpd - np*(np+1)/2) / (np*nn) AS auc_d FROM a),
        |fl AS (SELECT lgrid.lambda_idx, lgrid.lam, g.f,
        |         CASE WHEN abs(g.grad) <= lgrid.lam THEN 0.5
        |              WHEN g.grad > 0 THEN aucf.auc_a
        |              ELSE aucf.auc_d END AS m
        |       FROM lgrid, g JOIN aucf ON g.f = aucf.f),
        |curve AS (SELECT lambda_idx, lam,
        |            list_aggregate(list(m ORDER BY f), 'sum') AS sm,
        |            list(m ORDER BY f) AS la
        |          FROM fl GROUP BY lambda_idx, lam)
        |SELECT lambda_idx, round(lam, 6) AS lambda,
        |       round(sm/5, 6) + 0 AS cvm,
        |       round(sqrt(list_aggregate(list_transform(la,
        |           x -> (x - sm/5)*(x - sm/5)), 'sum') / 4.0 / 5.0), 6) + 0 AS cvsd
        |FROM curve ORDER BY lambda_idx""".stripMargin,

    // per-fold coefficients are the closed-form soft threshold of train
    // moments (same CTE chain as q_cv_exact_*); held-out MAE is a plain
    // row aggregation, ln-encoded like the other fit oracles.
    "q_cv_mae" ->
      """WITH r AS (
        |  SELECT l_quantity AS x, l_extendedprice AS y,
        |    (((l_orderkey * 100 + l_linenumber) % 2147483648) * 2654435761)
        |      % 4294967296 % 5 AS f
        |  FROM lineitem),
        |tot AS (SELECT count(*)::double n, sum(x) sx, sum(y) sy, sum(x*x) sxx,
        |               sum(x*y) sxy FROM r),
        |pf AS (SELECT f, count(*)::double n, sum(x) sx, sum(y) sy, sum(x*x) sxx,
        |              sum(x*y) sxy FROM r GROUP BY f),
        |lmx AS (SELECT abs(covar_pop(l_quantity, l_extendedprice)
        |          / sqrt(var_pop(l_quantity))) AS lmax FROM lineitem),
        |lgrid AS (SELECT cast(g.i AS INT) AS lambda_idx,
        |                 lmax * pow(0.01, g.i / 9.0) AS lam
        |          FROM lmx, generate_series(0, 9) AS g(i)),
        |tr AS (SELECT pf.f, tot.n - pf.n AS n, tot.sx - pf.sx AS sx,
        |              tot.sy - pf.sy AS sy, tot.sxx - pf.sxx AS sxx,
        |              tot.sxy - pf.sxy AS sxy
        |       FROM pf, tot),
        |fitm AS (SELECT tr.f, lgrid.lambda_idx, lgrid.lam,
        |           sx/n AS mx, sy/n AS my,
        |           sqrt(sxx/n - (sx/n)*(sx/n)) AS sd,
        |           (sxy/n - (sx/n)*(sy/n)) AS cxy
        |         FROM tr, lgrid),
        |co AS (SELECT f, lambda_idx, lam, mx, my,
        |         sign(cxy/sd) * greatest(abs(cxy/sd) - lam, 0) / sd AS b
        |       FROM fitm),
        |sc AS (SELECT f, lambda_idx, lam, my - b*mx AS a0, b FROM co),
        |mf AS (SELECT sc.lambda_idx, sc.lam, sc.f,
        |         avg(abs(r.y - sc.a0 - sc.b * r.x)) AS m
        |       FROM r JOIN sc ON r.f = sc.f GROUP BY 1, 2, 3),
        |curve AS (SELECT lambda_idx, lam, avg(m) AS cvm,
        |                 stddev_samp(m) / sqrt(5) AS cvsd
        |          FROM mf GROUP BY lambda_idx, lam)
        |SELECT lambda_idx, round(ln(lam), 4) AS ln_lambda,
        |       round(ln(cvm), 4) AS ln_cvm, round(ln(cvsd), 4) AS ln_cvsd
        |FROM curve ORDER BY lambda_idx""".stripMargin,

    "q_cv_exact_pick" ->
      s"""$cvExactCte,
        |sel AS (SELECT lam, cvm, cvsd FROM curve
        |        ORDER BY cvm, lambda_idx LIMIT 1),
        |one AS (SELECT max(c.lam) AS l1se FROM curve c, sel
        |        WHERE c.cvm <= sel.cvm + sel.cvsd)
        |SELECT round(ln(sel.lam), 4) AS ln_lambda_min,
        |       round(ln(one.l1se), 4) AS ln_lambda_1se
        |FROM sel, one""".stripMargin,

    "q_cv_exact_predict" ->
      s"""$cvExactCte,
        |sel AS (SELECT lam FROM curve ORDER BY cvm, lambda_idx LIMIT 1),
        |fm AS (SELECT avg(l_quantity) mx, avg(l_extendedprice) my,
        |              covar_pop(l_quantity, l_extendedprice) cxy,
        |              sqrt(var_pop(l_quantity)) sd FROM lineitem),
        |cf AS (SELECT sign(cxy/sd) * greatest(abs(cxy/sd) - sel.lam, 0) / sd AS b,
        |              mx, my FROM fm, sel)
        |SELECT l_orderkey, l_linenumber,
        |       round(my - b * mx + b * l_quantity, 2) AS pred
        |FROM lineitem, cf WHERE l_orderkey <= 5
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_binom_null_fit" ->
      """WITH s AS (SELECT avg(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) p
        |           FROM lineitem)
        |SELECT 'a0' AS term, round(ln(p / (1 - p)), 6) + 0 AS value FROM s
        |UNION ALL SELECT 'l_quantity', round(0.0, 6) + 0 FROM s
        |ORDER BY term""".stripMargin,

    "q_poisson_null_fit" ->
      """WITH s AS (SELECT avg(l_quantity) yb FROM lineitem)
        |SELECT 'a0' AS term, round(ln(yb), 6) + 0 AS value FROM s
        |UNION ALL SELECT 'l_discount', round(0.0, 6) + 0 FROM s
        |ORDER BY term""".stripMargin,

    // one IRLS step from the null point: constant weights w = p(1-p),
    // so the penalized WLS step is the closed-form soft threshold
    "q_binom_fit" ->
      """WITH s AS (SELECT avg(l_quantity) mx, sqrt(var_pop(l_quantity)) sd,
        |  avg(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) p,
        |  covar_pop(l_quantity, CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) cxy
        |FROM lineitem),
        |t AS (SELECT mx, p,
        |  sign(cxy/sd) * greatest(abs(cxy/sd) - 0.0002, 0) / (p * (1 - p)) / sd AS b
        |FROM s)
        |SELECT 'a0' AS term, round(ln(p / (1 - p)) - b * mx, 6) + 0 AS value FROM t
        |UNION ALL SELECT 'l_quantity', round(b, 6) + 0 FROM t
        |ORDER BY term""".stripMargin,

    // relaxed binomial CV (round 16): each fold's penalized fit is the
    // q_binom_fit one-WLS-step closed form on fold-subtracted moments
    // (constant null weights), each fold's refit is ONE unpenalized
    // WLS step from that point over the TRAIN rows, and held-out
    // deviance scores the gamma in {0,1} blends
    "q_cv_relaxed_binom" ->
      """WITH r AS MATERIALIZED (
        |  SELECT l_quantity AS x,
        |    CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y,
        |    (((l_orderkey * 100 + l_linenumber) % 2147483648) * 2654435761)
        |      % 4294967296 % 5 AS f
        |  FROM lineitem),
        |tot AS (SELECT count(*)::double n, sum(x) sx, sum(y) sy,
        |          sum(x*x) sxx, sum(x*y) sxy FROM r),
        |pf AS (SELECT f, count(*)::double n, sum(x) sx, sum(y) sy,
        |         sum(x*x) sxx, sum(x*y) sxy FROM r GROUP BY f),
        |tr AS (SELECT pf.f, tot.n - pf.n AS n, tot.sx - pf.sx AS sx,
        |         tot.sy - pf.sy AS sy, tot.sxx - pf.sxx AS sxx,
        |         tot.sxy - pf.sxy AS sxy FROM pf, tot),
        |mo AS (SELECT f, n, sx/n AS mx, sy/n AS p,
        |         sqrt(sxx/n - (sx/n)*(sx/n)) AS sd,
        |         sxy/n - (sx/n)*(sy/n) AS cxy FROM tr),
        |pen2 AS MATERIALIZED (SELECT f, ln(p/(1-p)) - b*mx AS a0, b FROM
        |  (SELECT f, mx, p,
        |     sign(cxy/sd) * greatest(abs(cxy/sd) - 0.0002, 0)
        |       / (p*(1-p)) / sd AS b
        |   FROM mo) t),
        |tww AS (SELECT mf, x, y, eta, mu,
        |          greatest(mu*(1.0-mu), 0.00001::DOUBLE) AS w FROM
        |  (SELECT m.f AS mf, r.x, r.y, m.a0 + m.b * r.x AS eta,
        |     1.0/(1.0 + exp(-(m.a0 + m.b * r.x))) AS mu
        |   FROM r JOIN pen2 m ON r.f <> m.f) t),
        |ag AS (SELECT mf, sum(w) sw, sum(w*(eta + (y-mu)/w)) swz,
        |         sum(w*x) swx, sum(w*x*(eta + (y-mu)/w)) swxz,
        |         sum(w*x*x) swxx FROM tww GROUP BY mf),
        |ols AS (SELECT mf AS f,
        |          (swz*swxx - swx*swxz)/(sw*swxx - swx*swx) AS a0,
        |          (sw*swxz - swx*swz)/(sw*swxx - swx*swx) AS b FROM ag),
        |mdl AS (SELECT g.gamma, p2.f,
        |          g.gamma*p2.a0 + (1-g.gamma)*o.a0 AS a0,
        |          g.gamma*p2.b + (1-g.gamma)*o.b AS b
        |        FROM pen2 p2 JOIN ols o ON p2.f = o.f,
        |             (VALUES (0.0::DOUBLE), (1.0::DOUBLE)) g(gamma)),
        |sc AS (SELECT m.gamma, r.f,
        |         least(greatest(1.0/(1.0+exp(-(m.a0 + m.b*r.x))),
        |           0.00001::DOUBLE), 0.99999::DOUBLE) AS mu, r.y
        |       FROM r JOIN mdl m ON r.f = m.f),
        |fd AS (SELECT gamma, f,
        |         avg(-2*(y*ln(mu) + (1-y)*ln(1-mu))) AS d
        |       FROM sc GROUP BY gamma, f),
        |cv AS (SELECT gamma, avg(d) AS cvm,
        |         stddev_samp(d)/sqrt(5) AS cvsd FROM fd GROUP BY gamma)
        |SELECT round(gamma, 2) + 0 AS gamma, 0 AS lambda_idx,
        |  round(ln(cvm), 6) AS ln_cvm, round(ln(cvsd), 6) AS ln_cvsd
        |FROM cv ORDER BY gamma""".stripMargin,

    // relaxed binomial (round 16): lambda=1.0 zeroes the one-step soft
    // threshold so penalized == refit == null (a0 = logit(p)); at
    // lambda=2e-4 the penalized point is the q_binom_fit closed form
    // and the refit is ONE unpenalized WLS step from it (per-row
    // w = max(mu(1-mu), 1e-5), z = eta + (y-mu)/w, 2x2 Cramer solve);
    // blend = 0.25*pen + 0.75*ols
    "q_relaxed_binom" ->
      """WITH s AS (SELECT avg(l_quantity) mx, sqrt(var_pop(l_quantity)) sd,
        |  avg(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) p,
        |  covar_pop(l_quantity, CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) cxy
        |FROM lineitem),
        |cf AS (SELECT mx, p,
        |  sign(cxy/sd) * greatest(abs(cxy/sd) - 0.0002, 0) / (p * (1 - p)) / sd AS b
        |FROM s),
        |cf2 AS (SELECT ln(p / (1 - p)) - b * mx AS a0, b, p FROM cf),
        |rr AS (SELECT l_quantity AS x,
        |         CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y,
        |         cf2.a0 + cf2.b * l_quantity AS eta,
        |         1.0/(1.0 + exp(-(cf2.a0 + cf2.b * l_quantity))) AS mu
        |       FROM lineitem, cf2),
        |ww AS (SELECT x, y, eta, mu,
        |         greatest(mu * (1.0 - mu), 0.00001::DOUBLE) AS w FROM rr),
        |ag AS (SELECT sum(w) sw, sum(w * (eta + (y - mu)/w)) swz,
        |         sum(w * x) swx, sum(w * x * (eta + (y - mu)/w)) swxz,
        |         sum(w * x * x) swxx FROM ww),
        |wls AS (SELECT (swz * swxx - swx * swxz) / (sw * swxx - swx * swx) AS a0o,
        |          (sw * swxz - swx * swz) / (sw * swxx - swx * swx) AS bo
        |        FROM ag)
        |SELECT 0 AS lambda_idx, 'a0' AS term,
        |  round(ln(p/(1-p)), 6) + 0 AS pen, round(ln(p/(1-p)), 6) + 0 AS ols,
        |  round(ln(p/(1-p)), 6) + 0 AS blend FROM s
        |UNION ALL SELECT 0, 'l_quantity', 0.0, 0.0, 0.0 FROM s
        |UNION ALL SELECT 1, 'a0', round(cf2.a0, 6) + 0, round(wls.a0o, 6) + 0,
        |  round(0.25 * cf2.a0 + 0.75 * wls.a0o, 6) + 0 FROM cf2, wls
        |UNION ALL SELECT 1, 'l_quantity', round(cf2.b, 6) + 0,
        |  round(wls.bo, 6) + 0, round(0.25 * cf2.b + 0.75 * wls.bo, 6) + 0
        |FROM cf2, wls
        |ORDER BY lambda_idx, term""".stripMargin,
    // weighted relaxed binomial (round 17 — glmnet relax + weights):
    // the q_relaxed_binom closed forms on v-WEIGHTED moments — the
    // penalized point soft-thresholds the v-weighted covariance over
    // constant null weights p_v(1-p_v); the refit is one unpenalized
    // WLS step with accumulation weight w*v (z uses the pure IRLS w);
    // lambda = 1 collapses to the v-weighted null
    "q_relaxed_binom_weighted" ->
      """WITH s AS (SELECT
        |  sum(l_linenumber * l_quantity) / sum(l_linenumber) AS mx,
        |  sqrt(sum(l_linenumber * l_quantity * l_quantity) / sum(l_linenumber)
        |    - pow(sum(l_linenumber * l_quantity) / sum(l_linenumber), 2)) AS sd,
        |  sum(l_linenumber * CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END)
        |    / sum(l_linenumber) AS p,
        |  sum(l_linenumber * l_quantity *
        |      CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END)
        |    / sum(l_linenumber)
        |  - (sum(l_linenumber * l_quantity) / sum(l_linenumber)) *
        |    (sum(l_linenumber * CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END)
        |      / sum(l_linenumber)) AS cxy
        |FROM lineitem),
        |cf AS (SELECT mx, p,
        |  sign(cxy/sd) * greatest(abs(cxy/sd) - 0.0002, 0) / (p * (1 - p)) / sd AS b
        |FROM s),
        |cf2 AS (SELECT ln(p / (1 - p)) - b * mx AS a0, b, p FROM cf),
        |rr AS (SELECT l_quantity AS x, l_linenumber::DOUBLE AS v,
        |         CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y,
        |         cf2.a0 + cf2.b * l_quantity AS eta,
        |         1.0/(1.0 + exp(-(cf2.a0 + cf2.b * l_quantity))) AS mu
        |       FROM lineitem, cf2),
        |ww AS (SELECT x, y, eta, mu, v,
        |         greatest(mu * (1.0 - mu), 0.00001::DOUBLE) AS w0 FROM rr),
        |ag AS (SELECT sum(w0*v) sw, sum(w0*v * (eta + (y - mu)/w0)) swz,
        |         sum(w0*v * x) swx, sum(w0*v * x * (eta + (y - mu)/w0)) swxz,
        |         sum(w0*v * x * x) swxx FROM ww),
        |wls AS (SELECT (swz * swxx - swx * swxz) / (sw * swxx - swx * swx) AS a0o,
        |          (sw * swxz - swx * swz) / (sw * swxx - swx * swx) AS bo
        |        FROM ag)
        |SELECT 0 AS lambda_idx, 'a0' AS term,
        |  round(ln(p/(1-p)), 6) + 0 AS pen, round(ln(p/(1-p)), 6) + 0 AS ols,
        |  round(ln(p/(1-p)), 6) + 0 AS blend FROM s
        |UNION ALL SELECT 0, 'l_quantity', 0.0, 0.0, 0.0 FROM s
        |UNION ALL SELECT 1, 'a0', round(cf2.a0, 6) + 0, round(wls.a0o, 6) + 0,
        |  round(0.25 * cf2.a0 + 0.75 * wls.a0o, 6) + 0 FROM cf2, wls
        |UNION ALL SELECT 1, 'l_quantity', round(cf2.b, 6) + 0,
        |  round(wls.bo, 6) + 0, round(0.25 * cf2.b + 0.75 * wls.bo, 6) + 0
        |FROM cf2, wls
        |ORDER BY lambda_idx, term""".stripMargin,
    // relaxed binomial with a CONSTANT offset c (round 17 — glmnet
    // relax + offset): the offset null is logit(p)-c exactly, the
    // penalized point is the plain one-step form with a0 shifted -c,
    // and the refit is one WLS step whose eta includes c while the
    // target excludes it; lambda = 1 collapses to the offset null
    "q_relaxed_binom_offset" ->
      """WITH s AS (SELECT avg(l_quantity) mx, sqrt(var_pop(l_quantity)) sd,
        |  avg(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) p,
        |  covar_pop(l_quantity, CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) cxy
        |FROM lineitem),
        |cf AS (SELECT mx, p,
        |  sign(cxy/sd) * greatest(abs(cxy/sd) - 0.0002, 0) / (p * (1 - p)) / sd AS b
        |FROM s),
        |cf2 AS (SELECT ln(p / (1 - p)) - b * mx - 0.7::DOUBLE AS a0, b, p FROM cf),
        |rr AS (SELECT l_quantity AS x,
        |         CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y,
        |         cf2.a0 + cf2.b * l_quantity + 0.7::DOUBLE AS eta,
        |         1.0/(1.0 + exp(-(cf2.a0 + cf2.b * l_quantity + 0.7::DOUBLE))) AS mu
        |       FROM lineitem, cf2),
        |ww AS (SELECT x, y, eta, mu,
        |         greatest(mu * (1.0 - mu), 0.00001::DOUBLE) AS w FROM rr),
        |ag AS (SELECT sum(w) sw,
        |         sum(w * (eta + (y - mu)/w - 0.7::DOUBLE)) swz,
        |         sum(w * x) swx,
        |         sum(w * x * (eta + (y - mu)/w - 0.7::DOUBLE)) swxz,
        |         sum(w * x * x) swxx FROM ww),
        |wls AS (SELECT (swz * swxx - swx * swxz) / (sw * swxx - swx * swx) AS a0o,
        |          (sw * swxz - swx * swz) / (sw * swxx - swx * swx) AS bo
        |        FROM ag)
        |SELECT 0 AS lambda_idx, 'a0' AS term,
        |  round(ln(p/(1-p)) - 0.7::DOUBLE, 6) + 0 AS pen,
        |  round(ln(p/(1-p)) - 0.7::DOUBLE, 6) + 0 AS ols,
        |  round(ln(p/(1-p)) - 0.7::DOUBLE, 6) + 0 AS blend FROM s
        |UNION ALL SELECT 0, 'l_quantity', 0.0, 0.0, 0.0 FROM s
        |UNION ALL SELECT 1, 'a0', round(cf2.a0, 6) + 0, round(wls.a0o, 6) + 0,
        |  round(0.25 * cf2.a0 + 0.75 * wls.a0o, 6) + 0 FROM cf2, wls
        |UNION ALL SELECT 1, 'l_quantity', round(cf2.b, 6) + 0,
        |  round(wls.bo, 6) + 0, round(0.25 * cf2.b + 0.75 * wls.bo, 6) + 0
        |FROM cf2, wls
        |ORDER BY lambda_idx, term""".stripMargin,
    // the q_relaxed_binom oracle BYTE-IDENTICALLY through the sparse
    // restricted-moment refit chassis (same data/grid/gamma)
    "q_relaxed_binom_sparse" ->
      """WITH s AS (SELECT avg(l_quantity) mx, sqrt(var_pop(l_quantity)) sd,
        |  avg(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) p,
        |  covar_pop(l_quantity, CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) cxy
        |FROM lineitem),
        |cf AS (SELECT mx, p,
        |  sign(cxy/sd) * greatest(abs(cxy/sd) - 0.0002, 0) / (p * (1 - p)) / sd AS b
        |FROM s),
        |cf2 AS (SELECT ln(p / (1 - p)) - b * mx AS a0, b, p FROM cf),
        |rr AS (SELECT l_quantity AS x,
        |         CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y,
        |         cf2.a0 + cf2.b * l_quantity AS eta,
        |         1.0/(1.0 + exp(-(cf2.a0 + cf2.b * l_quantity))) AS mu
        |       FROM lineitem, cf2),
        |ww AS (SELECT x, y, eta, mu,
        |         greatest(mu * (1.0 - mu), 0.00001::DOUBLE) AS w FROM rr),
        |ag AS (SELECT sum(w) sw, sum(w * (eta + (y - mu)/w)) swz,
        |         sum(w * x) swx, sum(w * x * (eta + (y - mu)/w)) swxz,
        |         sum(w * x * x) swxx FROM ww),
        |wls AS (SELECT (swz * swxx - swx * swxz) / (sw * swxx - swx * swx) AS a0o,
        |          (sw * swxz - swx * swz) / (sw * swxx - swx * swx) AS bo
        |        FROM ag)
        |SELECT 0 AS lambda_idx, 'a0' AS term,
        |  round(ln(p/(1-p)), 6) + 0 AS pen, round(ln(p/(1-p)), 6) + 0 AS ols,
        |  round(ln(p/(1-p)), 6) + 0 AS blend FROM s
        |UNION ALL SELECT 0, 'l_quantity', 0.0, 0.0, 0.0 FROM s
        |UNION ALL SELECT 1, 'a0', round(cf2.a0, 6) + 0, round(wls.a0o, 6) + 0,
        |  round(0.25 * cf2.a0 + 0.75 * wls.a0o, 6) + 0 FROM cf2, wls
        |UNION ALL SELECT 1, 'l_quantity', round(cf2.b, 6) + 0,
        |  round(wls.bo, 6) + 0, round(0.25 * cf2.b + 0.75 * wls.bo, 6) + 0
        |FROM cf2, wls
        |ORDER BY lambda_idx, term""".stripMargin,

    // the q_binom_fit closed form with the intercept shifted by the
    // constant offset −0.7 (the offset null is logit(p) − c exactly)
    "q_binom_offset_fit" ->
      """WITH s AS (SELECT avg(l_quantity) mx, sqrt(var_pop(l_quantity)) sd,
        |  avg(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) p,
        |  covar_pop(l_quantity, CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) cxy
        |FROM lineitem),
        |t AS (SELECT mx, p,
        |  sign(cxy/sd) * greatest(abs(cxy/sd) - 0.0002, 0) / (p * (1 - p)) / sd AS b
        |FROM s)
        |SELECT 'a0' AS term,
        |  round(ln(p / (1 - p)) - 0.7::DOUBLE - b * mx, 6) + 0 AS value FROM t
        |UNION ALL SELECT 'l_quantity', round(b, 6) + 0 FROM t
        |ORDER BY term""".stripMargin,

    // IPW ATE: the q_binom_fit closed-form propensity scored per row
    // (identical sigmoid tree), Hajek-normalized weighted means —
    // ratios of same-magnitude sums absorb float-order ulps at 6dp
    "q_ipw" ->
      """WITH s AS (SELECT avg(l_quantity) mx, sqrt(var_pop(l_quantity)) sd,
        |  avg(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) p,
        |  covar_pop(l_quantity, CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) cxy
        |FROM lineitem),
        |t2 AS (SELECT mx, p,
        |  sign(cxy/sd) * greatest(abs(cxy/sd) - 0.0002, 0) / (p * (1 - p)) / sd AS b
        |FROM s),
        |cf AS (SELECT ln(p / (1 - p)) - b * mx AS a0, b FROM t2),
        |r AS (SELECT CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS t,
        |    l_extendedprice AS y,
        |    1.0 / (1.0 + exp(-(cf.a0 + l_quantity * cf.b))) AS p
        |  FROM lineitem, cf)
        |SELECT CAST(sum(t) AS BIGINT) AS n_treated,
        |  CAST(sum(1.0 - t) AS BIGINT) AS n_control,
        |  round(sum(t * y / p) / sum(t / p), 6) AS mean_treated,
        |  round(sum((1.0 - t) * y / (1.0 - p))
        |    / sum((1.0 - t) / (1.0 - p)), 6) AS mean_control,
        |  round(sum(t * y / p) / sum(t / p)
        |    - sum((1.0 - t) * y / (1.0 - p))
        |      / sum((1.0 - t) / (1.0 - p)), 6) AS ate
        |FROM r""".stripMargin.trim,

    // one FISTA step from the null point: a0 = ln(prior), step =
    // 1/(0.5*(1+corr)+1e-9) (power iteration from [1,1] returns 1+corr
    // for the 2x2 standardized Gram), coef = soft-threshold of step*b
    "q_multinom_fit" ->
      """WITH s AS (SELECT avg(l_quantity) mx1, avg(l_discount) mx2,
        |  sqrt(var_pop(l_quantity)) sd1, sqrt(var_pop(l_discount)) sd2,
        |  covar_pop(l_quantity, l_discount)
        |    / (sqrt(var_pop(l_quantity)) * sqrt(var_pop(l_discount))) r
        |FROM lineitem),
        |g AS (SELECT f, avg(CASE WHEN l_returnflag = f THEN 1.0 ELSE 0.0 END) p,
        |  covar_pop(l_quantity, CASE WHEN l_returnflag = f THEN 1.0 ELSE 0.0 END) c1,
        |  covar_pop(l_discount, CASE WHEN l_returnflag = f THEN 1.0 ELSE 0.0 END) c2
        |FROM lineitem, (VALUES ('A'), ('N'), ('R')) t(f) GROUP BY f),
        |u AS (SELECT f, p, mx1, mx2,
        |  sign(c1/sd1) * greatest((1.0/(0.5*(1+r)+0.000000001)) * abs(c1/sd1)
        |    - (1.0/(0.5*(1+r)+0.000000001)) * 0.001, 0) / sd1 AS b1,
        |  sign(c2/sd2) * greatest((1.0/(0.5*(1+r)+0.000000001)) * abs(c2/sd2)
        |    - (1.0/(0.5*(1+r)+0.000000001)) * 0.001, 0) / sd2 AS b2
        |FROM g, s)
        |SELECT f AS class, 'a0' AS term,
        |       round(ln(p) - (b1 * mx1 + b2 * mx2), 6) + 0 AS value FROM u
        |UNION ALL SELECT f, 'l_quantity', round(b1, 6) + 0 FROM u
        |UNION ALL SELECT f, 'l_discount', round(b2, 6) + 0 FROM u
        |ORDER BY class, term""".stripMargin,

    // multinomial with a constant per-class offset (round 16): the
    // q_multinom_fit one-FISTA-step closed form with each class
    // intercept shifted by -c_t (the Newton offset-null start
    // ln(prior) - mean(off) is exact for constant offsets, so eta at
    // the null -- and hence the whole first step -- matches the plain
    // fit's trajectory)
    "q_multinom_offset" ->
      """WITH s AS (SELECT avg(l_quantity) mx1, avg(l_discount) mx2,
        |  sqrt(var_pop(l_quantity)) sd1, sqrt(var_pop(l_discount)) sd2,
        |  covar_pop(l_quantity, l_discount)
        |    / (sqrt(var_pop(l_quantity)) * sqrt(var_pop(l_discount))) r
        |FROM lineitem),
        |g AS (SELECT f, c, avg(CASE WHEN l_returnflag = f THEN 1.0 ELSE 0.0 END) p,
        |  covar_pop(l_quantity, CASE WHEN l_returnflag = f THEN 1.0 ELSE 0.0 END) c1,
        |  covar_pop(l_discount, CASE WHEN l_returnflag = f THEN 1.0 ELSE 0.0 END) c2
        |FROM lineitem, (VALUES ('A', 0.4), ('N', -0.2), ('R', 0.1)) t(f, c)
        |GROUP BY f, c),
        |u AS (SELECT f, c, p, mx1, mx2,
        |  sign(c1/sd1) * greatest((1.0/(0.5*(1+r)+0.000000001)) * abs(c1/sd1)
        |    - (1.0/(0.5*(1+r)+0.000000001)) * 0.001, 0) / sd1 AS b1,
        |  sign(c2/sd2) * greatest((1.0/(0.5*(1+r)+0.000000001)) * abs(c2/sd2)
        |    - (1.0/(0.5*(1+r)+0.000000001)) * 0.001, 0) / sd2 AS b2
        |FROM g, s)
        |SELECT f AS class, 'a0' AS term,
        |       round(ln(p) - c - (b1 * mx1 + b2 * mx2), 6) + 0 AS value FROM u
        |UNION ALL SELECT f, 'l_quantity', round(b1, 6) + 0 FROM u
        |UNION ALL SELECT f, 'l_discount', round(b2, 6) + 0 FROM u
        |ORDER BY class, term""".stripMargin,
    // the q_multinom_offset oracle BYTE-IDENTICALLY: the sparse
    // multinomial offset chassis runs the same data/offsets/lambda
    // (the q_binom_offset_sparse discipline)
    "q_multinom_offset_sparse" ->
      """WITH s AS (SELECT avg(l_quantity) mx1, avg(l_discount) mx2,
        |  sqrt(var_pop(l_quantity)) sd1, sqrt(var_pop(l_discount)) sd2,
        |  covar_pop(l_quantity, l_discount)
        |    / (sqrt(var_pop(l_quantity)) * sqrt(var_pop(l_discount))) r
        |FROM lineitem),
        |g AS (SELECT f, c, avg(CASE WHEN l_returnflag = f THEN 1.0 ELSE 0.0 END) p,
        |  covar_pop(l_quantity, CASE WHEN l_returnflag = f THEN 1.0 ELSE 0.0 END) c1,
        |  covar_pop(l_discount, CASE WHEN l_returnflag = f THEN 1.0 ELSE 0.0 END) c2
        |FROM lineitem, (VALUES ('A', 0.4), ('N', -0.2), ('R', 0.1)) t(f, c)
        |GROUP BY f, c),
        |u AS (SELECT f, c, p, mx1, mx2,
        |  sign(c1/sd1) * greatest((1.0/(0.5*(1+r)+0.000000001)) * abs(c1/sd1)
        |    - (1.0/(0.5*(1+r)+0.000000001)) * 0.001, 0) / sd1 AS b1,
        |  sign(c2/sd2) * greatest((1.0/(0.5*(1+r)+0.000000001)) * abs(c2/sd2)
        |    - (1.0/(0.5*(1+r)+0.000000001)) * 0.001, 0) / sd2 AS b2
        |FROM g, s)
        |SELECT f AS class, 'a0' AS term,
        |       round(ln(p) - c - (b1 * mx1 + b2 * mx2), 6) + 0 AS value FROM u
        |UNION ALL SELECT f, 'l_quantity', round(b1, 6) + 0 FROM u
        |UNION ALL SELECT f, 'l_discount', round(b2, 6) + 0 FROM u
        |ORDER BY class, term""".stripMargin,

    // weighted multinomial (glmnet weights, round 15): the
    // q_multinom_fit one-FISTA-step closed form with every moment
    // v-weighted (w = l_linenumber); step from the engine's power
    // iteration on the weighted standardized gram — starting from
    // (1,1) it returns 1 + r for a 2x2 correlation gram REGARDLESS of
    // r's sign (the weighted r here is slightly negative), matching
    // the q_multinom_fit oracle convention; a0 = ln(weighted prior)
    // on the standardized scale (gradA0 at the weighted null is 0)
    "q_weighted_multinom" ->
      """WITH b AS (SELECT l_quantity AS x1, l_discount AS x2,
        |  l_returnflag AS y, l_linenumber::DOUBLE AS w FROM lineitem),
        |m AS (SELECT sum(w) sw, sum(w*x1) s1, sum(w*x2) s2,
        |  sum(w*x1*x1) s11, sum(w*x2*x2) s22, sum(w*x1*x2) s12 FROM b),
        |s AS (SELECT sw, s1/sw mx1, s2/sw mx2,
        |  sqrt(s11/sw - (s1/sw)*(s1/sw)) sd1,
        |  sqrt(s22/sw - (s2/sw)*(s2/sw)) sd2,
        |  (s12/sw - (s1/sw)*(s2/sw))
        |    / (sqrt(s11/sw - (s1/sw)*(s1/sw))
        |       * sqrt(s22/sw - (s2/sw)*(s2/sw))) r
        |FROM m),
        |g AS (SELECT t.f,
        |  sum(b.w * CASE WHEN b.y = t.f THEN 1.0 ELSE 0.0 END) swy,
        |  sum(b.w * b.x1 * CASE WHEN b.y = t.f THEN 1.0 ELSE 0.0 END) swx1y,
        |  sum(b.w * b.x2 * CASE WHEN b.y = t.f THEN 1.0 ELSE 0.0 END) swx2y
        |FROM b, (VALUES ('A'), ('N'), ('R')) t(f) GROUP BY t.f),
        |u AS (SELECT g.f, g.swy/s.sw AS p, s.mx1, s.mx2,
        |  sign((g.swx1y/s.sw - s.mx1 * g.swy/s.sw)/s.sd1)
        |    * greatest((1.0/(0.5*(1+s.r)+0.000000001))
        |        * abs((g.swx1y/s.sw - s.mx1 * g.swy/s.sw)/s.sd1)
        |      - (1.0/(0.5*(1+s.r)+0.000000001)) * 0.001, 0) / s.sd1 AS b1,
        |  sign((g.swx2y/s.sw - s.mx2 * g.swy/s.sw)/s.sd2)
        |    * greatest((1.0/(0.5*(1+s.r)+0.000000001))
        |        * abs((g.swx2y/s.sw - s.mx2 * g.swy/s.sw)/s.sd2)
        |      - (1.0/(0.5*(1+s.r)+0.000000001)) * 0.001, 0) / s.sd2 AS b2
        |FROM g, s)
        |SELECT f AS class, 'a0' AS term,
        |       round(ln(p) - (b1 * mx1 + b2 * mx2), 6) + 0 AS value FROM u
        |UNION ALL SELECT f, 'l_quantity', round(b1, 6) + 0 FROM u
        |UNION ALL SELECT f, 'l_discount', round(b2, 6) + 0 FROM u
        |ORDER BY class, term""".stripMargin,

    // multinomial penalty.factor [0.5, 2.0]: the q_multinom_fit one-
    // FISTA-step closed form with the entrywise threshold scaled per
    // feature (step·lam·pf_j)
    "q_multinom_pf" ->
      """WITH s AS (SELECT avg(l_quantity) mx1, avg(l_discount) mx2,
        |  sqrt(var_pop(l_quantity)) sd1, sqrt(var_pop(l_discount)) sd2,
        |  covar_pop(l_quantity, l_discount)
        |    / (sqrt(var_pop(l_quantity)) * sqrt(var_pop(l_discount))) r
        |FROM lineitem),
        |g AS (SELECT f, avg(CASE WHEN l_returnflag = f THEN 1.0 ELSE 0.0 END) p,
        |  covar_pop(l_quantity, CASE WHEN l_returnflag = f THEN 1.0 ELSE 0.0 END) c1,
        |  covar_pop(l_discount, CASE WHEN l_returnflag = f THEN 1.0 ELSE 0.0 END) c2
        |FROM lineitem, (VALUES ('A'), ('N'), ('R')) t(f) GROUP BY f),
        |u AS (SELECT f, p, mx1, mx2,
        |  sign(c1/sd1) * greatest((1.0/(0.5*(1+r)+0.000000001)) * abs(c1/sd1)
        |    - (1.0/(0.5*(1+r)+0.000000001)) * 0.001 * 0.5, 0) / sd1 AS b1,
        |  sign(c2/sd2) * greatest((1.0/(0.5*(1+r)+0.000000001)) * abs(c2/sd2)
        |    - (1.0/(0.5*(1+r)+0.000000001)) * 0.001 * 2.0, 0) / sd2 AS b2
        |FROM g, s)
        |SELECT f AS class, 'a0' AS term,
        |       round(ln(p) - (b1 * mx1 + b2 * mx2), 6) + 0 AS value FROM u
        |UNION ALL SELECT f, 'l_quantity', round(b1, 6) + 0 FROM u
        |UNION ALL SELECT f, 'l_discount', round(b2, 6) + 0 FROM u
        |ORDER BY class, term""".stripMargin,

    // grouped prox: per feature, the class-vector v_t = step * (c_t/sd)
    // shrinks by (1 - step*lam/||v||_2)+ (alpha = 1 -> unit denominator);
    // everything else matches q_multinom_fit's one-step closed form
    "q_multinom_grouped" ->
      """WITH s AS (SELECT avg(l_quantity) mx1, avg(l_discount) mx2,
        |  sqrt(var_pop(l_quantity)) sd1, sqrt(var_pop(l_discount)) sd2,
        |  covar_pop(l_quantity, l_discount)
        |    / (sqrt(var_pop(l_quantity)) * sqrt(var_pop(l_discount))) r
        |FROM lineitem),
        |g AS (SELECT f, avg(CASE WHEN l_returnflag = f THEN 1.0 ELSE 0.0 END) p,
        |  covar_pop(l_quantity, CASE WHEN l_returnflag = f THEN 1.0 ELSE 0.0 END) c1,
        |  covar_pop(l_discount, CASE WHEN l_returnflag = f THEN 1.0 ELSE 0.0 END) c2
        |FROM lineitem, (VALUES ('A'), ('N'), ('R')) t(f) GROUP BY f),
        |stp AS (SELECT (1.0/(0.5*(1+r)+0.000000001)) AS step, s.* FROM s),
        |nm AS (SELECT max(step) AS step, max(mx1) AS mx1, max(mx2) AS mx2,
        |         max(sd1) AS sd1, max(sd2) AS sd2,
        |         sqrt(sum(pow(step * (c1/sd1), 2))) AS nrm1,
        |         sqrt(sum(pow(step * (c2/sd2), 2))) AS nrm2
        |       FROM g, stp),
        |shr AS (SELECT *,
        |  CASE WHEN nrm1 > step * 0.001 THEN 1.0 - (step * 0.001) / nrm1
        |       ELSE 0.0 END AS sh1,
        |  CASE WHEN nrm2 > step * 0.001 THEN 1.0 - (step * 0.001) / nrm2
        |       ELSE 0.0 END AS sh2
        |FROM nm),
        |u AS (SELECT f, p, shr.mx1, shr.mx2,
        |  (shr.step * (c1/shr.sd1)) * sh1 / shr.sd1 AS b1,
        |  (shr.step * (c2/shr.sd2)) * sh2 / shr.sd2 AS b2
        |FROM g, shr)
        |SELECT f AS class, 'a0' AS term,
        |       round(ln(p) - (b1 * mx1 + b2 * mx2), 6) + 0 AS value FROM u
        |UNION ALL SELECT f, 'l_quantity', round(b1, 6) + 0 FROM u
        |UNION ALL SELECT f, 'l_discount', round(b2, 6) + 0 FROM u
        |ORDER BY class, term""".stripMargin,

    // shared-pass multinomial CV, one FISTA step from the null per fold
    // (q_multinom_fit's closed form on SUBTRACTED train moments, portable
    // Knuth folds); held-out deviance = -2 ln(clamped softmax of the true
    // class), cvm/cvsd over the 5 folds
    // NOTE (ok, lnum) is NOT a key in the synthetic lineitem (dup rows
    // exist): score per PHYSICAL row via a synthetic unique rid, or the
    // GROUP BY would collapse duplicates into one softmax
    "q_cv_multinom" ->
      """WITH r AS MATERIALIZED (
        |  SELECT l_quantity AS x1, l_discount AS x2, l_returnflag AS y,
        |    row_number() OVER () AS rid,
        |    (((l_orderkey * 100 + l_linenumber) % 2147483648) * 2654435761)
        |      % 4294967296 % 5 AS f
        |  FROM lineitem),
        |tot AS (SELECT count(*)::double n, sum(x1) s1, sum(x2) s2,
        |          sum(x1*x1) s11, sum(x2*x2) s22, sum(x1*x2) s12 FROM r),
        |pf AS (SELECT f, count(*)::double n, sum(x1) s1, sum(x2) s2,
        |         sum(x1*x1) s11, sum(x2*x2) s22, sum(x1*x2) s12
        |       FROM r GROUP BY f),
        |totc AS (SELECT y, count(*)::double ny, sum(x1) c1, sum(x2) c2
        |         FROM r GROUP BY y),
        |pfc AS (SELECT f, y, count(*)::double ny, sum(x1) c1, sum(x2) c2
        |        FROM r GROUP BY f, y),
        |trn AS (SELECT pf.f, tot.n - pf.n AS n, tot.s1 - pf.s1 AS s1,
        |          tot.s2 - pf.s2 AS s2, tot.s11 - pf.s11 AS s11,
        |          tot.s22 - pf.s22 AS s22, tot.s12 - pf.s12 AS s12
        |        FROM pf, tot),
        |trc AS (SELECT pfc.f, pfc.y AS cls, totc.ny - pfc.ny AS ny,
        |          totc.c1 - pfc.c1 AS c1, totc.c2 - pfc.c2 AS c2
        |        FROM pfc JOIN totc ON pfc.y = totc.y),
        |mo AS (SELECT f, n, s1/n AS m1, s2/n AS m2,
        |         sqrt(s11/n - (s1/n)*(s1/n)) AS sd1,
        |         sqrt(s22/n - (s2/n)*(s2/n)) AS sd2,
        |         s12/n - (s1/n)*(s2/n) AS c12
        |       FROM trn),
        |st AS (SELECT f, n, m1, m2, sd1, sd2,
        |         1.0/(0.5*(1 + c12/(sd1*sd2)) + 0.000000001) AS step
        |       FROM mo),
        |mdl AS MATERIALIZED (SELECT st.f, trc.cls, trc.ny / st.n AS prior,
        |          st.m1, st.m2,
        |          sign((trc.c1/st.n - st.m1 * trc.ny/st.n) / st.sd1)
        |            * greatest(st.step * abs((trc.c1/st.n - st.m1 * trc.ny/st.n) / st.sd1)
        |                - st.step * 0.001, 0) / st.sd1 AS b1,
        |          sign((trc.c2/st.n - st.m2 * trc.ny/st.n) / st.sd2)
        |            * greatest(st.step * abs((trc.c2/st.n - st.m2 * trc.ny/st.n) / st.sd2)
        |                - st.step * 0.001, 0) / st.sd2 AS b2
        |        FROM st JOIN trc ON st.f = trc.f),
        |m2t AS (SELECT f, cls, ln(prior) - b1*m1 - b2*m2 AS a0, b1, b2 FROM mdl),
        |sc AS (SELECT r.f, r.rid,
        |         sum(exp(m2t.a0 + m2t.b1*r.x1 + m2t.b2*r.x2)) AS z,
        |         sum(CASE WHEN m2t.cls = r.y
        |               THEN exp(m2t.a0 + m2t.b1*r.x1 + m2t.b2*r.x2) END) AS ez
        |       FROM r JOIN m2t ON r.f = m2t.f GROUP BY r.f, r.rid),
        |fd AS (SELECT f,
        |         avg(-2 * ln(least(greatest(ez/z, 0.00001), 0.99999))) AS d
        |       FROM sc GROUP BY f)
        |SELECT 0 AS lambda_idx, round(0.001::DOUBLE, 6) AS lambda,
        |       round(ln(avg(d)), 6) AS ln_cvm,
        |       round(ln(stddev_samp(d)/sqrt(5)), 6) AS ln_cvsd
        |FROM fd""".stripMargin,
    // the q_cv_multinom oracle BYTE-IDENTICALLY: constant per-class
    // offsets shift each fold's intercepts by -c and the newoffset
    // prediction adds c back, so the offset-CV scores equal the plain
    // CV's exactly (a divergence isolates the offset chassis)
    "q_cv_multinom_offset" ->
      """WITH r AS MATERIALIZED (
        |  SELECT l_quantity AS x1, l_discount AS x2, l_returnflag AS y,
        |    row_number() OVER () AS rid,
        |    (((l_orderkey * 100 + l_linenumber) % 2147483648) * 2654435761)
        |      % 4294967296 % 5 AS f
        |  FROM lineitem),
        |tot AS (SELECT count(*)::double n, sum(x1) s1, sum(x2) s2,
        |          sum(x1*x1) s11, sum(x2*x2) s22, sum(x1*x2) s12 FROM r),
        |pf AS (SELECT f, count(*)::double n, sum(x1) s1, sum(x2) s2,
        |         sum(x1*x1) s11, sum(x2*x2) s22, sum(x1*x2) s12
        |       FROM r GROUP BY f),
        |totc AS (SELECT y, count(*)::double ny, sum(x1) c1, sum(x2) c2
        |         FROM r GROUP BY y),
        |pfc AS (SELECT f, y, count(*)::double ny, sum(x1) c1, sum(x2) c2
        |        FROM r GROUP BY f, y),
        |trn AS (SELECT pf.f, tot.n - pf.n AS n, tot.s1 - pf.s1 AS s1,
        |          tot.s2 - pf.s2 AS s2, tot.s11 - pf.s11 AS s11,
        |          tot.s22 - pf.s22 AS s22, tot.s12 - pf.s12 AS s12
        |        FROM pf, tot),
        |trc AS (SELECT pfc.f, pfc.y AS cls, totc.ny - pfc.ny AS ny,
        |          totc.c1 - pfc.c1 AS c1, totc.c2 - pfc.c2 AS c2
        |        FROM pfc JOIN totc ON pfc.y = totc.y),
        |mo AS (SELECT f, n, s1/n AS m1, s2/n AS m2,
        |         sqrt(s11/n - (s1/n)*(s1/n)) AS sd1,
        |         sqrt(s22/n - (s2/n)*(s2/n)) AS sd2,
        |         s12/n - (s1/n)*(s2/n) AS c12
        |       FROM trn),
        |st AS (SELECT f, n, m1, m2, sd1, sd2,
        |         1.0/(0.5*(1 + c12/(sd1*sd2)) + 0.000000001) AS step
        |       FROM mo),
        |mdl AS MATERIALIZED (SELECT st.f, trc.cls, trc.ny / st.n AS prior,
        |          st.m1, st.m2,
        |          sign((trc.c1/st.n - st.m1 * trc.ny/st.n) / st.sd1)
        |            * greatest(st.step * abs((trc.c1/st.n - st.m1 * trc.ny/st.n) / st.sd1)
        |                - st.step * 0.001, 0) / st.sd1 AS b1,
        |          sign((trc.c2/st.n - st.m2 * trc.ny/st.n) / st.sd2)
        |            * greatest(st.step * abs((trc.c2/st.n - st.m2 * trc.ny/st.n) / st.sd2)
        |                - st.step * 0.001, 0) / st.sd2 AS b2
        |        FROM st JOIN trc ON st.f = trc.f),
        |m2t AS (SELECT f, cls, ln(prior) - b1*m1 - b2*m2 AS a0, b1, b2 FROM mdl),
        |sc AS (SELECT r.f, r.rid,
        |         sum(exp(m2t.a0 + m2t.b1*r.x1 + m2t.b2*r.x2)) AS z,
        |         sum(CASE WHEN m2t.cls = r.y
        |               THEN exp(m2t.a0 + m2t.b1*r.x1 + m2t.b2*r.x2) END) AS ez
        |       FROM r JOIN m2t ON r.f = m2t.f GROUP BY r.f, r.rid),
        |fd AS (SELECT f,
        |         avg(-2 * ln(least(greatest(ez/z, 0.00001), 0.99999))) AS d
        |       FROM sc GROUP BY f)
        |SELECT 0 AS lambda_idx, round(0.001::DOUBLE, 6) AS lambda,
        |       round(ln(avg(d)), 6) AS ln_cvm,
        |       round(ln(stddev_samp(d)/sqrt(5)), 6) AS ln_cvsd
        |FROM fd""".stripMargin,
    // the q_cv_multinom_offset oracle BYTE-IDENTICALLY through the
    // sparse offset CV chassis (same data/offsets/folds/lambda)
    "q_cv_sparse_multinom_offset" ->
      """WITH r AS MATERIALIZED (
        |  SELECT l_quantity AS x1, l_discount AS x2, l_returnflag AS y,
        |    row_number() OVER () AS rid,
        |    (((l_orderkey * 100 + l_linenumber) % 2147483648) * 2654435761)
        |      % 4294967296 % 5 AS f
        |  FROM lineitem),
        |tot AS (SELECT count(*)::double n, sum(x1) s1, sum(x2) s2,
        |          sum(x1*x1) s11, sum(x2*x2) s22, sum(x1*x2) s12 FROM r),
        |pf AS (SELECT f, count(*)::double n, sum(x1) s1, sum(x2) s2,
        |         sum(x1*x1) s11, sum(x2*x2) s22, sum(x1*x2) s12
        |       FROM r GROUP BY f),
        |totc AS (SELECT y, count(*)::double ny, sum(x1) c1, sum(x2) c2
        |         FROM r GROUP BY y),
        |pfc AS (SELECT f, y, count(*)::double ny, sum(x1) c1, sum(x2) c2
        |        FROM r GROUP BY f, y),
        |trn AS (SELECT pf.f, tot.n - pf.n AS n, tot.s1 - pf.s1 AS s1,
        |          tot.s2 - pf.s2 AS s2, tot.s11 - pf.s11 AS s11,
        |          tot.s22 - pf.s22 AS s22, tot.s12 - pf.s12 AS s12
        |        FROM pf, tot),
        |trc AS (SELECT pfc.f, pfc.y AS cls, totc.ny - pfc.ny AS ny,
        |          totc.c1 - pfc.c1 AS c1, totc.c2 - pfc.c2 AS c2
        |        FROM pfc JOIN totc ON pfc.y = totc.y),
        |mo AS (SELECT f, n, s1/n AS m1, s2/n AS m2,
        |         sqrt(s11/n - (s1/n)*(s1/n)) AS sd1,
        |         sqrt(s22/n - (s2/n)*(s2/n)) AS sd2,
        |         s12/n - (s1/n)*(s2/n) AS c12
        |       FROM trn),
        |st AS (SELECT f, n, m1, m2, sd1, sd2,
        |         1.0/(0.5*(1 + c12/(sd1*sd2)) + 0.000000001) AS step
        |       FROM mo),
        |mdl AS MATERIALIZED (SELECT st.f, trc.cls, trc.ny / st.n AS prior,
        |          st.m1, st.m2,
        |          sign((trc.c1/st.n - st.m1 * trc.ny/st.n) / st.sd1)
        |            * greatest(st.step * abs((trc.c1/st.n - st.m1 * trc.ny/st.n) / st.sd1)
        |                - st.step * 0.001, 0) / st.sd1 AS b1,
        |          sign((trc.c2/st.n - st.m2 * trc.ny/st.n) / st.sd2)
        |            * greatest(st.step * abs((trc.c2/st.n - st.m2 * trc.ny/st.n) / st.sd2)
        |                - st.step * 0.001, 0) / st.sd2 AS b2
        |        FROM st JOIN trc ON st.f = trc.f),
        |m2t AS (SELECT f, cls, ln(prior) - b1*m1 - b2*m2 AS a0, b1, b2 FROM mdl),
        |sc AS (SELECT r.f, r.rid,
        |         sum(exp(m2t.a0 + m2t.b1*r.x1 + m2t.b2*r.x2)) AS z,
        |         sum(CASE WHEN m2t.cls = r.y
        |               THEN exp(m2t.a0 + m2t.b1*r.x1 + m2t.b2*r.x2) END) AS ez
        |       FROM r JOIN m2t ON r.f = m2t.f GROUP BY r.f, r.rid),
        |fd AS (SELECT f,
        |         avg(-2 * ln(least(greatest(ez/z, 0.00001), 0.99999))) AS d
        |       FROM sc GROUP BY f)
        |SELECT 0 AS lambda_idx, round(0.001::DOUBLE, 6) AS lambda,
        |       round(ln(avg(d)), 6) AS ln_cvm,
        |       round(ln(stddev_samp(d)/sqrt(5)), 6) AS ln_cvsd
        |FROM fd""".stripMargin,

    // one-pass moment mgaussian CV: per-fold group lasso at p=1 is the
    // closed form beta_std_t = c_t*(1 - lam/nrm)/gjj (nrm > lam, else
    // 0); held-out deviance = per-response mse moment forms summed.
    // gjj and c_t replicate SufficientStats.standardize's EXACT float
    // association ((a - b - b) + b); fold sums subtract from totals
    "q_cv_mgauss" ->
      """WITH r AS MATERIALIZED (
        |  SELECT l_quantity AS x, l_extendedprice AS y1, l_tax AS y2,
        |    (((l_orderkey * 100 + l_linenumber) % 2147483648) * 2654435761)
        |      % 4294967296 % 5 AS f
        |  FROM lineitem),
        |tot AS (SELECT count(*)::double n, sum(x) sx, sum(x*x) sxx,
        |          sum(y1) sy1, sum(y1*y1) syy1, sum(x*y1) sxy1,
        |          sum(y2) sy2, sum(y2*y2) syy2, sum(x*y2) sxy2 FROM r),
        |pf AS MATERIALIZED (
        |  SELECT f, count(*)::double n, sum(x) sx, sum(x*x) sxx,
        |         sum(y1) sy1, sum(y1*y1) syy1, sum(x*y1) sxy1,
        |         sum(y2) sy2, sum(y2*y2) syy2, sum(x*y2) sxy2
        |  FROM r GROUP BY f),
        |lgrid AS (SELECT cast(i AS INT) AS lambda_idx, lam::DOUBLE AS lam
        |          FROM (VALUES (0, 512.0), (1, 128.0), (2, 32.0), (3, 8.0),
        |                       (4, 2.0), (5, 0.5)) AS t(i, lam)),
        |tr AS (SELECT pf.f, tot.n - pf.n AS n, tot.sx - pf.sx AS sx,
        |         tot.sxx - pf.sxx AS sxx, tot.sy1 - pf.sy1 AS sy1,
        |         tot.syy1 - pf.syy1 AS syy1, tot.sxy1 - pf.sxy1 AS sxy1,
        |         tot.sy2 - pf.sy2 AS sy2, tot.syy2 - pf.syy2 AS syy2,
        |         tot.sxy2 - pf.sxy2 AS sxy2
        |       FROM pf, tot),
        |mo AS (SELECT f, n, sx/n AS mx, sy1/n AS my1, sy2/n AS my2,
        |         sqrt(greatest(sxx/n - (sx/n)*(sx/n), 0)) AS sd,
        |         sxx/n AS sxxn, sxy1/n AS sxy1n, sxy2/n AS sxy2n
        |       FROM tr),
        |st AS MATERIALIZED (
        |  SELECT f, mx, my1, my2, sd,
        |         (sxxn - mx*mx - mx*mx + mx*mx) / (sd*sd) AS gjj,
        |         (sxy1n - mx*my1 - my1*mx + mx*my1) / sd AS c1,
        |         (sxy2n - mx*my2 - my2*mx + mx*my2) / sd AS c2
        |  FROM mo),
        |bt AS MATERIALIZED (
        |  SELECT st.f, lg.lambda_idx, lg.lam, mx, my1, my2,
        |         CASE WHEN sqrt(c1*c1 + c2*c2) > lg.lam
        |              THEN c1 * ((1 - lg.lam/sqrt(c1*c1 + c2*c2)) / gjj) / sd
        |              ELSE 0 END AS b1,
        |         CASE WHEN sqrt(c1*c1 + c2*c2) > lg.lam
        |              THEN c2 * ((1 - lg.lam/sqrt(c1*c1 + c2*c2)) / gjj) / sd
        |              ELSE 0 END AS b2
        |  FROM st, lgrid lg),
        |sc AS (SELECT bt.f, lambda_idx, lam,
        |         (pf.syy1/pf.n - 2*(my1 - b1*mx)*pf.sy1/pf.n
        |            + (my1 - b1*mx)*(my1 - b1*mx) + b1*(pf.sxx/pf.n*b1)
        |            + 2*(my1 - b1*mx)*(b1*pf.sx/pf.n) - 2*(b1*pf.sxy1/pf.n))
        |       + (pf.syy2/pf.n - 2*(my2 - b2*mx)*pf.sy2/pf.n
        |            + (my2 - b2*mx)*(my2 - b2*mx) + b2*(pf.sxx/pf.n*b2)
        |            + 2*(my2 - b2*mx)*(b2*pf.sx/pf.n) - 2*(b2*pf.sxy2/pf.n)) AS m
        |       FROM bt JOIN pf ON bt.f = pf.f),
        |curve AS (SELECT lambda_idx, lam, avg(m) AS cvm,
        |                 stddev_samp(m)/sqrt(5) AS cvsd
        |          FROM sc GROUP BY 1, 2)
        |SELECT lambda_idx, round(lam, 4) AS lambda, round(ln(cvm), 6) AS ln_cvm,
        |       round(ln(cvsd), 6) AS ln_cvsd
        |FROM curve ORDER BY lambda_idx""".stripMargin,

    // shared-pass poisson CV at coefficient-zeroing lambda: fold model
    // is the intercept-only poisson MLE a0 = ln(train ybar) (mu =
    // exp(ln(ybar)) written out so both engines hit the same ulp);
    // held-out deviance is a row aggregation per fold
    "q_cv_poisson" ->
      """WITH r AS MATERIALIZED (
        |  SELECT l_quantity AS y,
        |    (((l_orderkey * 100 + l_linenumber) % 2147483648) * 2654435761)
        |      % 4294967296 % 5 AS f
        |  FROM lineitem),
        |tot AS (SELECT count(*)::double n, sum(y) sy FROM r),
        |pf AS (SELECT f, count(*)::double n, sum(y) sy FROM r GROUP BY f),
        |mdl AS (SELECT pf.f,
        |          exp(ln((tot.sy - pf.sy) / (tot.n - pf.n))) AS mu
        |        FROM pf, tot),
        |fd AS (SELECT r.f,
        |         avg(2 * ((CASE WHEN r.y > 0 THEN r.y * ln(r.y / mdl.mu)
        |                        ELSE 0 END) - (r.y - mdl.mu))) AS d
        |       FROM r JOIN mdl ON r.f = mdl.f GROUP BY r.f),
        |cv AS (SELECT avg(d) AS cvm, stddev_samp(d)/sqrt(5) AS cvsd FROM fd)
        |SELECT 0 AS lambda_idx, round(10.0::DOUBLE, 4) AS lambda,
        |       round(ln(cvm), 6) AS ln_cvm, round(ln(cvsd), 6) AS ln_cvsd
        |FROM cv""".stripMargin,

    // the q_cv_offset oracle BYTE-IDENTICALLY: the sparse offset CV
    // chassis runs the same data/offset/folds/lambda, so a divergence
    // isolates the sparse chassis (the q_cv_sparse_auc discipline)
    "q_cv_sparse_offset" ->
      """WITH r AS MATERIALIZED (
        |  SELECT l_quantity AS y, ln(l_linenumber::DOUBLE) AS off,
        |    (((l_orderkey * 100 + l_linenumber) % 2147483648) * 2654435761)
        |      % 4294967296 % 5 AS f
        |  FROM lineitem),
        |tot AS (SELECT count(*)::double n, sum(y) sy, sum(exp(off)) se FROM r),
        |pf AS (SELECT f, count(*)::double n, sum(y) sy, sum(exp(off)) se
        |       FROM r GROUP BY f),
        |mdl AS (SELECT pf.f,
        |          ln((tot.sy - pf.sy) / (tot.se - pf.se)) AS a0
        |        FROM pf, tot),
        |fd AS (SELECT r.f,
        |         avg(2 * ((CASE WHEN r.y > 0
        |                        THEN r.y * ln(r.y / exp(mdl.a0 + r.off))
        |                        ELSE 0 END)
        |            - (r.y - exp(mdl.a0 + r.off)))) AS d
        |       FROM r JOIN mdl ON r.f = mdl.f GROUP BY r.f),
        |cv AS (SELECT avg(d) AS cvm, stddev_samp(d)/sqrt(5) AS cvsd FROM fd)
        |SELECT 0 AS lambda_idx, round(10.0::DOUBLE, 4) AS lambda,
        |       round(ln(cvm), 6) AS ln_cvm, round(ln(cvsd), 6) AS ln_cvsd
        |FROM cv""".stripMargin,

    // q_cv_poisson's fold algebra with an exposure offset: each fold's
    // intercept-only MLE is ln(train Σy / train Σe^off), and held-out
    // deviance scores at mu = exp(a0_f + off_i) (newoffset semantics)
    "q_cv_offset" ->
      """WITH r AS MATERIALIZED (
        |  SELECT l_quantity AS y, ln(l_linenumber::DOUBLE) AS off,
        |    (((l_orderkey * 100 + l_linenumber) % 2147483648) * 2654435761)
        |      % 4294967296 % 5 AS f
        |  FROM lineitem),
        |tot AS (SELECT count(*)::double n, sum(y) sy, sum(exp(off)) se FROM r),
        |pf AS (SELECT f, count(*)::double n, sum(y) sy, sum(exp(off)) se
        |       FROM r GROUP BY f),
        |mdl AS (SELECT pf.f,
        |          ln((tot.sy - pf.sy) / (tot.se - pf.se)) AS a0
        |        FROM pf, tot),
        |fd AS (SELECT r.f,
        |         avg(2 * ((CASE WHEN r.y > 0
        |                        THEN r.y * ln(r.y / exp(mdl.a0 + r.off))
        |                        ELSE 0 END)
        |            - (r.y - exp(mdl.a0 + r.off)))) AS d
        |       FROM r JOIN mdl ON r.f = mdl.f GROUP BY r.f),
        |cv AS (SELECT avg(d) AS cvm, stddev_samp(d)/sqrt(5) AS cvsd FROM fd)
        |SELECT 0 AS lambda_idx, round(10.0::DOUBLE, 4) AS lambda,
        |       round(ln(cvm), 6) AS ln_cvm, round(ln(cvsd), 6) AS ln_cvsd
        |FROM cv""".stripMargin,

    // predict.cv_sgdnet with newoffset + sparse newx (round 18): the
    // single-point ridge grid makes lambda.min the grid point, so the
    // prediction is a0 + b·x + off with (a0, b) the q_gauss_ridge1
    // shrink on offset-adjusted moments; pred_sparse rides the CSR
    // route through the same predictAt and must emit the same value
    "q_cv_predict_offset" ->
      """WITH s AS (SELECT avg(l_quantity) mx,
        |    avg(l_extendedprice - ln(l_linenumber::DOUBLE)) my,
        |    covar_pop(l_quantity, l_extendedprice - ln(l_linenumber::DOUBLE)) cxy,
        |    var_pop(l_quantity) vx FROM lineitem),
        |t AS (SELECT mx, my, cxy / (vx * (1 + 2.5)) AS b FROM s)
        |SELECT l_orderkey, l_linenumber,
        |  round(my - b*mx + b*l_quantity + ln(l_linenumber::DOUBLE), 4) + 0.0 AS pred,
        |  round(my - b*mx + b*l_quantity + ln(l_linenumber::DOUBLE), 4) + 0.0 AS pred_sparse
        |FROM lineitem, t WHERE l_orderkey <= 5
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // one IRLS step from the null point: constant weights w = ybar
    "q_poisson_fit" ->
      """WITH s AS (SELECT avg(l_discount) mx, sqrt(var_pop(l_discount)) sd,
        |  avg(l_quantity) yb, covar_pop(l_discount, l_quantity) cxy
        |FROM lineitem),
        |t AS (SELECT mx, yb,
        |  sign(cxy/sd) * greatest(abs(cxy/sd) - 0.01, 0) / yb / sd AS b FROM s)
        |SELECT 'a0' AS term, round(ln(yb) - b * mx, 6) + 0 AS value FROM t
        |UNION ALL SELECT 'l_discount', round(b, 6) + 0 FROM t
        |ORDER BY term""".stripMargin
  ) ++ OpsOracles.sql ++ OpsOracles.variants ++ Map(
    "q_event_window" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |       count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,

    // each event expands into len/slide = 4 overlapping windows, starts
    // aligned to 900 s slide boundaries — exactly Spark's window(ts,len,slide)
    "q_event_sliding" ->
      """WITH e AS (SELECT event_type, value,
        |             floor(epoch(ts) / 900)::BIGINT * 900 AS s1 FROM events),
        |w AS (SELECT event_type, value,
        |        unnest(generate_series(s1 - 2700, s1, 900)) AS ws FROM e)
        |SELECT make_timestamp(ws * 1000000) AS window_start, event_type,
        |       count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,

    "q_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |s AS (SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS UNBOUNDED PRECEDING) AS session_id FROM g)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |       count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin,

    // SCD2: change rows (IS DISTINCT FROM the lagged value) become
    // versions; validity bounds from lead over the change rows
    "q_scd2" ->
      """WITH m AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS prev
        |  FROM events),
        |ch AS (SELECT user_id, event_type, ts, event_id FROM m
        |       WHERE prev IS DISTINCT FROM event_type),
        |v AS (SELECT user_id, event_type, ts AS valid_from,
        |        lead(ts) OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS valid_to,
        |        CAST(row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS INT) AS version
        |      FROM ch)
        |SELECT user_id, event_type, valid_from, valid_to, version,
        |       valid_to IS NULL AS is_current
        |FROM v ORDER BY user_id, version""".stripMargin,

    "q_gap_fill" ->
      """WITH b AS (
        |  SELECT user_id, date_trunc('hour', ts) AS bucket,
        |         CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events WHERE event_type = 'purchase' AND user_id < 30),
        |cnts AS (SELECT user_id, bucket, count(*) AS n,
        |                sum(c)::BIGINT AS sum_cents
        |         FROM b GROUP BY 1, 2),
        |spans AS (SELECT user_id, min(bucket) AS lo, max(bucket) AS hi
        |          FROM cnts GROUP BY 1),
        |grid AS (SELECT user_id,
        |           unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
        |         FROM spans)
        |SELECT g.user_id, g.bucket, coalesce(c.n, 0) AS n,
        |       coalesce(c.sum_cents, 0) AS sum_cents
        |FROM grid g LEFT JOIN cnts c
        |  ON g.user_id = c.user_id AND g.bucket = c.bucket
        |ORDER BY g.user_id, g.bucket""".stripMargin,

    "q_transitions" ->
      """WITH m AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS prev
        |  FROM events),
        |cnt AS (SELECT prev AS from_type, event_type AS to_type,
        |               count(*) AS n
        |        FROM m WHERE prev IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, sum(n)::BIGINT AS tot FROM cnt GROUP BY 1)
        |SELECT cnt.from_type, cnt.to_type, cnt.n,
        |       round(cnt.n::DOUBLE / tot.tot, 6) AS p
        |FROM cnt JOIN tot USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,

    // last-touch attribution: latest (user, ts)-deduped touch at-or-
    // before each purchase, 2h lookback, else 'none'
    "q_attribution" ->
      """WITH p AS (
        |  SELECT event_id, user_id, ts, epoch_us(ts) AS us,
        |         CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, ts, min(event_type) AS channel,
        |             epoch_us(ts) AS touch_us
        |      FROM events WHERE event_type IN ('view', 'click')
        |      GROUP BY user_id, ts),
        |j AS (SELECT p.event_id, p.cents, t.channel, t.touch_us,
        |        row_number() OVER (PARTITION BY p.event_id
        |          ORDER BY t.touch_us DESC) AS rn, p.us
        |      FROM p LEFT JOIN t
        |        ON p.user_id = t.user_id AND t.touch_us <= p.us),
        |a AS (SELECT event_id, cents,
        |        CASE WHEN touch_us IS NOT NULL AND us - touch_us <= 7200000000
        |             THEN channel ELSE 'none' END AS channel
        |      FROM j WHERE rn = 1)
        |SELECT channel, count(*) AS n_purchases,
        |       sum(cents)::BIGINT AS revenue_cents
        |FROM a GROUP BY channel ORDER BY channel""".stripMargin,

    // nearest-in-time: min |Δmicros| per click, ties to the earlier
    // error; LEFT JOIN keeps clicks from users with no errors
    "q_nearest_join" ->
      """WITH c AS (
        |  SELECT event_id, user_id, ts, epoch_us(ts) AS us
        |  FROM events WHERE event_type = 'click'),
        |e AS (SELECT user_id, ts AS err_ts, value AS err_value,
        |             epoch_us(ts) AS us
        |      FROM events WHERE event_type = 'error'),
        |j AS (SELECT c.event_id, c.user_id, c.ts, e.err_ts, e.err_value,
        |        abs(c.us - e.us)::BIGINT AS dt,
        |        row_number() OVER (PARTITION BY c.event_id
        |          ORDER BY abs(c.us - e.us), e.us) AS rn
        |      FROM c LEFT JOIN e ON c.user_id = e.user_id)
        |SELECT event_id, user_id, ts, err_ts,
        |       round(err_value, 4) + 0.0 AS err_value,
        |       dt AS nearest_dt_us
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin,

    // week-over-week: previous CALENDAR week via equi-join on
    // period − 7 days (gap-safe), one integer division per ratio
    "q_wow" ->
      """WITH per AS (
        |  SELECT event_type AS series, date_trunc('week', ts) AS period,
        |         count(*) AS n,
        |         sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS sum_cents
        |  FROM events GROUP BY 1, 2),
        |prev AS (SELECT series, period + INTERVAL 7 DAY AS period,
        |                n AS n_prev, sum_cents AS sum_cents_prev FROM per)
        |SELECT p.series, p.period, p.n, p.sum_cents,
        |       v.n_prev, v.sum_cents_prev,
        |       round(p.n::DOUBLE / v.n_prev - 1.0, 6) AS wow_n,
        |       round(p.sum_cents::DOUBLE / v.sum_cents_prev - 1.0, 6) AS wow_cents
        |FROM per p LEFT JOIN prev v USING (series, period)
        |ORDER BY series, period""".stripMargin,

    // CUSUM: centered prefix deviation |n·S_k − k·S_n| in all-long
    // arithmetic; the oracle's single per-key window equals the
    // operator's two-level bucketed prefix sums exactly
    "q_cusum" ->
      """WITH r AS (
        |  SELECT event_type AS k, ts, event_id,
        |         CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |p AS (SELECT k, ts,
        |        (sum(c) OVER (PARTITION BY k ORDER BY ts, event_id
        |           ROWS UNBOUNDED PRECEDING))::BIGINT AS sk,
        |        (count(*) OVER (PARTITION BY k ORDER BY ts, event_id
        |           ROWS UNBOUNDED PRECEDING))::BIGINT AS rk,
        |        (sum(c) OVER (PARTITION BY k))::BIGINT AS tot_s,
        |        (count(*) OVER (PARTITION BY k))::BIGINT AS tot_n
        |      FROM r),
        |d AS (SELECT k, ts, tot_n,
        |        abs(tot_n * sk - rk * tot_s)::BIGINT AS dev FROM p),
        |m AS (SELECT k, max(tot_n)::BIGINT AS n, max(dev)::BIGINT AS max_dev
        |      FROM d GROUP BY k)
        |SELECT m.k AS event_type, m.n, m.max_dev, min(d.ts) AS argmax_ts
        |FROM m JOIN d ON d.k = m.k AND d.dev = m.max_dev
        |GROUP BY m.k, m.n, m.max_dev
        |ORDER BY event_type""".stripMargin,

    // TWAP: cent×micro products (per-row long-safe) summed exactly
    // (HUGEINT here, decimal(38,0) on the Spark side), one division
    "q_twap" ->
      """WITH r AS (
        |  SELECT user_id, ts, event_id,
        |         CAST(round(value * 100) AS BIGINT) AS c,
        |         epoch_us(ts) AS us FROM events),
        |h AS (SELECT user_id, c,
        |        lead(us) OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) - us AS dur
        |      FROM r),
        |agg AS (SELECT user_id, count(*) AS n_held,
        |          sum(dur)::BIGINT AS total_us, sum(c * dur) AS wsum
        |        FROM h WHERE dur IS NOT NULL GROUP BY user_id)
        |SELECT user_id, n_held, total_us,
        |       round(wsum::DOUBLE / total_us / 100.0, 6) AS twap
        |FROM agg ORDER BY user_id""".stripMargin,

    // pooled two-proportion z; the arithmetic mirrors Analytics.abTest
    // operation for operation (same IEEE expression tree)
    "q_ab_test" ->
      """WITH u AS (
        |  SELECT user_id,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14 AS conv
        |  FROM events GROUP BY user_id),
        |a AS (SELECT
        |  sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
        |  sum(CASE WHEN user_id % 2 = 0 AND conv THEN 1 ELSE 0 END)::BIGINT AS conv_a,
        |  sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
        |  sum(CASE WHEN user_id % 2 = 1 AND conv THEN 1 ELSE 0 END)::BIGINT AS conv_b
        |FROM u)
        |SELECT n_a, conv_a, n_b, conv_b,
        |  round((conv_a::DOUBLE / n_a - conv_b::DOUBLE / n_b) /
        |    sqrt(((conv_a + conv_b)::DOUBLE / (n_a + n_b))
        |      * (1.0 - (conv_a + conv_b)::DOUBLE / (n_a + n_b))
        |      * (1.0 / n_a + 1.0 / n_b)), 6) AS z
        |FROM a""".stripMargin
    )
    // q_cv_sparse_auc runs the SAME data/folds/grid as q_cv_auc through
    // the sparse CV chassis — byte-identical oracle by construction, so
    // any divergence isolates the sparse route; q_cv_sparse_multinom and
    // q_cv_sparse_weighted reuse q_cv_multinom / q_cv_weighted the same
    // way (round 16)
    base + ("q_cv_sparse_auc" -> base("q_cv_auc")) +
      ("q_cv_sparse_multinom" -> base("q_cv_multinom")) +
      ("q_cv_sparse_weighted" -> base("q_cv_weighted")) +
      ("q_cv_sparse_mgauss" -> base("q_cv_mgauss")) +
      ("q_binom_offset_sparse" -> base("q_binom_offset_fit")) +
      // round 17: relaxed binomial CV through the sparse fold-tiled
      // GLM chassis — same data/folds/grid, byte-identical oracle
      ("q_cv_relaxed_binom_sparse" -> base("q_cv_relaxed_binom")) +
      // round 17: relaxed binomial CV with a CONSTANT offset — the
      // offset shifts every stage's intercept by -c and held-out
      // scoring adds it back, so the deviance surface reproduces the
      // no-offset oracle byte-identically (exact only when the offset
      // algebra is right in every stage)
      ("q_cv_relaxed_binom_offset" -> base("q_cv_relaxed_binom")) +
      // round 18: weights and offset through the screened-Gram IRLS
      // chassis — the q_weighted_binom / q_binom_offset_fit fixtures
      // VERBATIM through LargeP.fitBinomial(weightCol/offsetCol), so
      // the oracles are byte-identical and divergence isolates the
      // weighted/offset screened routes
      ("q_irls_weighted_largep" -> base("q_weighted_binom")) +
      ("q_irls_offset_largep" -> base("q_binom_offset_fit")) +
      // round 18: the batched screened-Gram GLM CV (lockstep-Newton
      // IRLS CV past the p^2 cliff) — the q_cv_auc fixture VERBATIM
      ("q_cv_irls_largep" -> base("q_cv_auc")) +
      // round 18: the sparse screened CV and the screened relax — the
      // q_cv_largep / q_relaxed_fit fixtures VERBATIM through the CSR
      // CV chassis and the captured-E-Gram relax
      ("q_sparse_cv_largep" -> base("q_cv_largep")) +
      ("q_relaxed_largep" -> base("q_relaxed_fit")) +
      // round 18: GLM relax at large p — the q_relaxed_binom fixture
      // VERBATIM through the screened penalized path + the shared
      // lockstep restricted-moment refit
      ("q_relaxed_glm_largep" -> base("q_relaxed_binom")) +
      // round 18: multinomial at large p — the q_multinom_fit
      // one-FISTA-step fixture VERBATIM through the dense and sparse
      // large-p chassis (distributed power-iteration Lipschitz)
      ("q_multinom_largep" -> base("q_multinom_fit")) +
      ("q_multinom_sparse_largep" -> base("q_multinom_fit"))
  }
}
