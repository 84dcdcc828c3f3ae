package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator claimed done in SURVEY §2 has a `queries` entry; every
  * SQL-expressible one also has a DuckDB `oracleSql` entry with identical
  * column names and deterministic arithmetic (see [[graft.operators.Rfm]]
  * scaladoc for the float-determinism strategy).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Rfm.rfmOrders(spark, "/root/testdata/sf0.001")

  /** The `SPARK_GRAFT_ONLY` lane filter every main shares: comma-separated
    * name prefixes, each trimmed, empty entries dropped (an empty prefix
    * would match every lane); unset keeps every lane. */
  private[graft] def onlyFilter(spec: Option[String]): String => Boolean = {
    val prefixes = spec.map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    name => prefixes.forall(_.exists(name.startsWith))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_clean_filter" -> ((s, dir) => Relational.cleanFilter(s, dir)),
    "q02_derive_amount" -> ((s, dir) => Relational.deriveAmount(s, dir)),
    "q03_date_days" -> ((s, dir) => Relational.dateDays(s, dir)),
    "q04_rfm" -> ((s, dir) => Rfm.rfmOrders(s, dir)),
    "q05_rfm_lineitem" -> ((s, dir) => Rfm.rfmLineitem(s, dir)),
    "q06_zscore" -> ((s, dir) => Relational.zscore(s, dir)),
    "q90_pipeline_e2e" -> ((s, dir) => Relational.pipelineE2e(s, dir)),
    "q07_plot_bounds" -> ((s, dir) => Relational.plotBounds(s, dir)),
    "q08_distinct_count" -> ((s, dir) => Relational.distinctCount(s, dir)),
    "q10_top_customers" -> ((s, dir) => Relational.topCustomers(s, dir)),
    "q11_window_rank" -> ((s, dir) => Relational.windowRank(s, dir)),
    "q75_rank_functions" -> ((s, dir) => Relational.rankFunctionsDistributed(s, dir)),
    "q12_star_join" -> ((s, dir) => Relational.starJoin(s, dir)),
    "q13_semi_anti_join" -> ((s, dir) => Relational.semiAntiJoin(s, dir)),
    "q14_set_union" -> ((s, dir) => SetOps.setUnion(s, dir)),
    "q15_set_intersect" -> ((s, dir) => SetOps.setIntersect(s, dir)),
    "q16_set_except" -> ((s, dir) => SetOps.setExcept(s, dir)),
    // ML surface (seeded, deterministic; not SQL-expressible → rows-only check)
    // CSV-ingest surface (S1+P2): deterministic fixture → real CSV pipeline
    "q26_csv_rfm" -> ((s, dir) => Retail.csvRfmQuery(s, dir)),
    "q25_scatter_data" -> ((s, dir) => Clustering.scatterData(s, dir)),
    "q20_cluster_sizes" -> ((s, dir) => Clustering.clusterSizes(s, dir)),
    "q21_centroids" -> ((s, dir) => Clustering.centroids(s, dir)),
    "q22_inertia" -> ((s, dir) => Clustering.inertia(s, dir)),
    "q23_predict" -> ((s, dir) => Clustering.predictQuery(s, dir)),
    "q24_silhouette" -> ((s, dir) => Clustering.silhouetteQuery(s, dir)),
    // Dedup suite (documents / embeddings)
    "q30_dedup_exact" -> ((s, dir) => Dedup.exactDedup(s, dir)),
    "q31_dedup_ngram_jaccard" -> ((s, dir) => Dedup.ngramJaccard(s, dir)),
    "q32_dedup_minhash" -> ((s, dir) => Dedup.minhashDedup(s, dir)),
    "q33_dedup_simhash" -> ((s, dir) => Dedup.simhashPairs(s, dir)),
    "q34_dedup_embedding" -> ((s, dir) => Dedup.embeddingNearDup(s, dir)),
    "q35_dedup_clusters" -> ((s, dir) => Dedup.dedupClusters(s, dir)),
    "q134_cluster_canonical" -> ((s, dir) => Dedup.clusterCanonical(s, dir)),
    "q108_semantic_dedup" -> ((s, dir) => Dedup.semanticDedup(s, dir)),
    "q111_incremental_dedup" -> ((s, dir) => Dedup.incrementalDedup(s, dir)),
    "q120_novelty" -> ((s, dir) => Dedup.noveltyScore(s, dir)),
    "q135_repeated_spans" -> ((s, dir) => Dedup.repeatedSpans(s, dir)),
    "q238_span_scrub" -> ((s, dir) => Dedup.spanScrub(s, dir)),
    "q240_leakage_safe_split" -> ((s, dir) => Dedup.leakageSafeSplit(s, dir)),
    // Text analysis (documents)
    "q40_text_stats" -> ((s, dir) => TextAnalysis.textStats(s, dir)),
    "q41_token_count" -> ((s, dir) => TextAnalysis.tokenCount(s, dir)),
    "q42_fingerprint" -> ((s, dir) => TextAnalysis.fingerprintOracle(s, dir)),
    "q44_rolling_hash" -> ((s, dir) => TextAnalysis.fingerprint(s, dir)),
    "q45_corpus_prep" -> ((s, dir) => CorpusPrep.corpusPrep(s, dir)),
    "q46_edit_distance" -> ((s, dir) => TextAnalysis.editDistancePairs(s, dir)),
    "q43_lang_id" -> ((s, dir) => TextAnalysis.langId(s, dir)),
    // Corpus-prep extensions (q55+: chunking / repetition quality signals)
    "q55_chunking" -> ((s, dir) => TextAnalysis.chunkDocuments(s, dir)),
    "q56_repetition" -> ((s, dir) => TextAnalysis.repetitionStats(s, dir)),
    "q57_vocabulary" -> ((s, dir) => TextAnalysis.vocabulary(s, dir)),
    "q88_vocab_encode" -> ((s, dir) => TextAnalysis.vocabEncode(s, dir)),
    "q92_tfidf" -> ((s, dir) => TextAnalysis.tfidfTopTerms(s, dir)),
    "q93_pmi_collocations" -> ((s, dir) => TextAnalysis.pmiCollocations(s, dir)),
    // Corpus hygiene (q76–q79: decontamination / PII / quality / repetition)
    "q76_decontaminate" -> ((s, dir) => CorpusFilters.decontaminate(s, dir)),
    "q127_contamination_score" -> ((s, dir) =>
      CorpusFilters.contaminationScore(s, dir)),
    "q128_release_pipeline" -> ((s, dir) =>
      CorpusFilters.releasePipeline(s, dir)),
    "q239_canary_scan" -> ((s, dir) => CorpusFilters.canaryScan(s, dir)),
    "q77_pii_redact" -> ((s, dir) => CorpusFilters.piiRedact(s, dir)),
    "q78_quality_gates" -> ((s, dir) => CorpusFilters.qualityGates(s, dir)),
    "q79_intradoc_repetition" -> ((s, dir) => CorpusFilters.intraDocRepetition(s, dir)),
    "q107_boilerplate" -> ((s, dir) => CorpusFilters.boilerplateRemove(s, dir)),
    "q109_quality_classifier" -> ((s, dir) => TextAnalysis.qualityScores(s, dir)),
    // Deterministic sampling / split surface (documents)
    "q47_train_split" -> ((s, dir) => Sampling.trainValTestSplit(s, dir)),
    "q48_hash_sample" -> ((s, dir) => Sampling.hashSample(s, dir)),
    "q49_mixture_rebalance" -> ((s, dir) => Sampling.mixtureRebalance(s, dir)),
    "q125_temperature_mix" -> ((s, dir) => Sampling.temperatureMixture(s, dir)),
    "q132_mixture_plan" -> ((s, dir) => Sampling.mixturePlan(s, dir)),
    "q133_quality_topp" -> ((s, dir) => Sampling.qualityTopP(s, dir)),
    "q138_global_shuffle" -> ((s, dir) => Sampling.globalShuffleShards(s, dir)),
    "q126_length_batches" -> ((s, dir) => TextAnalysis.lengthBatches(s, dir)),
    "q87_domain_cap" -> ((s, dir) => Sampling.domainCap(s, dir)),
    "q102_weighted_sample" -> ((s, dir) => Sampling.weightedSample(s, dir)),
    "q112_stratified_sample" -> ((s, dir) => Sampling.stratifiedSample(s, dir)),
    "q113_weighted_median" -> ((s, dir) => Relational.weightedMedian(s, dir)),
    "q116_robust_scale" -> ((s, dir) => Relational.robustScale(s, dir)),
    // Event/time-series analytics (events)
    "q17_percentiles" -> ((s, dir) => Relational.percentiles(s, dir)),
    "q18_rollup" -> ((s, dir) => Relational.rollupRevenue(s, dir)),
    "q09_histogram" -> ((s, dir) => Relational.histogram(s, dir)),
    "q19_approx_distinct" -> ((s, dir) => Relational.approxDistinct(s, dir)),
    "q59_funnel" -> ((s, dir) => Events.funnel(s, dir)),
    "q60_events_hourly" -> ((s, dir) => Events.hourlyAgg(s, dir)),
    // Structured Streaming execution, driven to completion, oracle-checked
    "q64_stream_hourly" -> ((s, dir) =>
      streaming.EventStreams.hourlyStreamQuery(s, dir)),
    "q83_stream_interval_join" -> ((s, dir) =>
      streaming.EventStreams.intervalJoinQuery(s, dir)),
    "q137_stream_outer_join" -> ((s, dir) =>
      streaming.EventStreams.intervalJoinLeftOuterQuery(s, dir)),
    "q286_stream_full_outer_join" -> ((s, dir) =>
      streaming.EventStreams.intervalJoinFullOuterQuery(s, dir)),
    "q89_stream_enrich" -> ((s, dir) =>
      streaming.EventStreams.enrichStreamQuery(s, dir)),
    "q100_stream_anomalies" -> ((s, dir) =>
      streaming.EventStreams.anomalyStreamQuery(s, dir)),
    "q106_stream_dedup" -> ((s, dir) =>
      streaming.EventStreams.dedupStreamQuery(s, dir)),
    "q61_events_sessionize" -> ((s, dir) => Events.sessionize(s, dir)),
    "q62_events_running" -> ((s, dir) => Events.runningAggDistributed(s, dir)),
    "q63_events_daily_top" -> ((s, dir) => Events.dailyTopEvents(s, dir)),
    "q65_asof_join" -> ((s, dir) => Events.asofLastPurchase(s, dir)),
    "q110_asof_native" -> ((s, dir) => Events.asofLastPurchaseNative(s, dir)),
    "q66_range_join" -> ((s, dir) => Events.rangeJoinClicksBeforeErrors(s, dir)),
    "q67_session_window" -> ((s, dir) => Events.sessionWindows(s, dir)),
    "q68_json_extract" -> ((s, dir) => Events.jsonExtract(s, dir)),
    "q69_pivot" -> ((s, dir) => Events.pivotEventCounts(s, dir)),
    // Similarity search (embeddings)
    "q50_ann_bruteforce" -> ((s, dir) => SimilaritySearch.bruteForceTopK(s, dir)),
    "q51_ann_signlsh" -> ((s, dir) => SimilaritySearch.signLshTopK(s, dir)),
    "q52_ann_ivf" -> ((s, dir) => SimilaritySearch.ivfTopK(s, dir)),
    "q131_ann_filtered" -> ((s, dir) => SimilaritySearch.ivfFilteredTopK(s, dir)),
    "q54_ann_topk_agg" -> ((s, dir) => SimilaritySearch.bruteForceTopKAgg(s, dir)),
    "q136_hard_negatives" -> ((s, dir) => SimilaritySearch.hardNegatives(s, dir)),
    "q53_embedding_stats" -> ((s, dir) => SimilaritySearch.embeddingStats(s, dir)),
    "q58_quantize_int8" -> ((s, dir) => SimilaritySearch.quantizeInt8(s, dir)),
    // Multimodal plumbing (REAL JDK codecs for ALL kinds since round 8 —
    // PNG/WAV/animated-GIF; oracles replay the deterministic payload
    // formulas so the decode path is hash-gated without DuckDB decoding)
    "q70_media_features" -> ((s, dir) => multimodal.Multimodal.featureSummary(s, dir)),
    "q71_media_wide_images" -> ((s, dir) => multimodal.Multimodal.wideImages(s, dir)),
    "q72_media_frame_sample" -> ((s, dir) =>
      multimodal.Multimodal.frameSample(s, dir).drop("frame_indices")),
    // Events extended (q73+)
    "q73_retention" -> ((s, dir) => Events.cohortRetention(s, dir)),
    "q74_packing" -> ((s, dir) => TextAnalysis.sequencePacking(s, dir)),
    "q80_gapfill_hourly" -> ((s, dir) => Events.gapFillHourly(s, dir)),
    "q130_partitioned_day" -> ((s, dir) => PartitionedEvents.oneDayHourly(s, dir)),
    "q84_decontam_bloom" -> ((s, dir) => CorpusFilters.decontaminateBloom(s, dir)),
    "q85_hll_sketches" -> ((s, dir) => Sketches.hllUserSketches(s, dir)),
    "q86_cube_revenue" -> ((s, dir) => Relational.cubeRevenue(s, dir)),
    // Sources/maintenance extensions (q81+)
    "q81_json_ingest" -> ((s, dir) => JsonSource.jsonIngest(s, dir)),
    "q82_merge_upsert" -> ((s, dir) => Merge.upsertCustomers(s, dir)),
    "q91_scd2_history" -> ((s, dir) => Merge.scd2History(s, dir)),
    "q101_scd2_incremental" -> ((s, dir) => Merge.scd2IncrementalMerge(s, dir)),
    "q103_snapshot_diff" -> ((s, dir) => Merge.snapshotDiffCustomers(s, dir)),
    "q94_zorder" -> ((s, dir) => Layout.zorderSample(s, dir)),
    "q104_hilbert" -> ((s, dir) => Layout.hilbertSample(s, dir)),
    "q95_pagerank" -> ((s, dir) => Graph.pagerank(s, dir)),
    "q129_pagerank_converged" -> ((s, dir) => Graph.pagerankConvergedQuery(s, dir)),
    "q115_triangles" -> ((s, dir) => Graph.triangleCounts(s, dir)),
    "q117_association_rules" -> ((s, dir) => Graph.associationRules(s, dir)),
    "q122_bfs_hops" -> ((s, dir) => Graph.bfsHops(s, dir)),
    "q96_grouping_sets" -> ((s, dir) => Relational.groupingSetsRevenue(s, dir)),
    "q97_cms_heavy_hitters" -> ((s, dir) => Sketches.cmsHeavyHitters(s, dir)),
    "q118_approx_quantiles" -> ((s, dir) => Sketches.approxQuantiles(s, dir)),
    "q121_salted_agg" -> ((s, dir) => Skew.saltedUserAgg(s, dir)),
    "q119_pit_enrich" -> ((s, dir) => Merge.pitEnrichOrders(s, dir)),
    "q98_profile" -> ((s, dir) => Profiling.profileLineitem(s, dir)),
    "q241_data_card" -> ((s, dir) => Profiling.dataCard(s, dir)),
    "q242_pq_adc" -> ((s, dir) => SimilaritySearch.pqAdcTopK(s, dir)),
    "q243_dsir_select" -> ((s, dir) => Sampling.dsirSelect(s, dir)),
    "q244_postings_index" -> ((s, dir) => Retrieval.postingsIndex(s, dir)),
    "q245_grouped_ols" -> ((s, dir) => Relational.groupedOls(s, dir)),
    "q246_ab_test" -> ((s, dir) => Events.abTest(s, dir)),
    "q247_kn_bigram" -> ((s, dir) => TextAnalysis.knBigram(s, dir)),
    "q248_coreset_sample" -> ((s, dir) => SimilaritySearch.coresetSample(s, dir)),
    "q249_schema_evolution" -> ((s, dir) =>
      graft.sources.SchemaEvolution.evolvedPriorityTotals(s, dir)),
    "q250_hazard_table" -> ((s, dir) => Events.hazardTable(s, dir)),
    "q251_chi_square" -> ((s, dir) => Events.chiSquare(s, dir)),
    "q252_cuped" -> ((s, dir) => Events.cuped(s, dir)),
    "q253_mann_whitney" -> ((s, dir) => Events.mannWhitney(s, dir)),
    "q254_permutation_test" -> ((s, dir) => Events.permutationTest(s, dir)),
    "q255_vocab_growth" -> ((s, dir) => TextAnalysis.vocabGrowth(s, dir)),
    "q256_good_turing" -> ((s, dir) => TextAnalysis.goodTuring(s, dir)),
    "q257_word_dropout" -> ((s, dir) => TextAnalysis.wordDropout(s, dir)),
    "q258_negative_sampling" -> ((s, dir) => Sampling.negativeSampling(s, dir)),
    "q259_triplet_mining" -> ((s, dir) => SimilaritySearch.tripletMining(s, dir)),
    "q260_diff_in_diff" -> ((s, dir) => Events.diffInDiff(s, dir)),
    "q261_prefix_sim_join" -> ((s, dir) => Dedup.prefixSimJoin(s, dir)),
    "q262_neyman_sample" -> ((s, dir) => Sampling.neymanSample(s, dir)),
    "q263_ams_f2" -> ((s, dir) => Sketches.amsF2(s, dir)),
    "q264_theil_sen" -> ((s, dir) => Events.theilSen(s, dir)),
    "q265_activity_completeness" -> ((s, dir) =>
      Events.activityCompleteness(s, dir)),
    "q266_minhash_error_audit" -> ((s, dir) =>
      Dedup.minhashErrorAudit(s, dir)),
    "q267_hll_declarative" -> ((s, dir) => Sketches.hllDeclarative(s, dir)),
    "q268_quantile_normalize" -> ((s, dir) =>
      TextAnalysis.quantileNormalize(s, dir)),
    "q269_hll_merge" -> ((s, dir) => Sketches.hllMergeRollup(s, dir)),
    "q270_class_separability" -> ((s, dir) =>
      SimilaritySearch.classSeparability(s, dir)),
    "q271_sorted_neighborhood" -> ((s, dir) =>
      Linkage.sortedNeighborhood(s, dir)),
    "q272_markov_attribution" -> ((s, dir) =>
      Events.markovAttribution(s, dir)),
    "q273_entity_merge" -> ((s, dir) => Linkage.entityMerge(s, dir)),
    "q274_bh_fdr" -> ((s, dir) => Events.bhFdr(s, dir)),
    "q275_packed_manifest" -> ((s, dir) =>
      TextAnalysis.packedSequenceManifest(s, dir)),
    "q276_cohens_kappa" -> ((s, dir) => TextAnalysis.cohensKappa(s, dir)),
    "q277_cms_error_audit" -> ((s, dir) => Sketches.cmsErrorAudit(s, dir)),
    "q278_zone_map_audit" -> ((s, dir) => Profiling.zoneMapAudit(s, dir)),
    "q280_split_parity" -> ((s, dir) => Dedup.splitParity(s, dir)),
    "q281_simhash_calibration" -> ((s, dir) =>
      Dedup.simhashCalibration(s, dir)),
    "q282_source_ablation" -> ((s, dir) =>
      TextAnalysis.sourceAblation(s, dir)),
    "q283_simhash_router" -> ((s, dir) =>
      Dedup.simhashRouterCalibration(s, dir)),
    "q284_clustered_rollup" -> ((s, dir) =>
      Layout.clusteredMonthlyRollup(s, dir)),
    "q285_pq_recall" -> ((s, dir) =>
      SimilaritySearch.pqRecallAudit(s, dir)),
    "q287_routed_near_dup" -> ((s, dir) =>
      Dedup.routedNearDupAudit(s, dir)),
    "q288_pq_rescore" -> ((s, dir) =>
      SimilaritySearch.pqRescoreRecall(s, dir)),
    "q289_routed_removal" -> ((s, dir) =>
      Dedup.routedDedupRemoval(s, dir)),
    "q290_zorder_skipping" -> ((s, dir) =>
      Layout.zorderSelectivityRollup(s, dir)),
    "q291_late_data_census" -> ((s, dir) =>
      streaming.EventStreams.lateDataCensusQuery(s, dir)),
    "q292_stream_neardup_gate" -> ((s, dir) =>
      Dedup.streamingNearDupGate(s, dir)),
    "q293_gate_ttl" -> ((s, dir) =>
      Dedup.streamingNearDupGateTtl(s, dir)),
    "q294_gate_state_census" -> ((s, dir) =>
      Dedup.gateStateCensus(s, dir)),
    "q295_router_census" -> ((s, dir) =>
      Dedup.routerCandidateCensus(s, dir)),
    "q296_incremental_index" -> ((s, dir) =>
      Dedup.incrementalIndexAudit(s, dir)),
    "q297_watermark_curve" -> ((s, dir) =>
      streaming.EventStreams.watermarkDelayCurve(s, dir)),
    "q298_compaction" -> ((s, dir) => Dedup.compactionAudit(s, dir)),
    "q299_incremental_ann" -> ((s, dir) =>
      SimilaritySearch.incrementalAnnAudit(s, dir)),
    "q300_codebook_drift" -> ((s, dir) =>
      SimilaritySearch.codebookDriftAudit(s, dir)),
    "q301_gate_horizon_sweep" -> ((s, dir) =>
      Dedup.gateHorizonSweep(s, dir)),
    "q302_checkpoint_restart" -> ((s, dir) =>
      Dedup.checkpointRestartGate(s, dir)),
    "q303_index_delete" -> ((s, dir) => Dedup.indexDeleteAudit(s, dir)),
    "q304_ann_delete" -> ((s, dir) =>
      SimilaritySearch.annDeleteAudit(s, dir)),
    "q305_index_lifecycle" -> ((s, dir) => Dedup.lifecycleAudit(s, dir)),
    "q306_forget_cascade" -> ((s, dir) => Forget.cascadeAudit(s, dir)),
    "q279_pii_wilson" -> ((s, dir) => CorpusFilters.piiRateInterval(s, dir)),
    "q139_dq_checks" -> ((s, dir) => Profiling.dqChecks(s, dir)),
    "q140_blocked_linkage" -> ((s, dir) => Linkage.blockedLinkage(s, dir)),
    "q141_source_diversity" -> ((s, dir) => TextAnalysis.sourceDiversity(s, dir)),
    "q142_split_leakage" -> ((s, dir) => Dedup.splitLeakage(s, dir)),
    "q143_ewma_daily" -> ((s, dir) => Events.ewmaDaily(s, dir)),
    "q144_target_encoding" -> ((s, dir) => Features.targetEncoding(s, dir)),
    "q145_embedding_outliers" -> ((s, dir) => SimilaritySearch.embeddingOutliers(s, dir)),
    "q123_benford" -> ((s, dir) => Profiling.benfordScreen(s, dir)),
    "q124_knn_join" -> ((s, dir) => SimilaritySearch.knnJoin(s, dir)),
    "q99_anomalies" -> ((s, dir) => Events.anomalies(s, dir)),
    "q105_transitions" -> ((s, dir) => Events.transitionMatrix(s, dir)),
    "q114_session_paths" -> ((s, dir) => Events.sessionPaths(s, dir)),
    // Round-7 additions
    "q146_stream_session_window" -> ((s, dir) =>
      streaming.EventStreams.sessionWindowStreamQuery(s, dir)),
    "q147_freq_spectrum" -> ((s, dir) => TextAnalysis.freqSpectrum(s, dir)),
    "q148_salting_plan" -> ((s, dir) => Skew.saltingPlan(s, dir)),
    "q149_normalized_fingerprint" -> ((s, dir) =>
      Dedup.normalizedFingerprint(s, dir)),
    "q150_gram_novelty" -> ((s, dir) => Dedup.gramNovelty(s, dir)),
    "q151_bucketed_join" -> ((s, dir) => Bucketing.bucketedSegmentAgg(s, dir)),
    "q152_stream_sliding" -> ((s, dir) =>
      streaming.EventStreams.slidingStreamQuery(s, dir)),
    "q153_stream_pit_enrich" -> ((s, dir) =>
      streaming.EventStreams.pitEnrichStreamQuery(s, dir)),
    "q154_knn_label_audit" -> ((s, dir) =>
      SimilaritySearch.knnLabelConsistency(s, dir)),
    "q155_cross_source_matrix" -> ((s, dir) => Dedup.crossSourceMatrix(s, dir)),
    "q156_stream_cdc_apply" -> ((s, dir) =>
      streaming.CdcApply.cdcApplyStreamQuery(s, dir)),
    "q157_distribution_drift" -> ((s, dir) =>
      Profiling.distributionDrift(s, dir)),
    "q158_curriculum" -> ((s, dir) => TextAnalysis.curriculumSchedule(s, dir)),
    "q159_hourly_bursts" -> ((s, dir) => Events.hourlyBursts(s, dir)),
    "q160_padding_waste" -> ((s, dir) => TextAnalysis.paddingWaste(s, dir)),
    "q161_attribution" -> ((s, dir) => Events.lastTouchAttribution(s, dir)),
    "q162_weighted_jaccard" -> ((s, dir) => Dedup.weightedJaccard(s, dir)),
    "q163_rendezvous_shards" -> ((s, dir) => Sampling.rendezvousShards(s, dir)),
    "q164_source_similarity" -> ((s, dir) => Profiling.sourceSimilarity(s, dir)),
    "q165_label_propagation" -> ((s, dir) => Graph.labelPropagation(s, dir)),
    "q166_ann_recall" -> ((s, dir) => SimilaritySearch.annRecallAudit(s, dir)),
    "q167_forget_audit" -> ((s, dir) => CorpusFilters.forgetAudit(s, dir)),
    "q168_pii_audit" -> ((s, dir) => CorpusFilters.piiAudit(s, dir)),
    "q169_fertility" -> ((s, dir) => TextAnalysis.tokenizerFertility(s, dir)),
    "q170_ann_int8" -> ((s, dir) => SimilaritySearch.annInt8TopK(s, dir)),
    "q171_incremental_stats" -> ((s, dir) => Merge.incrementalStats(s, dir)),
    "q172_debounce" -> ((s, dir) => Events.debounce(s, dir)),
    "q173_stream_hourly_distinct" -> ((s, dir) =>
      streaming.EventStreams.hourlyDistinctStreamQuery(s, dir)),
    "q174_asof_forward" -> ((s, dir) => Events.clickConversionForward(s, dir)),
    "q175_unigram_surprisal" -> ((s, dir) =>
      TextAnalysis.unigramSurprisal(s, dir)),
    "q176_lang_vocab_profile" -> ((s, dir) =>
      TextAnalysis.langVocabProfile(s, dir)),
    "q177_bigram_surprisal" -> ((s, dir) =>
      TextAnalysis.bigramSurprisal(s, dir)),
    "q178_containment_pairs" -> ((s, dir) => Dedup.containmentPairs(s, dir)),
    "q179_winsorized_stats" -> ((s, dir) => Profiling.winsorizedStats(s, dir)),
    "q180_unpivot_metrics" -> ((s, dir) => Relational.unpivotMetrics(s, dir)),
    "q181_equidepth_deciles" -> ((s, dir) =>
      Relational.equidepthDeciles(s, dir)),
    "q182_hourly_autocov" -> ((s, dir) =>
      Events.hourlyAutocovComponents(s, dir)),
    "q183_moving_avg" -> ((s, dir) =>
      Relational.movingAvgDailyRevenue(s, dir)),
    "q184_time_heatmap" -> ((s, dir) => Events.timeHeatmap(s, dir)),
    "q185_cohort_matrix" -> ((s, dir) => Events.cohortMatrix(s, dir)),
    "q186_ks_drift" -> ((s, dir) => Profiling.ksDrift(s, dir)),
    "q187_bootstrap" -> ((s, dir) => Sampling.bootstrapRevenue(s, dir)),
    "q188_interarrival" -> ((s, dir) => Events.interarrivalQuantiles(s, dir)),
    "q189_similar_customers" -> ((s, dir) => Graph.similarCustomers(s, dir)),
    "q190_seasonal_backtest" -> ((s, dir) =>
      Relational.seasonalBacktest(s, dir)),
    "q191_linear_attribution" -> ((s, dir) =>
      Events.linearAttribution(s, dir)),
    "q192_new_vs_returning" -> ((s, dir) => Events.newVsReturning(s, dir)),
    "q193_revenue_gini" -> ((s, dir) => Relational.revenueGini(s, dir)),
    "q194_sla_lateness" -> ((s, dir) => Relational.slaLateness(s, dir)),
    "q195_discount_effect" -> ((s, dir) => Relational.discountEffect(s, dir)),
    "q196_custom_source" -> ((s, dir) =>
      sources.GenDocsQueries.bucketRollup(s, dir)),
    "q197_changepoint" -> ((s, dir) => Relational.cusumChangepoint(s, dir)),
    "q198_lang_confusion" -> ((s, dir) => TextAnalysis.langConfusion(s, dir)),
    "q199_band_migration" -> ((s, dir) => Relational.bandMigration(s, dir)),
    "q200_bm25" -> ((s, dir) => Retrieval.bm25(s, dir)),
    "q201_rrf_fusion" -> ((s, dir) => Retrieval.rrfFusion(s, dir)),
    "q202_skyline" -> ((s, dir) => Skyline.skyline(s, dir)),
    "q203_sql_api" -> ((s, dir) => Retrieval.sqlApiTopK(s, dir)),
    "q204_kmv_overlap" -> ((s, dir) => Sketches.kmvSourceOverlap(s, dir)),
    "q210_moment_sketch" -> ((s, dir) => Sketches.momentSketch(s, dir)),
    "q211_k_anonymity" -> ((s, dir) => CorpusFilters.kAnonymity(s, dir)),
    "q212_unicode_nfc" -> ((s, dir) => TextAnalysis.unicodeNfcAudit(s, dir)),
    "q213_dp_release" -> ((s, dir) => CorpusFilters.dpRelease(s, dir)),
    "q214_bpe_encode" -> ((s, dir) => BpeTrainer.bpeEncode(s, dir)),
    "q205_bpe_merges" -> ((s, dir) => BpeTrainer.bpeMerges(s, dir)),
    "q206_random_walks" -> ((s, dir) => Graph.randomWalks(s, dir)),
    "q209_kcore" -> ((s, dir) => Graph.kCoreQuery(s, dir)),
    "q207_merkle_diff" -> ((s, dir) => Merge.merkleDiff(s, dir)),
    "q208_stream_quantile" -> ((s, dir) =>
      streaming.EventStreams.hourlyQuantileStreamQuery(s, dir)),
    "q215_twa_price" -> ((s, dir) => Relational.twaPrice(s, dir)),
    "q216_image_phash" -> ((s, dir) =>
      multimodal.MediaAnalysis.imagePhashPairs(s, dir)),
    "q217_audio_energy" -> ((s, dir) =>
      multimodal.MediaAnalysis.audioEnergy(s, dir)),
    "q218_video_motion" -> ((s, dir) =>
      multimodal.MediaAnalysis.videoMotion(s, dir)),
    "q219_stream_media_energy" -> ((s, dir) =>
      multimodal.MediaAnalysis.audioEnergyStream(s, dir)),
    "q220_lsh_curve" -> ((s, dir) => Dedup.lshCurve(s, dir)),
    "q221_token_budget" -> ((s, dir) =>
      CorpusFilters.tokenBudgetCurve(s, dir)),
    "q222_dedup_sweep" -> ((s, dir) => Dedup.dedupSweep(s, dir)),
    "q223_image_dedup" -> ((s, dir) =>
      multimodal.MediaAnalysis.imageDedupClusters(s, dir)),
    "q224_revenue_share" -> ((s, dir) => Relational.revenueShare(s, dir)),
    "q225_stickiness" -> ((s, dir) => Relational.stickiness(s, dir)),
    "q226_local_supply" -> ((s, dir) => Relational.localSupplyRevenue(s, dir)),
    "q227_supplier_hhi" -> ((s, dir) =>
      Relational.supplierConcentration(s, dir)),
    "q228_funnel_conversion" -> ((s, dir) => Events.funnelConversion(s, dir)),
    "q229_catalog_margin" -> ((s, dir) => Relational.catalogMargin(s, dir)),
    "q230_returns_rate" -> ((s, dir) => Relational.returnsRate(s, dir)),
    "q231_custom_sink" -> ((s, dir) =>
      sources.DocSinkQueries.sinkRoundTrip(s, dir)),
    "q232_media_quality" -> ((s, dir) =>
      multimodal.MediaAnalysis.mediaQualityCensus(s, dir)),
    "q233_pca_power" -> ((s, dir) => Spectral.pcaTopComponent(s, dir)),
    "q234_orc_roundtrip" -> ((s, dir) =>
      sources.OrcInterchange.orcRoundTrip(s, dir)),
    "q235_readability" -> ((s, dir) => TextAnalysis.readability(s, dir)),
    "q236_l_diversity" -> ((s, dir) => CorpusFilters.lDiversity(s, dir)),
    "q237_join_size_estimate" -> ((s, dir) =>
      Sketches.joinSizeEstimate(s, dir)),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q01_clean_filter" -> Relational.cleanFilterSql,
    "q02_derive_amount" -> Relational.deriveAmountSql,
    "q03_date_days" -> Relational.dateDaysSql,
    "q04_rfm" -> Rfm.rfmOrdersSql,
    "q05_rfm_lineitem" -> Rfm.rfmLineitemSql,
    "q06_zscore" -> Relational.zscoreSql,
    // q90 fuses the whole pipeline into one plan; result must equal q06
    "q90_pipeline_e2e" -> Relational.zscoreSql,
    "q07_plot_bounds" -> Relational.plotBoundsSql,
    "q08_distinct_count" -> Relational.distinctCountSql,
    "q10_top_customers" -> Relational.topCustomersSql,
    "q11_window_rank" -> Relational.windowRankSql,
    "q75_rank_functions" -> Relational.rankFunctionsSql,
    "q12_star_join" -> Relational.starJoinSql,
    "q13_semi_anti_join" -> Relational.semiAntiJoinSql,
    "q14_set_union" -> SetOps.setUnionSql,
    "q15_set_intersect" -> SetOps.setIntersectSql,
    "q16_set_except" -> SetOps.setExceptSql,
    "q26_csv_rfm" -> Retail.csvRfmSql,
    "q30_dedup_exact" -> Dedup.exactDedupSql,
    "q31_dedup_ngram_jaccard" -> Dedup.ngramJaccardSql,
    "q32_dedup_minhash" -> Dedup.minhashDedupSql(),
    "q33_dedup_simhash" -> Dedup.simhashPairsSql(),
    "q34_dedup_embedding" -> Dedup.embeddingNearDupSql(),
    "q35_dedup_clusters" -> Dedup.dedupClustersSql,
    "q134_cluster_canonical" -> Dedup.clusterCanonicalSql,
    "q111_incremental_dedup" -> Dedup.incrementalDedupSql(),
    "q120_novelty" -> Dedup.noveltyScoreSql,
    "q135_repeated_spans" -> Dedup.repeatedSpansSql(),
    "q238_span_scrub" -> Dedup.spanScrubSql(),
    "q240_leakage_safe_split" -> Dedup.leakageSafeSplitSql,
    "q40_text_stats" -> TextAnalysis.textStatsSql,
    "q41_token_count" -> TextAnalysis.tokenCountSql,
    "q42_fingerprint" -> TextAnalysis.fingerprintSql,
    "q44_rolling_hash" -> TextAnalysis.fingerprintRollingSql,
    "q45_corpus_prep" -> CorpusPrep.corpusPrepSql,
    "q50_ann_bruteforce" -> SimilaritySearch.bruteForceTopKSql(),
    "q51_ann_signlsh" -> SimilaritySearch.signLshTopKSql(),
    "q53_embedding_stats" -> SimilaritySearch.embeddingStatsSql,
    "q54_ann_topk_agg" -> SimilaritySearch.bruteForceTopKSql(),
    "q136_hard_negatives" -> SimilaritySearch.hardNegativesSql(),
    "q58_quantize_int8" -> SimilaritySearch.quantizeInt8Sql,
    // media: oracles replay the deterministic payload formulas (bit-exact
    // float32 per media) — the Spark side answers by REALLY decoding
    "q70_media_features" -> multimodal.Multimodal.featureSummarySql,
    "q71_media_wide_images" -> multimodal.Multimodal.wideImagesSql,
    "q72_media_frame_sample" -> multimodal.Multimodal.frameSampleSql,
    "q17_percentiles" -> Relational.percentilesSql,
    "q18_rollup" -> Relational.rollupRevenueSql,
    "q09_histogram" -> Relational.histogramSql,
    "q46_edit_distance" -> TextAnalysis.editDistancePairsSql,
    "q67_session_window" -> Events.sessionWindowsSql,
    "q68_json_extract" -> Events.jsonExtractSql,
    "q69_pivot" -> Events.pivotEventCountsSql,
    "q43_lang_id" -> TextAnalysis.langIdSql,
    "q55_chunking" -> TextAnalysis.chunkDocumentsSql,
    "q56_repetition" -> TextAnalysis.repetitionStatsSql,
    "q57_vocabulary" -> TextAnalysis.vocabularySql,
    "q88_vocab_encode" -> TextAnalysis.vocabEncodeSql(),
    "q92_tfidf" -> TextAnalysis.tfidfTopTermsSql(),
    "q93_pmi_collocations" -> TextAnalysis.pmiCollocationsSql(),
    "q76_decontaminate" -> CorpusFilters.decontaminateSql(),
    "q127_contamination_score" -> CorpusFilters.contaminationScoreSql(),
    "q128_release_pipeline" -> CorpusFilters.releasePipelineSql(),
    "q239_canary_scan" -> CorpusFilters.canaryScanSql(),
    "q77_pii_redact" -> CorpusFilters.piiRedactSql,
    "q78_quality_gates" -> CorpusFilters.qualityGatesSql,
    "q79_intradoc_repetition" -> CorpusFilters.intraDocRepetitionSql(),
    "q107_boilerplate" -> CorpusFilters.boilerplateRemoveSql(),
    "q109_quality_classifier" -> TextAnalysis.linearQualityScoreSql,
    "q47_train_split" -> Sampling.trainValTestSplitSql,
    "q48_hash_sample" -> Sampling.hashSampleSql,
    "q49_mixture_rebalance" -> Sampling.mixtureRebalanceSql,
    "q87_domain_cap" -> Sampling.domainCapSql(),
    "q102_weighted_sample" -> Sampling.weightedSampleSql(),
    "q112_stratified_sample" -> Sampling.stratifiedSampleSql(),
    "q113_weighted_median" -> Relational.weightedMedianSql,
    "q116_robust_scale" -> Relational.robustScaleSql,
    "q59_funnel" -> Events.funnelSql,
    "q60_events_hourly" -> Events.hourlyAggSql,
    "q64_stream_hourly" -> Events.hourlyAggSql,
    "q83_stream_interval_join" -> streaming.EventStreams.intervalJoinSql,
    "q137_stream_outer_join" -> streaming.EventStreams.intervalJoinLeftOuterSql,
    "q286_stream_full_outer_join" ->
      streaming.EventStreams.intervalJoinFullOuterSql,
    "q89_stream_enrich" -> streaming.EventStreams.enrichStreamSql,
    "q61_events_sessionize" -> Events.sessionizeSql,
    "q62_events_running" -> Events.runningAggSql,
    "q63_events_daily_top" -> Events.dailyTopEventsSql,
    "q65_asof_join" -> Events.asofLastPurchaseSql,
    // the custom-operator path must produce the identical result
    "q110_asof_native" -> Events.asofLastPurchaseSql,
    "q66_range_join" -> Events.rangeJoinSql,
    "q73_retention" -> Events.cohortRetentionSql,
    "q74_packing" -> TextAnalysis.sequencePackingSql,
    "q80_gapfill_hourly" -> Events.gapFillHourlySql,
    // partition-pruned scan vs the unpartitioned original: same rows
    "q130_partitioned_day" -> PartitionedEvents.oneDayHourlySql,
    // q84 bloom path is PROVEN identical to the exact path (FPs exactly
    // confirmed), so it reuses q76's oracle verbatim.
    "q84_decontam_bloom" -> CorpusFilters.decontaminateSql(),
    "q86_cube_revenue" -> Relational.cubeRevenueSql,
    "q81_json_ingest" -> JsonSource.jsonIngestSql,
    "q82_merge_upsert" -> Merge.upsertCustomersSql,
    "q91_scd2_history" -> Merge.scd2HistorySql,
    // incremental maintenance must equal the full rebuild — same oracle
    "q101_scd2_incremental" -> Merge.scd2HistorySql,
    "q103_snapshot_diff" -> Merge.snapshotDiffCustomersSql,
    "q94_zorder" -> Layout.zorderSampleSql,
    "q104_hilbert" -> Layout.hilbertSampleSql,
    "q95_pagerank" -> Graph.pagerankSql,
    "q115_triangles" -> Graph.triangleCountsSql,
    "q117_association_rules" -> Graph.associationRulesSql(),
    "q122_bfs_hops" -> Graph.bfsHopsSql(),
    "q96_grouping_sets" -> Relational.groupingSetsRevenueSql,
    // q97 CMS / q118 GK-sketch estimates are not SQL-expressible →
    // rows-only + error-bound specs
    "q119_pit_enrich" -> Merge.pitEnrichOrdersSql,
    // the salted two-phase plan must be indistinguishable from plain GROUP BY
    "q121_salted_agg" -> Skew.saltedUserAggSql,
    "q98_profile" -> Profiling.profileLineitemSql,
    "q241_data_card" -> Profiling.dataCardSql,
    // q242/q285 oracles embed the trained PQ codebook — they come from
    // SimilaritySearch.oracleEntries after the fit has captured it
    "q243_dsir_select" -> Sampling.dsirSelectSql(),
    "q244_postings_index" -> Retrieval.postingsIndexSql(),
    "q245_grouped_ols" -> Relational.groupedOlsSql,
    "q246_ab_test" -> Events.abTestSql,
    "q247_kn_bigram" -> TextAnalysis.knBigramSql(),
    "q248_coreset_sample" -> SimilaritySearch.coresetSampleSql(),
    "q249_schema_evolution" ->
      graft.sources.SchemaEvolution.evolvedPriorityTotalsSql,
    "q250_hazard_table" -> Events.hazardTableSql,
    "q251_chi_square" -> Events.chiSquareSql,
    "q252_cuped" -> Events.cupedSql,
    "q253_mann_whitney" -> Events.mannWhitneySql,
    "q254_permutation_test" -> Events.permutationTestSql,
    "q255_vocab_growth" -> TextAnalysis.vocabGrowthSql,
    "q256_good_turing" -> TextAnalysis.goodTuringSql(),
    "q257_word_dropout" -> TextAnalysis.wordDropoutSql,
    "q258_negative_sampling" -> Sampling.negativeSamplingSql(),
    "q259_triplet_mining" -> SimilaritySearch.tripletMiningSql(),
    "q260_diff_in_diff" -> Events.diffInDiffSql,
    "q261_prefix_sim_join" -> Dedup.prefixSimJoinSql,
    "q262_neyman_sample" -> Sampling.neymanSampleSql(),
    "q263_ams_f2" -> Sketches.amsF2Sql(),
    "q264_theil_sen" -> Events.theilSenSql,
    "q265_activity_completeness" -> Events.activityCompletenessSql,
    "q266_minhash_error_audit" -> Dedup.minhashErrorAuditSql(),
    "q267_hll_declarative" -> Sketches.hllDeclarativeSql,
    "q268_quantile_normalize" -> TextAnalysis.quantileNormalizeSql,
    "q269_hll_merge" -> Sketches.hllMergeRollupSql,
    "q270_class_separability" -> SimilaritySearch.classSeparabilitySql,
    "q271_sorted_neighborhood" -> Linkage.sortedNeighborhoodSql(),
    "q272_markov_attribution" -> Events.markovAttributionSql,
    "q273_entity_merge" -> Linkage.entityMergeSql(),
    "q274_bh_fdr" -> Events.bhFdrSql,
    "q275_packed_manifest" -> TextAnalysis.packedSequenceManifestSql(),
    "q276_cohens_kappa" -> TextAnalysis.cohensKappaSql,
    "q277_cms_error_audit" -> Sketches.cmsErrorAuditSql(),
    "q278_zone_map_audit" -> Profiling.zoneMapAuditSql,
    "q280_split_parity" -> Dedup.splitParitySql,
    "q281_simhash_calibration" -> Dedup.simhashCalibrationSql,
    "q282_source_ablation" -> TextAnalysis.sourceAblationSql,
    "q283_simhash_router" -> Dedup.simhashRouterCalibrationSql,
    "q287_routed_near_dup" -> Dedup.routedNearDupAuditSql(),
    "q289_routed_removal" -> Dedup.routedDedupRemovalSql(),
    "q290_zorder_skipping" -> Layout.zorderSelectivityRollupSql,
    "q291_late_data_census" -> streaming.EventStreams.lateDataCensusSql(),
    "q292_stream_neardup_gate" -> Dedup.streamingNearDupGateSql,
    "q293_gate_ttl" -> Dedup.streamingNearDupGateTtlSql(),
    "q301_gate_horizon_sweep" -> Dedup.gateHorizonSweepSql(),
    // restart must be invisible in the output: q302's oracle IS q292's
    "q302_checkpoint_restart" -> Dedup.streamingNearDupGateSql,
    "q303_index_delete" -> Dedup.indexDeleteAuditSql,
    "q304_ann_delete" -> SimilaritySearch.annDeleteAuditSql(),
    // append -> delete -> compact must land on exactly q303's invariant
    "q305_index_lifecycle" -> Dedup.lifecycleAuditSql,
    "q306_forget_cascade" -> Forget.cascadeAuditSql,
    "q294_gate_state_census" -> Dedup.gateStateCensusSql,
    "q295_router_census" -> Dedup.routerCandidateCensusSql,
    "q296_incremental_index" -> Dedup.incrementalIndexAuditSql,
    "q297_watermark_curve" -> streaming.EventStreams.watermarkDelayCurveSql(),
    "q298_compaction" -> Dedup.compactionAuditSql,
    "q299_incremental_ann" -> SimilaritySearch.incrementalAnnAuditSql(),
    "q284_clustered_rollup" -> Layout.clusteredMonthlyRollupSql,
    "q279_pii_wilson" -> CorpusFilters.piiRateIntervalSql,
    "q139_dq_checks" -> Profiling.dqChecksSql,
    "q140_blocked_linkage" -> Linkage.blockedLinkageSql(),
    "q141_source_diversity" -> TextAnalysis.sourceDiversitySql,
    "q142_split_leakage" -> Dedup.splitLeakageSql,
    "q143_ewma_daily" -> Events.ewmaDailySql(),
    "q144_target_encoding" -> Features.targetEncodingSql(),
    "q145_embedding_outliers" -> SimilaritySearch.embeddingOutliersSql,
    "q123_benford" -> Profiling.benfordScreenSql,
    "q124_knn_join" -> SimilaritySearch.knnJoinSql(),
    "q125_temperature_mix" -> Sampling.temperatureMixtureSql,
    "q132_mixture_plan" -> Sampling.mixturePlanSql,
    "q133_quality_topp" -> Sampling.qualityTopPSql(),
    "q138_global_shuffle" -> Sampling.globalShuffleShardsSql(),
    "q126_length_batches" -> TextAnalysis.lengthBatchesSql(),
    "q99_anomalies" -> Events.anomaliesSql,
    "q105_transitions" -> Events.transitionMatrixSql,
    "q114_session_paths" -> Events.sessionPathsSql,
    // the streaming gate emits the identical flag set (StreamingSpec pins
    // stream-vs-batch equality); the oracle is shared with q99
    "q100_stream_anomalies" -> Events.anomaliesSql,
    // double-delivered stream must collapse to the original table exactly
    "q106_stream_dedup" -> streaming.EventStreams.dedupStreamSql,
    // Round-7 additions
    "q146_stream_session_window" ->
      streaming.EventStreams.sessionWindowStreamSql,
    "q147_freq_spectrum" -> TextAnalysis.freqSpectrumSql,
    "q148_salting_plan" -> Skew.saltingPlanSql(),
    "q149_normalized_fingerprint" -> Dedup.normalizedFingerprintSql,
    "q150_gram_novelty" -> Dedup.gramNoveltySql,
    // the bucketed plan must be indistinguishable from the plain join
    "q151_bucketed_join" -> Bucketing.bucketedSegmentAggSql,
    "q152_stream_sliding" -> streaming.EventStreams.slidingStreamSql,
    "q153_stream_pit_enrich" -> streaming.EventStreams.pitEnrichStreamSql,
    "q154_knn_label_audit" -> SimilaritySearch.knnLabelConsistencySql(),
    "q155_cross_source_matrix" -> Dedup.crossSourceMatrixSql,
    // the maintained CDC table must equal the batch rebuild over the feed
    "q156_stream_cdc_apply" -> streaming.CdcApply.cdcApplyStreamSql,
    "q157_distribution_drift" -> Profiling.distributionDriftSql(),
    "q158_curriculum" -> TextAnalysis.curriculumScheduleSql,
    "q159_hourly_bursts" -> Events.hourlyBurstsSql,
    "q160_padding_waste" -> TextAnalysis.paddingWasteSql(),
    "q161_attribution" -> Events.lastTouchAttributionSql(),
    "q174_asof_forward" -> Events.clickConversionForwardSql(),
    "q175_unigram_surprisal" -> TextAnalysis.unigramSurprisalSql,
    "q176_lang_vocab_profile" -> TextAnalysis.langVocabProfileSql,
    "q177_bigram_surprisal" -> TextAnalysis.bigramSurprisalSql,
    "q178_containment_pairs" -> Dedup.containmentPairsSql(),
    "q179_winsorized_stats" -> Profiling.winsorizedStatsSql,
    "q180_unpivot_metrics" -> Relational.unpivotMetricsSql,
    "q181_equidepth_deciles" -> Relational.equidepthDecilesSql,
    "q182_hourly_autocov" -> Events.hourlyAutocovComponentsSql,
    "q183_moving_avg" -> Relational.movingAvgDailyRevenueSql,
    "q184_time_heatmap" -> Events.timeHeatmapSql,
    "q185_cohort_matrix" -> Events.cohortMatrixSql,
    "q186_ks_drift" -> Profiling.ksDriftSql,
    "q187_bootstrap" -> Sampling.bootstrapRevenueSql(),
    "q188_interarrival" -> Events.interarrivalQuantilesSql,
    "q189_similar_customers" -> Graph.similarCustomersSql(),
    "q190_seasonal_backtest" -> Relational.seasonalBacktestSql,
    "q191_linear_attribution" -> Events.linearAttributionSql(),
    "q192_new_vs_returning" -> Events.newVsReturningSql,
    "q193_revenue_gini" -> Relational.revenueGiniSql,
    "q194_sla_lateness" -> Relational.slaLatenessSql(),
    "q195_discount_effect" -> Relational.discountEffectSql,
    "q196_custom_source" -> sources.GenDocsQueries.bucketRollupSql,
    "q197_changepoint" -> Relational.cusumChangepointSql,
    "q198_lang_confusion" -> TextAnalysis.langConfusionSql,
    "q199_band_migration" -> Relational.bandMigrationSql,
    "q200_bm25" -> Retrieval.bm25Sql(),
    "q201_rrf_fusion" -> Retrieval.rrfFusionSql(),
    "q202_skyline" -> Skyline.skylineSql,
    "q203_sql_api" -> Retrieval.sqlApiTopKSql(),
    "q204_kmv_overlap" -> Sketches.kmvSourceOverlapSql(),
    "q210_moment_sketch" -> Sketches.momentSketchSql,
    "q211_k_anonymity" -> CorpusFilters.kAnonymitySql(),
    "q212_unicode_nfc" -> TextAnalysis.unicodeNfcAuditSql,
    "q213_dp_release" -> CorpusFilters.dpReleaseSql(),
    "q205_bpe_merges" -> BpeTrainer.bpeMergesSql(),
    // q214 graduated (round 9) from captured merge literals to a fully
    // static oracle: DuckDB re-trains the merges via the same chained CTEs
    // and applies them through scalar subqueries
    "q214_bpe_encode" -> BpeTrainer.bpeEncodeStaticSql(),
    // q233 graduated (round 9): DuckDB re-runs the 3000-round power
    // iteration in a recursive CTE (bit-exact: sequential list_reduce
    // folds of correctly-rounded ops) — no captured literals
    "q233_pca_power" -> Spectral.pcaTopComponentSql,
    "q206_random_walks" -> Graph.randomWalksSql(),
    "q207_merkle_diff" -> Merge.merkleDiffSql(),
    "q208_stream_quantile" -> streaming.EventStreams.hourlyQuantileSql,
    "q215_twa_price" -> Relational.twaPriceSql,
    "q216_image_phash" -> multimodal.MediaAnalysis.imagePhashPairsSql(),
    "q217_audio_energy" -> multimodal.MediaAnalysis.audioEnergySql(),
    "q218_video_motion" -> multimodal.MediaAnalysis.videoMotionSql,
    "q219_stream_media_energy" -> multimodal.MediaAnalysis.audioEnergySql(),
    "q220_lsh_curve" -> Dedup.lshCurveSql(),
    "q221_token_budget" -> CorpusFilters.tokenBudgetCurveSql,
    "q222_dedup_sweep" -> Dedup.dedupSweepSql(),
    "q223_image_dedup" -> multimodal.MediaAnalysis.imageDedupClustersSql(),
    "q224_revenue_share" -> Relational.revenueShareSql,
    "q225_stickiness" -> Relational.stickinessSql,
    "q226_local_supply" -> Relational.localSupplyRevenueSql,
    "q227_supplier_hhi" -> Relational.supplierConcentrationSql,
    "q228_funnel_conversion" -> Events.funnelConversionSql(),
    "q229_catalog_margin" -> Relational.catalogMarginSql,
    "q230_returns_rate" -> Relational.returnsRateSql,
    "q231_custom_sink" -> sources.DocSinkQueries.sinkRoundTripSql,
    "q232_media_quality" ->
      multimodal.MediaAnalysis.mediaQualityCensusSql,
    // every aggregated value has crossed parquet -> ORC -> reader; the
    // oracle aggregates the original parquet, so the hash gates fidelity
    "q234_orc_roundtrip" -> sources.OrcInterchange.orcRoundTripSql,
    "q235_readability" -> TextAnalysis.readabilitySql,
    "q236_l_diversity" -> CorpusFilters.lDiversitySql(),
    // declarative md5-hashed CM sketch: DuckDB rebuilds the identical
    // counters, so the estimator itself rides the hard hash gate
    "q237_join_size_estimate" -> Sketches.joinSizeEstimateSql(),
    "q162_weighted_jaccard" -> Dedup.weightedJaccardSql(),
    "q163_rendezvous_shards" -> Sampling.rendezvousShardsSql(),
    "q164_source_similarity" -> Profiling.sourceSimilaritySql,
    "q165_label_propagation" -> Graph.labelPropagationSql(),
    "q167_forget_audit" -> CorpusFilters.forgetAuditSql,
    "q168_pii_audit" -> CorpusFilters.piiAuditSql,
    "q169_fertility" -> TextAnalysis.tokenizerFertilitySql,
    "q170_ann_int8" -> SimilaritySearch.annInt8TopKSql(),
    // incremental merge must equal the full rebuild — that IS the contract
    "q171_incremental_stats" -> Merge.incrementalStatsSql,
    "q172_debounce" -> Events.debounceSql(),
  ) ++
    // Oracles whose SQL embeds SEEDED-FIT constants (scaler, centroids) as
    // double literals, buildable only after the fit has run — Verify dumps
    // oracleSql after executing every query, so the driver's full run
    // always includes them; a narrowed run that skipped the ML queries
    // omits them and the driver falls back to the rows-only check.
    Clustering.oracleEntries ++
    SimilaritySearch.oracleEntries ++
    Dedup.semanticOracleEntries ++
    // Sketch soft-oracles (round 6): captured estimates as literals, bound
    // flags re-derived against DuckDB's own exact aggregates
    Relational.sketchOracleEntries ++
    Sketches.oracleEntries ++
    // q129: unrolled-CTE oracle at the CAPTURED convergence round count
    Graph.oracleEntries ++
    // q173: streamed HLL estimates as literals, bounds re-derived by DuckDB
    streaming.EventStreams.oracleEntries
}
