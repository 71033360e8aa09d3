package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{CdcQueries, IngestQueries, PipelineQueries, Relational, TemporalQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one operator from SURVEY.md §2
  * re-expressed Spark-first; [[oracleSql]] carries the equivalent
  * ANSI SQL the driver runs in DuckDB over the same parquet tables.
  * Column names and ordering are aligned pairwise (the driver's
  * compare sorts columns by name and hash-compares values).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  /** Queries excluded from Bench timing: entries that exist to prove
    * an ingest/streaming path end-to-end and spend their time on
    * local disk round-trips (write+read-back) rather than query
    * execution — timing them would measure the test harness.
    */
  def benchExclude: Set[String] = Set(
    "q30_migrate_counts", "q31_csv_roundtrip",
    "q32_cdc_stream", "q33_stream_hourly", "q39_stream_sessions",
    "q43_stream_dedup", "q51_stream_enrich", "q59_stream_stream_join",
    "q61_json_roundtrip", "q68_jdbc_cdc_live", "q69_jdbc_sink_roundtrip",
    "q71_catalog_migrate", "q73_orc_roundtrip", "q74_converted_migrate",
    "q94_custom_state_sessions", "q140_redelivery_dedup",
    "q147_xml_roundtrip", "q151_remigrate_drift",
    "q154_stream_novelty", "q155_stream_contamination",
    "q162_stream_agreement", "q176_stream_score", "q179_stream_drift",
    "q180_monitor_novelty", "q181_monitor_contamination",
    "q182_monitor_agreement", "q183_monitor_score", "q184_monitor_drift",
    "q185_monitor_jsd", "q186_stream_embedding_drift",
    "q192_monitor_ks_matrix", "q193_monitor_vocab",
    "q197_monitor_class_auc")

  /** The per-round bench tier: the data-touching shapes whose
    * isolated timing measures QUERY work. Selection rule (from the
    * committed round-13 pair): every timed query whose median was
    * >= 1.5 s in EITHER sweep — below that line the isolated-child
    * protocol mostly measures JVM+session startup (the ~90 census-
    * shaped sub-second metrics), and 60+ such children were exactly
    * what pushed the full sweep past the driver's wall-clock window.
    * The full set still runs under SPARK_GRAFT_BENCH_TIER=full when
    * a sweep touches it; new sub-core queries are measured standalone
    * via SPARK_GRAFT_BENCH_ONLY on introduction.
    */
  def benchCore: Set[String] = Set(
    "q01_pricing_summary", "q03_join_revenue", "q04_broadcast_dim_join",
    "q13_rollup", "q24_ngram_jaccard", "q25_minhash_dedup",
    "q26_simhash_dedup", "q28_knn_ivf", "q29_label_centroid",
    "q35_embedding_neardup", "q41_dup_clusters", "q45_percentiles",
    "q46_pipeline", "q47_token_budget", "q49_cube", "q64_skew_join",
    "q65_funnel", "q72_contamination_bloom", "q82_tfidf_terms",
    "q85_value_anomalies", "q86_vocab_encode", "q91_exact_corr",
    "q92_copurchase_rank", "q93_orders_diff", "q96_video_decode",
    "q98_leakage_split", "q100_incremental_dedup", "q101_zorder_layout",
    "q102_perplexity", "q103_bpe_merges", "q104_bpe_encode",
    "q106_triangles", "q107_semantic_dedup", "q110_url_dedup",
    "q111_dup_spans", "q113_substr_dedup", "q114_gopher_rules",
    "q115_ppl_buckets", "q116_backoff_ppl", "q117_dsir_weights",
    "q118_nb_langid", "q119_hits", "q120_neighbor_jaccard",
    "q121_winsorized", "q123_contamination_attr", "q126_components_star",
    "q128_containment", "q129_kcore", "q132_mmr_select", "q133_seed_rank",
    "q138_label_prop", "q142_ann_recall", "q144_ann_recall_ivf",
    "q145_ann_recall_pq", "q146_ann_recall_rplsh", "q149_retrieval_eval",
    "q152_source_overlap", "q158_generation_bleu", "q160_retrieval_map",
    "q161_generation_rouge", "q163_krippendorff", "q164_generation_chrf",
    "q166_roc_curve", "q167_calibration", "q168_spearman",
    "q169_ngram_diversity", "q170_avg_precision", "q172_source_jsd",
    "q177_embedding_drift")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary"   -> Relational.pricingSummary _,
    "q02_filter_project"    -> Relational.filterProject _,
    "q03_join_revenue"      -> Relational.joinRevenue _,
    "q04_broadcast_dim_join" -> Relational.broadcastDimJoin _,
    "q05_nation_revenue"    -> Relational.nationRevenue _,
    "q06_window_topn"       -> Relational.topEventsPerUser _,
    "q07_window_running_sum" -> Relational.runningSumPerUser _,
    "q08_replacing_final"   -> Relational.replacingFinalState _,
    "q09_union_routing"     -> Relational.unionRouting _,
    "q10_intersect"         -> Relational.intersectCustomers _,
    "q11_anti_join"         -> Relational.customersWithoutOrders _,
    "q12_topk"              -> Relational.topOrders _,
    "q13_rollup"            -> Relational.rollupSummary _,
    "q14_distinct_agg"      -> Relational.distinctAgg _,
    "q15_json_extract"      -> Relational.jsonExtract _,
    "q16_hourly_agg"        -> Relational.hourlyEventAgg _,
    "q17_cdc_apply"         -> CdcQueries.cdcFinalState _,
    "q18_text_stats"        -> PipelineQueries.textStats _,
    "q19_token_count"       -> PipelineQueries.tokenCounts _,
    "q20_quality_score"     -> PipelineQueries.qualityScores _,
    "q21_langid"            -> PipelineQueries.langIdConfusion _,
    "q22_fingerprint"       -> PipelineQueries.fingerprints _,
    "q23_exact_dedup"       -> PipelineQueries.exactDedup _,
    "q24_ngram_jaccard"     -> PipelineQueries.ngramJaccardPairs _,
    "q25_minhash_dedup"     -> PipelineQueries.minhashDedup _,
    "q26_simhash_dedup"     -> PipelineQueries.simhashDedup _,
    "q27_knn_brute"         -> PipelineQueries.knnBruteForce _,
    "q28_knn_ivf"           -> PipelineQueries.knnIvf _,
    "q29_label_centroid"    -> PipelineQueries.labelCentroids _,
    "q30_migrate_counts"    -> IngestQueries.migrateCounts _,
    "q31_csv_roundtrip"     -> IngestQueries.csvRoundtrip _,
    "q32_cdc_stream"        -> IngestQueries.cdcStreamState _,
    "q33_stream_hourly"     -> IngestQueries.streamHourlyAgg _,
    "q34_multimodal"        -> PipelineQueries.multimodalExtract _,
    "q35_embedding_neardup" -> PipelineQueries.embeddingNearDup _,
    "q36_sessionize"        -> TemporalQueries.sessionStats _,
    "q37_asof_join"         -> TemporalQueries.asOfOrders _,
    "q38_range_join"        -> TemporalQueries.eventBursts _,
    "q39_stream_sessions"   -> IngestQueries.streamSessions _,
    "q40_profile"           -> PipelineQueries.profileDocuments _,
    "q41_dup_clusters"      -> PipelineQueries.dupClusters _,
    "q42_training_mix"      -> PipelineQueries.trainingMixSample _,
    "q43_stream_dedup"      -> IngestQueries.streamDedup _,
    "q44_repetition"        -> PipelineQueries.repetitionSignals _,
    "q45_percentiles"       -> PipelineQueries.lineitemPercentiles _,
    "q46_pipeline"          -> PipelineQueries.trainingPipeline _,
    "q47_token_budget"      -> PipelineQueries.tokenBudget _,
    "q48_contamination"     -> PipelineQueries.contamination _,
    "q49_cube"              -> Relational.cubeSummary _,
    "q50_pivot"             -> Relational.dailyEventPivot _,
    "q51_stream_enrich"     -> IngestQueries.streamStaticEnrich _,
    "q52_except"            -> Relational.exceptCustomers _,
    "q53_ntile"             -> Relational.customerSpendQuartiles _,
    "q54_grouping_sets"     -> Relational.groupingSetsSummary _,
    "q55_token_freq"        -> Relational.tokenFrequency _,
    "q56_semi_join"         -> Relational.customersWithUrgentOrders _,
    "q57_scalar_funcs"      -> Relational.scalarFunctionShowcase _,
    "q58_array_funcs"       -> Relational.arrayFunctionShowcase _,
    "q59_stream_stream_join" -> IngestQueries.streamStreamJoin _,
    "q60_knn_int8"          -> PipelineQueries.knnInt8 _,
    "q61_json_roundtrip"    -> IngestQueries.jsonRoundtrip _,
    "q62_range_frame"       -> Relational.trailingWindowStats _,
    "q63_udaf_weighted_mean" -> Relational.weightedAvgPrice _,
    "q64_skew_join"         -> Relational.skewJoinRevenue _,
    "q65_funnel"            -> TemporalQueries.funnelDepth _,
    "q66_lag_lead"          -> Relational.interEventGaps _,
    "q67_group_percentiles" -> Relational.groupedPercentiles _,
    "q68_jdbc_cdc_live"     -> IngestQueries.jdbcCdcLive _,
    "q69_jdbc_sink_roundtrip" -> IngestQueries.jdbcSinkRoundtrip _,
    "q70_image_decode"      -> PipelineQueries.imageDecode _,
    "q71_catalog_migrate"   -> IngestQueries.catalogMigrate _,
    "q72_contamination_bloom" -> PipelineQueries.contaminationBloom _,
    "q73_orc_roundtrip"     -> IngestQueries.orcRoundtrip _,
    "q74_converted_migrate" -> IngestQueries.convertedMigrate _,
    "q75_sequence_packing"  -> PipelineQueries.sequencePacking _,
    "q76_document_chunks"   -> PipelineQueries.documentChunks _,
    "q77_fixed_mix"         -> PipelineQueries.fixedMixSample _,
    "q78_price_histogram"   -> PipelineQueries.priceHistogram _,
    "q79_gap_filled_hourly" -> TemporalQueries.gapFilledHourly _,
    "q80_pii_redaction"     -> PipelineQueries.piiRedaction _,
    "q81_domain_traffic"    -> PipelineQueries.domainTraffic _,
    "q82_tfidf_terms"       -> PipelineQueries.tfidfTerms _,
    "q83_weighted_sample"   -> PipelineQueries.weightedSample _,
    "q84_heavy_hitters"     -> PipelineQueries.heavyParts _,
    "q85_value_anomalies"   -> TemporalQueries.valueAnomalies _,
    "q86_vocab_encode"      -> PipelineQueries.vocabEncode _,
    "q87_knn_pq"            -> PipelineQueries.knnPq _,
    "q88_source_drift"      -> PipelineQueries.sourceDrift _,
    "q89_cohort_retention"  -> TemporalQueries.cohortRetention _,
    "q90_fuzzy_match"       -> PipelineQueries.fuzzyCustomers _,
    "q91_exact_corr"        -> PipelineQueries.priceQuantityCorr _,
    "q92_copurchase_rank"   -> PipelineQueries.copurchaseRank _,
    "q93_orders_diff"       -> PipelineQueries.ordersDiff _,
    "q94_custom_state_sessions" -> IngestQueries.streamCustomStateSessions _,
    "q95_audio_decode"      -> PipelineQueries.audioDecode _,
    "q96_video_decode"      -> PipelineQueries.videoDecode _,
    "q97_embedding_lsh"     -> PipelineQueries.embeddingLshPairs _,
    "q98_leakage_split"     -> PipelineQueries.leakageSplit _,
    "q99_shard_shuffle"     -> PipelineQueries.shardShuffled _,
    "q100_incremental_dedup" -> PipelineQueries.incrementalDedup _,
    "q101_zorder_layout"    -> PipelineQueries.zOrderLayout _,
    "q102_perplexity"       -> PipelineQueries.perplexity _,
    "q103_bpe_merges"       -> PipelineQueries.bpeMerges _,
    "q104_bpe_encode"       -> PipelineQueries.bpeEncode _,
    "q105_kmeans"           -> PipelineQueries.kmeansClusters _,
    "q107_semantic_dedup"   -> PipelineQueries.semanticDedup _,
    "q108_locf_daily"       -> TemporalQueries.locfDaily _,
    "q109_bm25_topk"        -> PipelineQueries.bm25Retrieval _,
    "q110_url_dedup"        -> PipelineQueries.urlDedup _,
    "q111_dup_spans"        -> PipelineQueries.dupSpanCoverage _,
    "q112_temperature_mix"  -> PipelineQueries.temperatureMixSample _,
    "q106_triangles"        -> PipelineQueries.supplierTriangles _,
    "q113_substr_dedup"     -> PipelineQueries.substrDedup _,
    "q114_gopher_rules"     -> PipelineQueries.gopherRules _,
    "q115_ppl_buckets"      -> PipelineQueries.perplexityBuckets _,
    "q116_backoff_ppl"      -> PipelineQueries.backoffPerplexity _,
    "q117_dsir_weights"     -> PipelineQueries.dsirWeights _,
    "q118_nb_langid"        -> PipelineQueries.nbLanguage _,
    "q119_hits"             -> PipelineQueries.copurchaseHits _,
    "q120_neighbor_jaccard" -> PipelineQueries.copurchaseNeighborSim _,
    "q121_winsorized"       -> PipelineQueries.winsorizedPrices _,
    "q122_ewma"             -> PipelineQueries.userValueEwma _,
    "q123_contamination_attr" -> PipelineQueries.contaminationVerdicts _,
    "q124_readability"      -> PipelineQueries.readability _,
    "q125_rank_fusion"      -> PipelineQueries.qualityRankFusion _,
    "q126_components_star"  -> PipelineQueries.dupClustersStar _,
    "q127_pmi_bigrams"      -> PipelineQueries.pmiCollocations _,
    "q128_containment"      -> PipelineQueries.containedDocs _,
    "q129_kcore"            -> PipelineQueries.copurchaseKCore _,
    "q130_scd2"             -> TemporalQueries.userTypeScd2 _,
    "q131_quantile_norm"    -> PipelineQueries.lengthQuantileNorm _,
    "q132_mmr_select"       -> PipelineQueries.mmrDiverse _,
    "q133_seed_rank"        -> PipelineQueries.copurchaseSeedRank _,
    "q134_char_entropy"     -> PipelineQueries.docCharEntropy _,
    "q135_markov"           -> TemporalQueries.eventTransitions _,
    "q136_cusum"            -> TemporalQueries.dailyVolumeCusum _,
    "q137_state_diff"       -> TemporalQueries.lastEventStateDiff _,
    "q138_label_prop"       -> PipelineQueries.copurchaseLabelProp _,
    "q139_mad_outliers"     -> PipelineQueries.lengthMadOutliers _,
    "q140_redelivery_dedup" -> IngestQueries.streamRedeliveryDedup _,
    "q141_top_p_sources"    -> PipelineQueries.topPSources _,
    "q142_ann_recall"       -> PipelineQueries.annRecallInt8 _,
    "q143_hard_negatives"   -> PipelineQueries.hardNegativeMining _,
    "q144_ann_recall_ivf"   -> PipelineQueries.annRecallIvf _,
    "q145_ann_recall_pq"    -> PipelineQueries.annRecallPq _,
    "q146_ann_recall_rplsh" -> PipelineQueries.annRecallRpLsh _,
    "q147_xml_roundtrip"    -> IngestQueries.xmlRoundtrip _,
    "q148_embed_contamination" -> PipelineQueries.embeddingContamination _,
    "q149_retrieval_eval"   -> PipelineQueries.retrievalEval _,
    "q150_ngram_novelty"    -> PipelineQueries.ngramNovelty _,
    "q151_remigrate_drift"  -> IngestQueries.remigrateDrift _,
    "q152_source_overlap"   -> PipelineQueries.sourceOverlap _,
    "q153_langid_eval"      -> PipelineQueries.langIdEval _,
    "q154_stream_novelty"   -> IngestQueries.monitorNovelty _,
    "q155_stream_contamination" -> IngestQueries.monitorContamination _,
    "q156_fleiss_kappa"     -> PipelineQueries.raterAgreement _,
    "q157_ann_rbo"          -> PipelineQueries.annRboInt8 _,
    "q158_generation_bleu"  -> PipelineQueries.generationBleu _,
    "q159_retrieval_ndcg"   -> PipelineQueries.retrievalNdcg _,
    "q160_retrieval_map"    -> PipelineQueries.retrievalMap _,
    "q161_generation_rouge" -> PipelineQueries.generationRouge _,
    "q162_stream_agreement" -> IngestQueries.monitorAgreement _,
    "q163_krippendorff"     -> PipelineQueries.raterAlpha _,
    "q164_generation_chrf"  -> PipelineQueries.generationChrf _,
    "q165_roc_auc"          -> PipelineQueries.langScoreAuc _,
    "q166_roc_curve"        -> PipelineQueries.langScoreRoc _,
    "q167_calibration"      -> PipelineQueries.langScoreCalibration _,
    "q168_spearman"         -> PipelineQueries.lengthTokenSpearman _,
    "q169_ngram_diversity"  -> PipelineQueries.sourceDiversity _,
    "q170_avg_precision"    -> PipelineQueries.langScoreAp _,
    "q171_brier"            -> PipelineQueries.langScoreBrier _,
    "q172_source_jsd"       -> PipelineQueries.sourceJsd _,
    "q173_ks_drift"         -> PipelineQueries.sourceLengthKs _,
    "q174_mcc"              -> PipelineQueries.langIdMcc _,
    "q175_vocab_coverage"   -> PipelineQueries.sourceVocabCoverage _,
    "q176_stream_score"     -> IngestQueries.monitorScore _,
    "q177_embedding_drift"  -> PipelineQueries.labelEmbeddingDrift _,
    "q178_log_loss"         -> PipelineQueries.langScoreLogLoss _,
    "q179_stream_drift"     -> IngestQueries.monitorDrift _,
    "q180_monitor_novelty"  -> IngestQueries.monitorNovelty _,
    "q181_monitor_contamination" -> IngestQueries.monitorContamination _,
    "q182_monitor_agreement" -> IngestQueries.monitorAgreement _,
    "q183_monitor_score"    -> IngestQueries.monitorScore _,
    "q184_monitor_drift"    -> IngestQueries.monitorDrift _,
    "q185_monitor_jsd"      -> IngestQueries.monitorJsd _,
    "q186_stream_embedding_drift" -> IngestQueries.streamEmbeddingDrift _,
    "q187_kendall_tau"      -> PipelineQueries.markerLengthKendall _,
    "q188_multiclass_logloss" -> PipelineQueries.multiclassLogLoss _,
    "q189_ks_matrix"        -> PipelineQueries.sourceLengthKsMatrix _,
    "q190_multiclass_calibration" -> PipelineQueries.multiclassCalibration _,
    "q191_class_pr_auc"     -> PipelineQueries.multiclassAp _,
    "q192_monitor_ks_matrix" -> IngestQueries.monitorKsMatrix _,
    "q193_monitor_vocab"    -> IngestQueries.monitorVocab _,
    "q194_null_score_auc"   -> PipelineQueries.nullScoreAuc _,
    "q195_class_roc_auc"    -> PipelineQueries.multiclassAuc _,
    "q196_class_operating_points" -> PipelineQueries.classOperatingPoints _,
    "q197_monitor_class_auc" -> IngestQueries.monitorClassAuc _,
    "q198_quantize_milli"   -> PipelineQueries.quantizeMilliCensus _,
  )

  /** q153's oracle, shared verbatim by q162 and q182 (both read the
    * shared monitor's agreement leg: confusion-cell counts are
    * additive and commutative, so the durable census must grade
    * identically): q21's labeler graded against gold labels —
    * per-class P/R/F1 from the confusion matrix, global accuracy,
    * Cohen's kappa (agree·N − Σ n_gold·n_pred)/(N² − Σ
    * n_gold·n_pred) in HUGEINT mirroring the engine's DECIMAL(38,0),
    * and the multiclass Matthews R_K off the same marginals
    * (num/(√(N²−Σp²)·√(N²−Σg²)), the engine's two-root IEEE order).
    */
  private val LangIdEvalSql: String =
    """WITH p AS (SELECT lang AS gold,
      |    CASE WHEN len(list_filter(string_split(text,' '), x -> x='the' OR x='a')) >= 2
      |         THEN 'en' ELSE 'und' END AS pred
      |  FROM documents),
      |cm AS (SELECT gold, pred, COUNT(*) AS n FROM p GROUP BY 1, 2),
      |gm AS (SELECT gold AS cls, SUM(n) AS n_gold FROM cm GROUP BY 1),
      |pm AS (SELECT pred AS cls, SUM(n) AS n_pred FROM cm GROUP BY 1),
      |cls AS (SELECT cls FROM gm UNION SELECT cls FROM pm),
      |tot AS (SELECT CAST(SUM(n) AS HUGEINT) AS nn,
      |    CAST(COALESCE(SUM(CASE WHEN gold = pred THEN n END), 0) AS HUGEINT) AS agree
      |  FROM cm),
      |rc AS (SELECT CAST(COALESCE(SUM(CAST(COALESCE(gm.n_gold, 0) AS HUGEINT) *
      |      CAST(COALESCE(pm.n_pred, 0) AS HUGEINT)), 0) AS HUGEINT) AS s
      |  FROM cls LEFT JOIN gm USING (cls) LEFT JOIN pm USING (cls)),
      |sq AS (SELECT
      |    (SELECT CAST(COALESCE(SUM(CAST(n_pred AS HUGEINT) * CAST(n_pred AS HUGEINT)), 0) AS HUGEINT) FROM pm) AS sp,
      |    (SELECT CAST(COALESCE(SUM(CAST(n_gold AS HUGEINT) * CAST(n_gold AS HUGEINT)), 0) AS HUGEINT) FROM gm) AS sg),
      |dg AS (SELECT gold AS cls, n AS tp0 FROM cm WHERE gold = pred)
      |SELECT cls.cls,
      |  CAST(COALESCE(dg.tp0, 0) AS BIGINT) AS tp,
      |  CAST(COALESCE(pm.n_pred, 0) - COALESCE(dg.tp0, 0) AS BIGINT) AS fp,
      |  CAST(COALESCE(gm.n_gold, 0) - COALESCE(dg.tp0, 0) AS BIGINT) AS fn,
      |  CASE WHEN COALESCE(pm.n_pred, 0) > 0
      |       THEN CAST(COALESCE(dg.tp0, 0) AS DOUBLE)/CAST(pm.n_pred AS DOUBLE)
      |       ELSE 0.0 END AS prec,
      |  CASE WHEN COALESCE(gm.n_gold, 0) > 0
      |       THEN CAST(COALESCE(dg.tp0, 0) AS DOUBLE)/CAST(gm.n_gold AS DOUBLE)
      |       ELSE 0.0 END AS rec,
      |  CASE WHEN 2*COALESCE(dg.tp0, 0) + (COALESCE(pm.n_pred, 0) - COALESCE(dg.tp0, 0))
      |            + (COALESCE(gm.n_gold, 0) - COALESCE(dg.tp0, 0)) > 0
      |       THEN CAST(2*COALESCE(dg.tp0, 0) AS DOUBLE) /
      |            CAST(COALESCE(pm.n_pred, 0) + COALESCE(gm.n_gold, 0) AS DOUBLE)
      |       ELSE 0.0 END AS f1,
      |  CAST(tot.agree AS DOUBLE)/CAST(tot.nn AS DOUBLE) AS accuracy,
      |  CASE WHEN tot.nn*tot.nn - rc.s != 0
      |       THEN CAST(tot.agree*tot.nn - rc.s AS DOUBLE)/CAST(tot.nn*tot.nn - rc.s AS DOUBLE)
      |       ELSE 0.0 END AS kappa,
      |  CASE WHEN tot.nn*tot.nn - sq.sp > 0 AND tot.nn*tot.nn - sq.sg > 0
      |       THEN CAST(tot.nn*tot.agree - rc.s AS DOUBLE) /
      |            (sqrt(CAST(tot.nn*tot.nn - sq.sp AS DOUBLE)) *
      |             sqrt(CAST(tot.nn*tot.nn - sq.sg AS DOUBLE)))
      |       ELSE 0.0 END AS mcc
      |FROM cls LEFT JOIN gm USING (cls) LEFT JOIN pm USING (cls)
      |LEFT JOIN dg USING (cls) CROSS JOIN tot CROSS JOIN rc CROSS JOIN sq
      |ORDER BY cls.cls""".stripMargin

  /** q165's oracle, shared verbatim by q176 and q183 (both read the
    * shared monitor's score leg: per-score (pos, neg) counts are
    * additive and commutative, so the durable census must yield
    * bit-identical ROC-AUC): the marker-hit score's exact
    * Mann–Whitney AUC against gold lang='en', census cumulative in
    * a window, pair mass in HUGEINT.
    */
  private val LangScoreAucSql: String =
    """WITH d AS (SELECT
      |    len(list_filter(string_split(text,' '), x -> x='the' OR x='a')) AS s,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
      |c AS (SELECT s, SUM(y) AS pos, SUM(1 - y) AS neg FROM d
      |      WHERE s IS NOT NULL GROUP BY 1),
      |r AS (SELECT s, pos, neg, SUM(neg) OVER (ORDER BY s) AS cum_neg FROM c),
      |g AS (SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
      |    CAST(SUM(neg) AS BIGINT) AS n_neg,
      |    SUM(CAST(pos AS HUGEINT) * (2*(cum_neg - neg) + neg)) AS m2 FROM r)
      |SELECT n_pos, n_neg,
      |  CASE WHEN n_pos > 0 AND n_neg > 0
      |       THEN CAST(m2 AS DOUBLE) /
      |            CAST(2 * CAST(n_pos AS HUGEINT) * n_neg AS DOUBLE)
      |       ELSE 0.0 END AS auc
      |FROM g""".stripMargin

  /** q173's oracle, shared verbatim by q179 and q184 (both read the
    * shared monitor's drift leg: the two-population census is
    * additive, so the durable state must yield a bit-identical
    * sup-CDF gap): two-sample KS of n_chars, src0 vs the rest —
    * integer masses on the common denominator, argmax by (mass DESC,
    * s ASC).
    */
  private val SourceLengthKsSql: String =
    """WITH d AS (SELECT n_chars AS s,
      |    CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS g FROM documents),
      |c AS (SELECT s, SUM(1 - g) AS a, SUM(g) AS b FROM d
      |      WHERE s IS NOT NULL GROUP BY 1),
      |r AS (SELECT s, SUM(a) OVER (ORDER BY s) AS cum_a,
      |    SUM(b) OVER (ORDER BY s) AS cum_b FROM c),
      |t AS (SELECT CAST(SUM(a) AS BIGINT) AS n_a,
      |    CAST(SUM(b) AS BIGINT) AS n_b FROM c),
      |m AS (SELECT s, ABS(CAST(cum_a AS HUGEINT) * t.n_b -
      |    CAST(cum_b AS HUGEINT) * t.n_a) AS mass FROM r, t),
      |best AS (SELECT s, mass FROM m ORDER BY mass DESC, s ASC LIMIT 1)
      |SELECT t.n_a, t.n_b,
      |  CASE WHEN t.n_a > 0 AND t.n_b > 0
      |       THEN CAST(best.mass AS DOUBLE) /
      |            CAST(CAST(t.n_a AS HUGEINT) * t.n_b AS DOUBLE)
      |       ELSE 0.0 END AS d,
      |  best.s AS d_at
      |FROM t, best""".stripMargin

  /** q150's oracle at k=3, shared verbatim by q154 and q180 (both
    * read the shared monitor's novelty leg): min first-occurrence is
    * commutative AND idempotent, so any arrival order folds to the
    * batch dictionary.
    */
  private val StreamNoveltySql: String =
    """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
      |sh AS (SELECT doc_id,
      |    unnest(list_distinct([array_to_string(toks[i:i+2],' ') for i in range(1, len(toks)-1)])) AS s
      |  FROM t),
      |pd AS (SELECT doc_id, COUNT(*) AS n_grams FROM sh GROUP BY 1),
      |fo AS (SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY 1),
      |nv AS (SELECT first_doc, COUNT(*) AS novel FROM fo GROUP BY 1)
      |SELECT pd.doc_id, pd.n_grams,
      |  CAST(COALESCE(nv.novel, 0) AS BIGINT) AS novel,
      |  CAST(COALESCE(nv.novel, 0) AS DOUBLE)/CAST(pd.n_grams AS DOUBLE) AS novelty
      |FROM pd LEFT JOIN nv ON pd.doc_id = nv.first_doc
      |ORDER BY pd.doc_id""".stripMargin

  /** q48's split as the oracle shared verbatim by q155 and q181
    * (both read the shared monitor's contamination leg): per-doc
    * probe-hit verdicts are micro-batch-local facts.
    */
  private val StreamContaminationSql: String =
    """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
      |sh AS (SELECT doc_id,
      |         unnest(list_distinct([array_to_string(toks[i:i+2],' ') for i in range(1, len(toks)-1)])) AS s
      |       FROM t),
      |probe AS (SELECT DISTINCT s FROM sh WHERE doc_id % 100 = 0)
      |SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
      |FROM sh JOIN probe ON sh.s = probe.s
      |WHERE sh.doc_id % 100 <> 0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q172's oracle, shared verbatim by q185 (the monitor's token-JSD
    * leg: the (group, token) census is additive, so the durable
    * state must yield the bit-identical source-vs-mixture JSD).
    */
  private val SourceJsdSql: String =
    """WITH cells AS (SELECT source AS grp,
      |    unnest(string_split(text,' ')) AS tok FROM documents),
      |c AS (SELECT grp, tok, COUNT(*) AS c FROM cells GROUP BY 1, 2),
      |gt AS (SELECT grp, SUM(c) AS n FROM c GROUP BY 1),
      |tt AS (SELECT tok, SUM(c) AS big_c FROM c GROUP BY 1),
      |tot AS (SELECT SUM(c) AS nn FROM c),
      |j AS (SELECT c.grp, c.c, tt.big_c, gt.n, tot.nn,
      |    CAST(c.c AS DOUBLE) * CAST(tot.nn AS DOUBLE) AS cnd,
      |    CAST(tt.big_c AS DOUBLE) * CAST(gt.n AS DOUBLE) AS cgd
      |  FROM c JOIN tt USING (tok) JOIN gt USING (grp), tot),
      |w AS (SELECT grp, n, nn, big_c,
      |    CAST(c AS HUGEINT) *
      |      CAST(FLOOR(ln(2.0 * cnd / (cnd + cgd)) * 1000000.0 + 0.5)
      |        AS HUGEINT) AS map,
      |    CAST(big_c AS HUGEINT) *
      |      CAST(FLOOR(ln(2.0 * cgd / (cnd + cgd)) * 1000000.0 + 0.5)
      |        AS HUGEINT) AS mbp
      |  FROM j),
      |g AS (SELECT grp, MAX(n) AS n_tokens, COUNT(*) AS n_vocab,
      |    SUM(map) AS ma, SUM(mbp) AS mb,
      |    SUM(CAST(big_c AS HUGEINT)) AS sum_cg, MAX(nn) AS nn
      |  FROM w GROUP BY 1)
      |SELECT grp, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(n_vocab AS BIGINT) AS n_vocab,
      |  (CAST(ma AS DOUBLE) / CAST(n_tokens AS DOUBLE)
      |   + CAST(mb + (CAST(nn AS HUGEINT) - sum_cg) * 693147 AS DOUBLE)
      |     / CAST(nn AS DOUBLE)) / 2000000.0 AS jsd_nats
      |FROM g ORDER BY grp""".stripMargin

  /** q189's oracle, shared verbatim by q192 (the monitor's
    * drift-matrix leg: the (grp, s) census is additive, so the
    * durable state must yield a bit-identical every-source-vs-rest
    * KS matrix): sup over the full group×score grid — a group
    * missing a score still steps there — masses exact HUGEINTs on
    * the common denominator n_g·(N − n_g), argmax by
    * (mass DESC, s ASC).
    */
  private val SourceKsMatrixSql: String =
    """WITH d AS (SELECT source AS grp, n_chars AS s FROM documents),
      |c AS (SELECT grp, s, COUNT(*) AS c FROM d
      |      WHERE s IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT s, SUM(c) AS t FROM c GROUP BY 1),
      |g AS (SELECT grp, SUM(c) AS n_g FROM c GROUP BY 1),
      |nn AS (SELECT SUM(c) AS n FROM c),
      |grid AS (SELECT g.grp, g.n_g, tot.s, tot.t FROM g CROSS JOIN tot),
      |j AS (SELECT grid.grp, grid.n_g, grid.s, grid.t,
      |    COALESCE(c.c, 0) AS c
      |  FROM grid LEFT JOIN c ON grid.grp = c.grp AND grid.s = c.s),
      |r AS (SELECT grp, n_g, s,
      |    SUM(c) OVER (PARTITION BY grp ORDER BY s) AS cum_g,
      |    SUM(t) OVER (PARTITION BY grp ORDER BY s) AS cum_t FROM j),
      |m AS (SELECT grp, n_g, s,
      |    ABS(CAST(cum_g AS HUGEINT) * (nn.n - n_g) -
      |        CAST(cum_t - cum_g AS HUGEINT) * n_g) AS mass
      |  FROM r, nn),
      |best AS (SELECT grp, n_g, mass, s,
      |    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY mass DESC, s ASC)
      |      AS rk FROM m)
      |SELECT best.grp, CAST(n_g AS BIGINT) AS n_g,
      |  CAST(nn.n - n_g AS BIGINT) AS n_rest,
      |  CASE WHEN n_g > 0 AND nn.n - n_g > 0
      |       THEN CAST(mass AS DOUBLE) /
      |            CAST(CAST(n_g AS HUGEINT) * (nn.n - n_g) AS DOUBLE)
      |       ELSE 0.0 END AS d,
      |  best.s AS d_at
      |FROM best, nn WHERE rk = 1 ORDER BY best.grp""".stripMargin

  /** q175's oracle, shared verbatim by q193 (vocabulary coverage as
    * a second FACE of the monitor's token-JSD state: the (grp, tok,
    * c) census the JSD leg maintains is exactly vocabCoverage's
    * input — one leg, two reports).
    */
  private val SourceVocabSql: String =
    """WITH t AS (SELECT source AS grp,
      |    unnest(string_split(text,' ')) AS token FROM documents),
      |c AS (SELECT grp, token, COUNT(*) AS c FROM t GROUP BY 1, 2),
      |a AS (SELECT grp, COUNT(*) AS v_types, SUM(c) AS n_tokens,
      |    SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n1,
      |    SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS n2
      |  FROM c GROUP BY 1)
      |SELECT grp, CAST(v_types AS BIGINT) AS v_types,
      |  CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |  CAST(n_tokens - n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS coverage,
      |  CAST(v_types AS DOUBLE) +
      |    CAST(CAST(n1 AS HUGEINT) * (n1 - 1) AS DOUBLE) /
      |    CAST(2 * (CAST(n2 AS HUGEINT) + 1) AS DOUBLE) AS chao1
      |FROM a ORDER BY grp""".stripMargin

  /** q177's oracle, shared verbatim by q186 (the resident embedding-
    * drift pump: per-(grp, dim) component sums are additive, so the
    * drained centroid-vs-rest cosine equals the batch scan).
    */
  private val EmbeddingDriftSql: String =
    """WITH e AS (SELECT label AS grp,
      |    [CAST(round(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) for x in embedding] AS q
      |  FROM embeddings),
      |u AS (SELECT grp, unnest(range(1, len(q)+1)) AS i, unnest(q) AS v FROM e),
      |cells AS (SELECT grp, i, SUM(v) AS s, COUNT(*) AS cnt
      |  FROM u GROUP BY 1, 2),
      |tot AS (SELECT i, SUM(s) AS tot FROM cells GROUP BY 1),
      |g AS (SELECT grp, MAX(cnt) AS n_vecs,
      |    SUM(CAST(s AS HUGEINT) * (tot - s)) AS dot,
      |    SUM(CAST(s AS HUGEINT) * s) AS n2,
      |    SUM(CAST(tot - s AS HUGEINT) * (tot - s)) AS r2
      |  FROM cells JOIN tot USING (i) GROUP BY 1)
      |SELECT grp, CAST(n_vecs AS BIGINT) AS n_vecs,
      |  CASE WHEN n2 > 0 AND r2 > 0
      |       THEN CAST(dot AS DOUBLE) /
      |            (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(r2 AS DOUBLE)))
      |       ELSE 0.0 END AS cos_rest
      |FROM g ORDER BY grp""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) * (1 + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
        |  AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q03_join_revenue" ->
      """SELECT c_custkey, c_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 100""".stripMargin,
    "q04_broadcast_dim_join" ->
      """SELECT p_brand,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,
    "q05_nation_revenue" ->
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,
    "q06_window_topn" ->
      """SELECT user_id, rnk, event_id, event_type, value FROM (
        |  SELECT user_id, event_id, event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rnk
        |  FROM events) t
        |WHERE rnk <= 3
        |ORDER BY user_id, rnk""".stripMargin,
    "q07_window_running_sum" ->
      """SELECT user_id, event_id, value,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
        |FROM events
        |ORDER BY user_id, event_id""".stripMargin,
    "q08_replacing_final" ->
      """SELECT user_id, event_id, event_type, value FROM (
        |  SELECT user_id, event_id, event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1
        |ORDER BY user_id""".stripMargin,
    "q09_union_routing" ->
      """SELECT event_id, user_id, value, 'log_click' AS src_table
        |FROM events WHERE event_type = 'click'
        |UNION ALL
        |SELECT event_id, user_id, CAST(NULL AS DOUBLE) AS value, 'log_view' AS src_table
        |FROM events WHERE event_type = 'view'
        |ORDER BY event_id""".stripMargin,
    "q10_intersect" ->
      """SELECT o_custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1997
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1998
        |ORDER BY o_custkey""".stripMargin,
    "q11_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin,
    "q12_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10""".stripMargin,
    "q13_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q14_distinct_agg" ->
      """SELECT o_orderpriority,
        |  COUNT(DISTINCT o_custkey) AS n_customers,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q15_json_extract" ->
      """SELECT CAST(FLOOR(CAST(regexp_extract(props, '"k"\s*:\s*(\d+)', 1) AS INT) / 10) AS INT) AS k_decile,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1
        |ORDER BY k_decile""".stripMargin,
    "q16_hourly_agg" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |  event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour, event_type""".stripMargin,
    // Last change per key wins unless it's a delete — the one-pass
    // equivalent of replaying insert/update/delete batches in order.
    "q17_cdc_apply" ->
      """SELECT user_id, event_id, event_type, value FROM (
        |  SELECT user_id, event_id, event_type, value,
        |    CASE WHEN event_id % 10 = 9 THEN 'delete'
        |         WHEN event_id % 10 >= 6 THEN 'update'
        |         ELSE 'insert' END AS op,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 AND op <> 'delete'
        |ORDER BY user_id""".stripMargin,
    "q18_text_stats" ->
      // DuckDB SUM(BIGINT) returns HUGEINT (→ float64 in the driver's
      // pandas compare) while Spark emits int64 — cast back to BIGINT
      // so both sides hash identically (VERDICT r2 "What's wrong" #1).
      """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(SUM(n_chars) AS DOUBLE)/COUNT(*) AS avg_chars,
        |  CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS total_tokens,
        |  COUNT(DISTINCT source) AS n_sources
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q19_token_count" ->
      """SELECT doc_id, len(string_split(text,' ')) AS n_tokens,
        |  len(list_distinct(string_split(text,' '))) AS n_types,
        |  CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
        |    / len(string_split(text,' ')) AS ttr,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_subwords
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q20_quality_score" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(string_split(text,' ')) AS n_tok,
        |    len(list_distinct(string_split(text,' '))) AS n_typ,
        |    len(list_filter(string_split(text,' '), x -> x='the' OR x='a')) AS n_stop,
        |    length(text) AS n_ch,
        |    length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_punct
        |  FROM documents)
        |SELECT doc_id, n_tok AS n_tokens,
        |  floor((0.3*least(n_tok/50.0, 1.0)
        |      + 0.3*(CAST(n_typ AS DOUBLE)/n_tok)
        |      + 0.2*greatest(0.0, 1.0 - abs(CAST(n_stop AS DOUBLE)/n_tok - 0.08)*4.0)
        |      + 0.2*greatest(0.0, 1.0 - (CAST(n_punct AS DOUBLE)/n_ch)*2.0))*1000000.0 + 0.5)/1000000.0 AS quality
        |FROM t ORDER BY doc_id""".stripMargin,
    "q21_langid" ->
      """SELECT lang,
        |  CASE WHEN len(list_filter(string_split(text,' '), x -> x='the' OR x='a')) >= 2
        |       THEN 'en' ELSE 'und' END AS predicted,
        |  COUNT(*) AS n
        |FROM documents GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin,
    "q22_fingerprint" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |        unnest([array_to_string(toks[i:i+3], ' ') for i in range(1, len(toks)-2)]) AS sh
        |      FROM t)
        |SELECT doc_id,
        |  MIN(list_reduce([CAST(0 AS BIGINT)] +
        |        [CAST(ascii(substr(sh,j,1)) AS BIGINT) for j in range(1, len(sh)+1)],
        |      (a,x) -> (a*31+x) % 1000000007)) AS fp
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q23_exact_dedup" ->
      """SELECT md5(text) AS content_hash, COUNT(*) AS n_copies,
        |  MIN(doc_id) AS keeper_doc_id
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin,
    "q24_ngram_jaccard" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(list_distinct([array_to_string(toks[i:i+2],' ') for i in range(1, len(toks)-1)])) AS s
        |       FROM t),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT da AS doc_a, db AS doc_b,
        |  CAST(i AS DOUBLE)/CAST(x.n + y.n - i AS DOUBLE) AS j
        |FROM inter JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
        |WHERE CAST(i AS DOUBLE)/CAST(x.n + y.n - i AS DOUBLE) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    // q25/q26 pin sketch-based (probabilistic-recall) candidate
    // generation against the exact-Jaccard pair set. Sound here
    // because the fixtures are deterministic and their similarity
    // margin is wide (every true pair is J>=0.9, miss probability
    // <1e-7 at 16x4 bands; SimHash Hamming <=10 vs the 12 cutoff) —
    // on new data these would be recall checks, not exact oracles.
    "q25_minhash_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(list_distinct([array_to_string(toks[i:i+2],' ') for i in range(1, len(toks)-1)])) AS s
        |       FROM t),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT da AS doc_a, db AS doc_b,
        |  CAST(i AS DOUBLE)/CAST(x.n + y.n - i AS DOUBLE) AS j
        |FROM inter JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
        |WHERE CAST(i AS DOUBLE)/CAST(x.n + y.n - i AS DOUBLE) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q26_simhash_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(list_distinct([array_to_string(toks[i:i+2],' ') for i in range(1, len(toks)-1)])) AS s
        |       FROM t),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT da AS doc_a, db AS doc_b
        |FROM inter JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
        |WHERE CAST(i AS DOUBLE)/CAST(x.n + y.n - i AS DOUBLE) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q27_knn_brute" ->
      """WITH e AS (SELECT vec_id,
        |             [CAST(round(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) for x in embedding] AS q
        |           FROM embeddings),
        |n AS (SELECT vec_id, q,
        |        list_reduce([CAST(0 AS BIGINT)] + [x*x for x in q], (a,b) -> a+b) AS n2
        |      FROM e),
        |qs AS (SELECT vec_id AS qid, q AS qq, n2 AS qn2 FROM n WHERE vec_id % 100 = 0),
        |d AS (SELECT qid, vec_id,
        |        list_reduce([CAST(0 AS BIGINT)] + [qq[i]*q[i] for i in range(1, len(q)+1)],
        |          (a,b) -> a+b) AS dot,
        |        qn2, n2
        |      FROM qs CROSS JOIN n WHERE vec_id != qid),
        |c AS (SELECT qid AS query_id, vec_id,
        |        CAST(dot AS DOUBLE)/sqrt(CAST(qn2 AS DOUBLE)*CAST(n2 AS DOUBLE)) AS cos
        |      FROM d),
        |r AS (SELECT query_id, vec_id, cos,
        |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
        |      FROM c)
        |SELECT query_id, rnk, vec_id, floor(cos*1000000.0 + 0.5)/1000000.0 AS cos
        |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,
    "q28_knn_ivf" ->
      """WITH e AS (SELECT vec_id,
        |             [CAST(round(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) for x in embedding] AS q
        |           FROM embeddings),
        |n AS (SELECT vec_id, q,
        |        list_reduce([CAST(0 AS BIGINT)] + [x*x for x in q], (a,b) -> a+b) AS n2
        |      FROM e),
        |qs AS (SELECT vec_id AS qid, q AS qq, n2 AS qn2 FROM n WHERE vec_id % 100 = 0),
        |d AS (SELECT qid, vec_id,
        |        list_reduce([CAST(0 AS BIGINT)] + [qq[i]*q[i] for i in range(1, len(q)+1)],
        |          (a,b) -> a+b) AS dot,
        |        qn2, n2
        |      FROM qs CROSS JOIN n WHERE vec_id != qid),
        |c AS (SELECT qid AS query_id, vec_id,
        |        CAST(dot AS DOUBLE)/sqrt(CAST(qn2 AS DOUBLE)*CAST(n2 AS DOUBLE)) AS cos
        |      FROM d),
        |r AS (SELECT query_id, vec_id, cos,
        |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
        |      FROM c)
        |SELECT query_id, rnk, vec_id, floor(cos*1000000.0 + 0.5)/1000000.0 AS cos
        |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,
    "q29_label_centroid" ->
      """WITH e AS (SELECT label, vec_id,
        |             [CAST(round(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) for x in embedding] AS q
        |           FROM embeddings),
        |n AS (SELECT label, vec_id, q,
        |        list_reduce([CAST(0 AS BIGINT)] + [x*x for x in q], (a,b) -> a+b) AS n2
        |      FROM e),
        |d AS (SELECT label, vec_id, n2, generate_subscripts(q, 1) AS pos,
        |        unnest(q) AS v FROM n),
        |cent AS (SELECT label, pos, SUM(v) AS s FROM d GROUP BY 1, 2),
        |cn AS (SELECT label,
        |         SUM(CAST(s AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0))) AS cn2
        |       FROM cent GROUP BY 1),
        |dots AS (SELECT d.label, d.vec_id, d.n2,
        |           SUM(CAST(d.v AS DECIMAL(19,0)) * CAST(c.s AS DECIMAL(19,0))) AS dotc
        |         FROM d JOIN cent c ON d.label = c.label AND d.pos = c.pos
        |         GROUP BY 1, 2, 3),
        |pm AS (SELECT dots.label,
        |         CAST(round(CAST(dotc AS DOUBLE)/sqrt(CAST(n2 AS DOUBLE)*CAST(cn2 AS DOUBLE))*1e9) AS BIGINT) AS cos_e9
        |       FROM dots JOIN cn ON dots.label = cn.label)
        |SELECT label, COUNT(*) AS n_members,
        |  floor(CAST(SUM(cos_e9) AS DOUBLE)/(COUNT(*)*1e9)*1000000.0 + 0.5)/1000000.0 AS avg_cos
        |FROM pm GROUP BY label ORDER BY label""".stripMargin,
    "q30_migrate_counts" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
        |  l_extendedprice, l_discount, l_returnflag, l_linestatus, l_shipdate
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q31_csv_roundtrip" ->
      """SELECT c_acctbal, c_custkey, c_mktsegment, c_name, c_nationkey
        |FROM customer ORDER BY c_custkey""".stripMargin,
    // Streaming CDC must land on exactly the batch-replay state: q17's oracle.
    "q32_cdc_stream" ->
      """SELECT user_id, event_id, event_type, value FROM (
        |  SELECT user_id, event_id, event_type, value,
        |    CASE WHEN event_id % 10 = 9 THEN 'delete'
        |         WHEN event_id % 10 >= 6 THEN 'update'
        |         ELSE 'insert' END AS op,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 AND op <> 'delete'
        |ORDER BY user_id""".stripMargin,
    // Streaming event-time aggregation must equal the batch hourly agg: q16's oracle.
    "q33_stream_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |  event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour, event_type""".stripMargin,
    // Text is pure ASCII so UTF-8 payload bytes == characters: md5 of the
    // text equals md5 of the payload and byte slices align with substr.
    "q34_multimodal" ->
      """SELECT doc_id, md5(text) AS content_id, length(text) AS n_bytes,
        |  CAST('0x' || substr(md5(text), 1, 4) AS INTEGER) AS feat0,
        |  CAST('0x' || substr(md5(text), 5, 4) AS INTEGER) AS feat1,
        |  md5(substr(text, 1, length(text)//4)) AS frame_first,
        |  md5(substr(text, length(text)*3//4 + 1,
        |      length(text) - length(text)*3//4)) AS frame_last
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q35_embedding_neardup" ->
      """WITH e AS (SELECT vec_id,
        |             [CAST(round(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) for x in embedding] AS q
        |           FROM embeddings),
        |n AS (SELECT vec_id, q,
        |        list_reduce([CAST(0 AS BIGINT)] + [x*x for x in q], (a,b) -> a+b) AS n2
        |      FROM e),
        |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |        CAST(list_reduce([CAST(0 AS BIGINT)] +
        |               [a.q[i]*b.q[i] for i in range(1, len(a.q)+1)],
        |             (x,y) -> x+y) AS DOUBLE)
        |          / sqrt(CAST(a.n2 AS DOUBLE)*CAST(b.n2 AS DOUBLE)) AS cos
        |      FROM n a JOIN n b ON a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, floor(cos*1000000.0 + 0.5)/1000000.0 AS cos
        |FROM p WHERE cos >= 0.45 ORDER BY vec_a, vec_b""".stripMargin,
    "q36_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, epoch_us(ts) AS e,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pe
        |  FROM events),
        |s AS (SELECT user_id,
        |        CASE WHEN pe IS NULL OR e - pe > 1800000000 THEN 1 ELSE 0 END AS ns
        |      FROM x)
        |SELECT user_id, CAST(SUM(ns) AS BIGINT) AS n_sessions, COUNT(*) AS n_events,
        |  CAST(COUNT(*) AS DOUBLE) / SUM(ns) AS events_per_session
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q37_asof_join" ->
      """WITH o AS (SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
        |           FROM orders GROUP BY 1, 2)
        |SELECT e.user_id, e.event_id, o.o_orderkey
        |FROM events e ASOF LEFT JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY user_id, event_id""".stripMargin,
    "q38_range_join" ->
      """SELECT a.user_id, COUNT(*) AS n_pairs,
        |  COUNT(DISTINCT b.event_id) AS n_predecessors
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND epoch_us(b.ts) >= epoch_us(a.ts) - 21600000000
        | AND epoch_us(b.ts) < epoch_us(a.ts)
        |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin,
    // Session-window semantics: events merge while the gap to the
    // previous event is under 30 minutes; session start = min ts.
    "q39_stream_sessions" ->
      """WITH x AS (
        |  SELECT user_id, ts, epoch_us(ts) AS e,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS pe
        |  FROM events),
        |s AS (SELECT user_id, ts,
        |        SUM(CASE WHEN pe IS NULL OR e - pe > 1800000000 THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY user_id ORDER BY ts
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM x)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  COUNT(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "q40_profile" ->
      """SELECT 'doc_id' AS col_name, COUNT(*) AS n_rows,
        |  COUNT(*) - COUNT(doc_id) AS n_null, COUNT(DISTINCT doc_id) AS n_distinct,
        |  CAST(MIN(doc_id) AS VARCHAR) AS min_value, CAST(MAX(doc_id) AS VARCHAR) AS max_value
        |FROM documents
        |UNION ALL
        |SELECT 'lang', COUNT(*), COUNT(*) - COUNT(lang), COUNT(DISTINCT lang),
        |  MIN(lang), MAX(lang) FROM documents
        |UNION ALL
        |SELECT 'n_chars', COUNT(*), COUNT(*) - COUNT(n_chars), COUNT(DISTINCT n_chars),
        |  CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR) FROM documents
        |UNION ALL
        |SELECT 'source', COUNT(*), COUNT(*) - COUNT(source), COUNT(DISTINCT source),
        |  MIN(source), MAX(source) FROM documents
        |UNION ALL
        |SELECT 'text', COUNT(*), COUNT(*) - COUNT(text), COUNT(DISTINCT text),
        |  MIN(text), MAX(text) FROM documents
        |ORDER BY col_name""".stripMargin,
    // q41: components of the q24 pair graph via a recursive closure —
    // walk carries every reachable label to every node; MIN collapses
    // to the component's min id (UNION dedup guarantees termination)
    "q41_dup_clusters" ->
      """WITH RECURSIVE t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(list_distinct([array_to_string(toks[i:i+2],' ') for i in range(1, len(toks)-1)])) AS s
        |       FROM t),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |p AS (SELECT da, db
        |      FROM inter JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
        |      WHERE CAST(i AS DOUBLE)/CAST(x.n + y.n - i AS DOUBLE) >= 0.5),
        |edges AS (SELECT da AS src, db AS dst FROM p
        |          UNION SELECT db, da FROM p),
        |walk(node, label) AS (
        |  SELECT src AS node, src AS label FROM edges
        |  UNION
        |  SELECT e.src, w.label FROM edges e JOIN walk w ON w.node = e.dst
        |)
        |SELECT node AS doc_id, MIN(label) AS cluster_id
        |FROM walk GROUP BY 1 ORDER BY 1""".stripMargin,
    // q42: the Knuth multiplicative hash is chosen exactly because it
    // is expressible verbatim here — the oracle reproduces the SAME
    // sample, row for row, in the engine's overflow-safe split-multiply
    // formulation (identical values to the naive product)
    "q42_training_mix" ->
      """WITH h AS (SELECT doc_id, lang, source, n_chars,
        |    CAST(((doc_id % 4294967296) - (doc_id % 65536)) / 65536 AS BIGINT) AS ah,
        |    doc_id % 65536 AS al
        |  FROM documents)
        |SELECT doc_id, lang, source, n_chars
        |FROM h
        |WHERE CAST((((ah * 2654435761) % 65536) * 65536 + al * 2654435761) % 4294967296 AS DOUBLE) / 4294967296.0
        |  < CASE lang WHEN 'en' THEN 0.3 WHEN 'zh' THEN 0.8
        |      WHEN 'es' THEN 0.8 WHEN 'de' THEN 0.8 WHEN 'fr' THEN 0.8
        |      ELSE 0.1 END
        |ORDER BY doc_id""".stripMargin,
    // q43: the incrementally-maintained dedup state must equal the
    // one-shot batch aggregation (q23's oracle, BIGINT-cast count)
    "q43_stream_dedup" ->
      """SELECT md5(text) AS content_hash,
        |  CAST(COUNT(*) AS BIGINT) AS n_copies,
        |  MIN(doc_id) AS keeper_doc_id
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin,
    // q44: the oracle takes the explode+groupBy formulation (DuckDB
    // has no fold over lists); the engine's sorted-run fold must land
    // on the same counts
    "q44_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |base AS (SELECT doc_id, len(toks) AS n_tokens,
        |           len(list_distinct(toks)) AS n_types FROM t),
        |bg AS (SELECT doc_id,
        |         unnest([array_to_string(toks[i:i+1],' ') for i in range(1, len(toks))]) AS b
        |       FROM t),
        |cnt AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2),
        |agg AS (SELECT doc_id AS agg_doc, MAX(c) AS topc, CAST(SUM(c) AS BIGINT) AS nb
        |        FROM cnt GROUP BY 1)
        |SELECT base.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  floor(CAST(topc AS DOUBLE)/CAST(nb AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS top_bigram_frac,
        |  floor((1.0 - CAST(n_types AS DOUBLE)/CAST(n_tokens AS DOUBLE))*1000000.0 + 0.5)/1000000.0 AS dup_token_frac
        |FROM base LEFT JOIN agg ON base.doc_id = agg.agg_doc
        |ORDER BY doc_id""".stripMargin,
    // q45: DuckDB quantile_cont interpolates exactly like Spark's
    // percentile (index p*(n-1), linear) — values compare bit-for-bit
    "q45_percentiles" ->
      """SELECT 'l_discount' AS col_name,
        |  quantile_cont(l_discount, 0.5) AS p50,
        |  quantile_cont(l_discount, 0.95) AS p95 FROM lineitem
        |UNION ALL
        |SELECT 'l_extendedprice', quantile_cont(l_extendedprice, 0.5),
        |  quantile_cont(l_extendedprice, 0.95) FROM lineitem
        |UNION ALL
        |SELECT 'l_quantity', quantile_cont(l_quantity, 0.5),
        |  quantile_cont(l_quantity, 0.95) FROM lineitem
        |UNION ALL
        |SELECT 'l_tax', quantile_cont(l_tax, 0.5),
        |  quantile_cont(l_tax, 0.95) FROM lineitem
        |ORDER BY col_name""".stripMargin,
    // q46: composition of the verified q23/q41/q21/q20/q42 fragments —
    // exact-dedup keepers ∩ cluster reps ∩ langid=en ∩ quality>=0.5 ∩
    // 50% deterministic sample
    "q46_pipeline" ->
      """WITH RECURSIVE t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |ex AS (SELECT md5(text) AS h, MIN(doc_id) AS keeper FROM documents GROUP BY 1),
        |sh AS (SELECT doc_id,
        |         unnest(list_distinct([array_to_string(toks[i:i+2],' ') for i in range(1, len(toks)-1)])) AS s
        |       FROM t),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |p AS (SELECT da, db
        |      FROM inter JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
        |      WHERE CAST(i AS DOUBLE)/CAST(x.n + y.n - i AS DOUBLE) >= 0.5),
        |edges AS (SELECT da AS src, db AS dst FROM p UNION SELECT db, da FROM p),
        |walk(node, label) AS (
        |  SELECT src AS node, src AS label FROM edges
        |  UNION
        |  SELECT e.src, w.label FROM edges e JOIN walk w ON w.node = e.dst
        |),
        |cl AS (SELECT node, MIN(label) AS cluster_id FROM walk GROUP BY 1),
        |qual AS (
        |  SELECT doc_id,
        |    len(string_split(text,' ')) AS n_tok,
        |    floor((0.3*least(len(string_split(text,' '))/50.0, 1.0)
        |      + 0.3*(CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)/len(string_split(text,' ')))
        |      + 0.2*greatest(0.0, 1.0 - abs(CAST(len(list_filter(string_split(text,' '), x -> x='the' OR x='a')) AS DOUBLE)/len(string_split(text,' ')) - 0.08)*4.0)
        |      + 0.2*greatest(0.0, 1.0 - (CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)/length(text))*2.0))*1000000.0 + 0.5)/1000000.0 AS quality
        |  FROM documents)
        |SELECT d.doc_id, CAST(qual.n_tok AS BIGINT) AS n_tokens, qual.quality
        |FROM documents d
        |JOIN ex ON md5(d.text) = ex.h AND d.doc_id = ex.keeper
        |LEFT JOIN cl ON d.doc_id = cl.node
        |JOIN qual ON qual.doc_id = d.doc_id
        |WHERE (cl.node IS NULL OR cl.cluster_id = d.doc_id)
        |  AND (CASE WHEN len(list_filter(string_split(d.text,' '), x -> x='the' OR x='a')) >= 2 THEN 'en' ELSE 'und' END) = 'en'
        |  AND qual.quality >= 0.5
        |  AND CAST((((CAST(((d.doc_id % 4294967296) - (d.doc_id % 65536)) / 65536 AS BIGINT) * 2654435761) % 65536) * 65536 + (d.doc_id % 65536) * 2654435761) % 4294967296 AS DOUBLE)/4294967296.0 < 0.5
        |ORDER BY d.doc_id""".stripMargin,
    // q47: the engine's two-phase distributed prefix sum must equal
    // the single global window formulation
    "q47_token_budget" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
        |    floor((0.3*least(len(string_split(text,' '))/50.0, 1.0)
        |      + 0.3*(CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)/len(string_split(text,' ')))
        |      + 0.2*greatest(0.0, 1.0 - abs(CAST(len(list_filter(string_split(text,' '), x -> x='the' OR x='a')) AS DOUBLE)/len(string_split(text,' ')) - 0.08)*4.0)
        |      + 0.2*greatest(0.0, 1.0 - (CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)/length(text))*2.0))*1000000.0 + 0.5)/1000000.0 AS quality
        |  FROM documents),
        |r AS (SELECT doc_id, n_tokens, quality,
        |        CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id)
        |          AS BIGINT) AS running_total
        |      FROM q)
        |SELECT doc_id, n_tokens, quality, running_total
        |FROM r WHERE running_total <= 5000
        |ORDER BY quality DESC, doc_id""".stripMargin,
    // q48: distinct 3-shingles shared with the probe set (every 100th
    // doc), counted per corpus doc
    "q48_contamination" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(list_distinct([array_to_string(toks[i:i+2],' ') for i in range(1, len(toks)-1)])) AS s
        |       FROM t),
        |probe AS (SELECT DISTINCT s FROM sh WHERE doc_id % 100 = 0)
        |SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        |FROM sh JOIN probe ON sh.s = probe.s
        |WHERE sh.doc_id % 100 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q49: GROUPING() bitmask follows the SQL-standard convention in
    // both engines (bit = 1 when the column is aggregated away)
    "q49_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    // q50: pivot == conditional aggregation (the portable formulation)
    "q50_pivot" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |  CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS click,
        |  CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS error,
        |  CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
        |  CAST(COUNT(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
        |  CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // q51: streamed enrichment == the batch join+agg
    "q51_stream_enrich" ->
      """SELECT n_name,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events e
        |JOIN customer c ON e.user_id = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q52_except" ->
      """SELECT o_custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1997
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1998
        |ORDER BY o_custkey""".stripMargin,
    // q53: ntile/percent_rank are SQL-standard rank functions with
    // identical tie/bucket semantics in both engines
    "q53_ntile" ->
      """WITH spend AS (
        |  SELECT o_custkey, o_orderpriority,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS spend
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_custkey, o_orderpriority, spend,
        |  CAST(NTILE(4) OVER w AS INT) AS quartile,
        |  floor((PERCENT_RANK() OVER w)*1000000.0 + 0.5)/1000000.0 AS pr
        |FROM spend
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY spend DESC, o_custkey)
        |ORDER BY o_orderpriority, o_custkey""".stripMargin,
    // q54: GROUPING() bitmask is SQL-standard in both engines (same
    // convention q49/cube already verified)
    "q54_grouping_sets" ->
      """SELECT CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
        |  o_orderpriority, o_orderstatus,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
        |  (o_orderstatus), ())
        |ORDER BY gid, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,
    // q55: unnest == explode; both engines split on the literal
    // single space and drop empty tokens
    "q55_token_freq" ->
      """SELECT tok, COUNT(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |WHERE tok <> ''
        |GROUP BY tok
        |ORDER BY n DESC, tok
        |LIMIT 25""".stripMargin,
    "q56_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey
        |    AND o_orderpriority = '1-URGENT'
        |    AND o_totalprice > 350000)
        |ORDER BY c_custkey""".stripMargin,
    // q57: DuckDB date-part/string functions return BIGINT — the
    // Spark side casts its INT results to long to match; isodow
    // (1=Monday) == Spark weekday (0=Monday) + 1
    "q57_scalar_funcs" ->
      """SELECT o_orderkey,
        |  year(o_orderdate) AS yr,
        |  month(o_orderdate) AS mo,
        |  isodow(o_orderdate) AS iso_dow,
        |  string_split(o_orderpriority, '-')[2] AS pr_word,
        |  lower(o_orderstatus) AS status_lc,
        |  concat_ws('#', o_orderstatus, o_orderpriority) AS tag,
        |  CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
        |  CAST(length(o_orderpriority) AS BIGINT) AS pr_len,
        |  o_orderkey % 7 AS key_mod7
        |FROM orders
        |WHERE o_orderkey % 1000 = 0
        |ORDER BY o_orderkey""".stripMargin,
    // q58: list_* == array_*; min/max over VARCHAR is binary UTF-8
    // order in both engines
    "q58_array_funcs" ->
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |           FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_toks,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        |  list_aggregate(toks, 'min') AS tok_min,
        |  list_aggregate(toks, 'max') AS tok_max,
        |  list_contains(toks, 'the') AS has_the
        |FROM t
        |ORDER BY doc_id""".stripMargin,
    // q59: the streamed join must equal the batch self-join with the
    // same two-sided time-range predicate
    "q59_stream_stream_join" ->
      """SELECT p.user_id AS user_id, COUNT(*) AS n_pairs,
        |  COUNT(DISTINCT p.event_id) AS n_purchases
        |FROM events p JOIN events c
        |  ON c.user_id = p.user_id
        | AND c.ts >= p.ts - INTERVAL 10 MINUTE
        | AND c.ts <= p.ts
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |GROUP BY p.user_id
        |ORDER BY user_id""".stripMargin,
    // q60: q27's quantized-cosine oracle with the int8 rescale step
    // inserted — round(x*127/maxabs) on exact integer inputs is one
    // correctly-rounded double op, identical in both engines
    "q60_knn_int8" ->
      """WITH e AS (SELECT vec_id,
        |             [CAST(round(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) for x in embedding] AS v
        |           FROM embeddings),
        |m AS (SELECT vec_id, v,
        |        list_reduce([CAST(0 AS BIGINT)] + [abs(x) for x in v],
        |          (a,b) -> greatest(a,b)) AS mx
        |      FROM e),
        |q8 AS (SELECT vec_id,
        |         CASE WHEN mx = 0 THEN [CAST(0 AS BIGINT) for x in v]
        |              ELSE [CAST(round(CAST(x AS DOUBLE)*127.0/CAST(mx AS DOUBLE)) AS BIGINT) for x in v]
        |         END AS q
        |       FROM m),
        |n AS (SELECT vec_id, q,
        |        list_reduce([CAST(0 AS BIGINT)] + [x*x for x in q], (a,b) -> a+b) AS n2
        |      FROM q8),
        |qs AS (SELECT vec_id AS qid, q AS qq, n2 AS qn2 FROM n WHERE vec_id % 100 = 0),
        |d AS (SELECT qid, vec_id,
        |        list_reduce([CAST(0 AS BIGINT)] + [qq[i]*q[i] for i in range(1, len(q)+1)],
        |          (a,b) -> a+b) AS dot,
        |        qn2, n2
        |      FROM qs CROSS JOIN n WHERE vec_id != qid),
        |c AS (SELECT qid AS query_id, vec_id,
        |        CAST(dot AS DOUBLE)/sqrt(CAST(qn2 AS DOUBLE)*CAST(n2 AS DOUBLE)) AS cos
        |      FROM d),
        |r AS (SELECT query_id, vec_id, cos,
        |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
        |      FROM c)
        |SELECT query_id, rnk, vec_id, floor(cos*1000000.0 + 0.5)/1000000.0 AS cos
        |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,
    // q61: the JSON roundtrip must reproduce the parquet original
    "q61_json_roundtrip" ->
      """SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
        |  o_orderstatus, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // q62: RANGE frame bounds in epoch microseconds (epoch_us ==
    // unix_micros); decimal window-SUM cast to double, COUNT is
    // BIGINT in both engines
    "q62_range_frame" ->
      """SELECT user_id, event_id, value,
        |  COUNT(*) OVER w AS n_30m,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS v_30m
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,
    // q63: the UDAF's exact-decimal sums == SQL decimal sums; one
    // final double division on each side
    "q63_udaf_weighted_mean" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |           * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
        |  / CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
        |    AS wavg_price
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // q64: the salted join must equal the plain join — salting is a
    // physical rebalance with no semantic effect
    "q64_skew_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |    AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // q65: stage timestamps compared as epoch_us integers; depth from
    // the same strictly-after chain
    "q65_funnel" ->
      """WITH v AS (SELECT user_id, min(epoch_us(ts)) AS view_us
        |           FROM events WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(epoch_us(e.ts)) AS click_us
        |      FROM events e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.view_us
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS purchase_us
        |      FROM events e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.click_us
        |      GROUP BY e.user_id)
        |SELECT v.user_id,
        |  CAST(CASE WHEN p.purchase_us IS NOT NULL THEN 3
        |            WHEN c.click_us IS NOT NULL THEN 2
        |            ELSE 1 END AS BIGINT) AS depth,
        |  v.view_us, c.click_us, p.purchase_us
        |FROM v
        |LEFT JOIN c ON v.user_id = c.user_id
        |LEFT JOIN p ON v.user_id = p.user_id
        |ORDER BY v.user_id""".stripMargin,
    // q66: lag/lead over epoch-µs integers — exact in both engines
    "q66_lag_lead" ->
      """SELECT user_id, event_id, event_type,
        |  epoch_us(ts) - LAG(epoch_us(ts), 1) OVER w AS gap_us,
        |  LEAD(event_type, 1) OVER w AS next_type
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |ORDER BY user_id, event_id""".stripMargin,
    // q67: grouped quantile_cont == Spark percentile (q45's parity,
    // per group)
    "q67_group_percentiles" ->
      """SELECT event_type, COUNT(*) AS n,
        |  quantile_cont(value, 0.5) AS p50,
        |  quantile_cont(value, 0.95) AS p95
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // q68: the live-polled JDBC CDC state must equal the whole events
    // table — two thirds loaded before stream start, one third
    // inserted live after it
    "q68_jdbc_cdc_live" ->
      """SELECT event_id, user_id, event_type, value,
        |  epoch_us(ts) AS ts_us
        |FROM events ORDER BY event_id""".stripMargin,
    // q69: the JDBC write sink round-trip must reproduce the parquet
    // original (q61's shape, through a live server instead of files)
    "q69_jdbc_sink_roundtrip" ->
      """SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
        |  o_orderstatus, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // q70: every feature the real decode (PNG even ids, BMP odd ids —
    // same pixel formulas either container) must produce, recomputed
    // from the synthesis formulas (Images.fixturePng/fixtureBmp): red
    // gradient along x, solid green/blue, BT.601 fixed-point luma
    // samples
    "q70_image_decode" ->
      """WITH t AS (SELECT doc_id,
        |    4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h,
        |    (doc_id * 7) % 256 AS g, (doc_id * 13) % 256 AS b
        |  FROM documents),
        |px AS (SELECT doc_id,
        |    list_reduce([CAST(0 AS BIGINT)] + [(doc_id + x) % 256 for x in range(0, w)],
        |      (a,c) -> a+c) AS row_r
        |  FROM t),
        |lm AS (SELECT doc_id,
        |    list_reduce([CAST(0 AS BIGINT)] +
        |        [(77*((doc_id + (i*w)//4) % 256) + 150*g + 29*b)//256 for i in range(0, 4)],
        |      (a,c) -> (a*31 + c) % 1000000007) AS luma_fp
        |  FROM t)
        |SELECT t.doc_id, TRUE AS decoded,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(h * px.row_r AS BIGINT) AS sum_r,
        |  CAST(w * h * g AS BIGINT) AS sum_g,
        |  CAST(w * h * b AS BIGINT) AS sum_b,
        |  lm.luma_fp
        |FROM t JOIN px ON t.doc_id = px.doc_id JOIN lm ON t.doc_id = lm.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    // q71: the catalog-driven migrate's DDL-created, loaded, re-read
    // table must equal the source table
    "q71_catalog_migrate" ->
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    // q73: the ORC round-trip must surface the parquet original
    // value-identically across every column type
    "q73_orc_roundtrip" ->
      """SELECT l_discount, l_extendedprice, l_linenumber, l_linestatus,
        |  l_orderkey, l_partkey, l_quantity, l_returnflag, l_shipdate,
        |  l_suppkey, l_tax
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // q74: the registered-converter migrate equals the SQL
    // formulation of the same conversion over the source table
    "q74_converted_migrate" ->
      """SELECT CAST(round(s_acctbal * 100) AS BIGINT) AS s_acctbal_cents,
        |  upper(s_name) AS s_name, s_nationkey, s_suppkey
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    // q75: concat-and-chunk packing == the global-window formulation
    // (bin = first token's window, offset = its position within it)
    "q75_sequence_packing" ->
      """WITH q AS (SELECT doc_id,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |r AS (SELECT doc_id, n_tokens,
        |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS running_total
        |  FROM q)
        |SELECT doc_id, n_tokens, running_total,
        |  CAST(floor((running_total - n_tokens) / 2048.0) AS BIGINT) AS bin_id,
        |  (running_total - n_tokens) % 2048 AS bin_offset
        |FROM r ORDER BY doc_id""".stripMargin,
    // q77: exact-size per-language sample — same split-multiply Knuth
    // uniform as q42, ranked per stratum with a doc_id tiebreak
    "q77_fixed_mix" ->
      """WITH h AS (SELECT doc_id, lang, source, n_chars,
        |    CAST(((doc_id % 4294967296) - (doc_id % 65536)) / 65536 AS BIGINT) AS ah,
        |    doc_id % 65536 AS al
        |  FROM documents),
        |u AS (SELECT doc_id, lang, source, n_chars,
        |    CAST((((ah * 2654435761) % 65536) * 65536 + al * 2654435761) % 4294967296 AS DOUBLE) / 4294967296.0 AS uu
        |  FROM h),
        |r AS (SELECT doc_id, lang, source, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY uu, doc_id) AS rn
        |  FROM u)
        |SELECT doc_id, lang, source, n_chars
        |FROM r WHERE rn <= 25 ORDER BY doc_id""".stripMargin,
    // q79: hourly series resampled onto the full calendar spine —
    // generate_series is inclusive on both ends like Spark's sequence
    "q79_gap_filled_hourly" ->
      """WITH c AS (SELECT date_trunc('hour', ts) AS h, COUNT(*) AS n
        |           FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |b AS (SELECT min(h) AS mn, max(h) AS mx FROM c),
        |s AS (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h FROM b)
        |SELECT strftime(s.h, '%Y-%m-%d %H:%M:%S') AS hour,
        |  COALESCE(c.n, 0) AS n
        |FROM s LEFT JOIN c ON s.h = c.h
        |ORDER BY hour""".stripMargin,
    // q78: fixed-bin histogram — identical double arithmetic on both
    // sides (width = (mx-mn)/20.0, bucket = clamped floor, bounds =
    // mn + bucket*width) so values are bit-equal
    "q78_price_histogram" ->
      """WITH b AS (SELECT min(CAST(l_extendedprice AS DOUBLE)) AS mn,
        |                  max(CAST(l_extendedprice AS DOUBLE)) AS mx
        |           FROM lineitem),
        |g AS (SELECT CAST(least(19, floor((CAST(l_extendedprice AS DOUBLE) - mn)
        |               / ((mx - mn)/20.0))) AS INT) AS bucket,
        |        COUNT(*) AS n, any_value(mn) AS mn2, any_value(mx) AS mx2
        |      FROM lineitem, b
        |      WHERE l_extendedprice IS NOT NULL
        |      GROUP BY 1)
        |SELECT bucket, mn2 + bucket*((mx2 - mn2)/20.0) AS lo,
        |  mn2 + (bucket+1)*((mx2 - mn2)/20.0) AS hi, n
        |FROM g ORDER BY bucket""".stripMargin,
    // q76: sliding-window chunking == the unnest(range) formulation
    // (DuckDB list slices are 1-based inclusive; range excludes the
    // stop, matching the engine's starts-below-n rule)
    "q76_document_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |c AS (SELECT doc_id, toks,
        |        unnest(range(0, greatest(len(toks), 1), 32)) AS chunk_start
        |      FROM t)
        |SELECT doc_id, chunk_start,
        |  array_to_string(toks[chunk_start+1:chunk_start+64], ' ') AS chunk_text,
        |  len(toks[chunk_start+1:chunk_start+64]) AS chunk_len
        |FROM c ORDER BY doc_id, chunk_start""".stripMargin,
    // q72: identical semantics to q48 at a denser probe stride — the
    // engine side runs the bloom-prefilter path, and the oracle pins
    // that the prefilter changes nothing
    "q72_contamination_bloom" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(list_distinct([array_to_string(toks[i:i+2],' ') for i in range(1, len(toks)-1)])) AS s
        |       FROM t),
        |probe AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0)
        |SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        |FROM sh JOIN probe ON sh.s = probe.s
        |WHERE sh.doc_id % 50 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q80: the raw contact card is the same integer-formula synthesis
    // on both sides; patterns are the Java-regex/RE2 shared subset.
    // DuckDB's regexp_replace is first-match-only without the 'g'
    // flag — the engine side (Java) is global by default.
    "q80_pii_redaction" ->
      """WITH raw AS (SELECT c_custkey,
        |    'reach ' || lower(replace(c_name, '#', '')) ||
        |    '@mail' || CAST(c_custkey % 7 AS VARCHAR) || '.example.com' ||
        |    CASE WHEN c_custkey % 3 = 0 THEN ' cc admin' ||
        |      CAST(c_custkey % 5 AS VARCHAR) || '@corp.example.org'
        |      ELSE '' END ||
        |    ' or call 555-' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') ||
        |    '-' || lpad(CAST((c_custkey * 7) % 10000 AS VARCHAR), 4, '0') ||
        |    ' from 10.' || CAST(c_nationkey % 256 AS VARCHAR) ||
        |    '.0.' || CAST(c_custkey % 256 AS VARCHAR) ||
        |    CASE WHEN c_custkey % 4 = 0 THEN ' ssn ' ||
        |      lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-' ||
        |      lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0') || '-' ||
        |      lpad(CAST((c_custkey * 3) % 10000 AS VARCHAR), 4, '0')
        |      ELSE '' END AS t
        |  FROM customer)
        |SELECT c_custkey,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |    '\+?[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
        |    '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g')
        |    AS redacted,
        |  len(regexp_extract_all(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS n_email,
        |  len(regexp_extract_all(t, '\+?[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS n_phone,
        |  len(regexp_extract_all(t, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS n_ssn,
        |  len(regexp_extract_all(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ip
        |FROM raw ORDER BY c_custkey""".stripMargin,
    // q81: the oracle re-parses the synthesized URLs with component
    // regexes (authority / path / query-param) and folds www. itself
    "q81_domain_traffic" ->
      """WITH u AS (SELECT
        |    'https://' || CASE WHEN o_orderkey % 5 = 0 THEN 'www.' ELSE '' END ||
        |    'shop' || CAST(o_custkey % 20 AS VARCHAR) || '.example.com/cat/' ||
        |    CAST(o_orderkey % 7 AS VARCHAR) || '/p' ||
        |    CAST(o_orderkey % 97 AS VARCHAR) ||
        |    '?item=' || CAST(o_orderkey AS VARCHAR) ||
        |    '&ref=r' || CAST(o_custkey % 3 AS VARCHAR) AS url,
        |    o_totalprice
        |  FROM orders)
        |SELECT
        |  regexp_replace(regexp_extract(url, '^[a-z]+://([^/?#]+)', 1),
        |    '^www\.', '') AS domain,
        |  COUNT(*) AS n_urls,
        |  COUNT(DISTINCT regexp_extract(url, '^[a-z]+://[^/?#]+(/[^?#]*)', 1))
        |    AS n_paths,
        |  CAST(SUM(CAST(regexp_extract(url, '[?&]item=([^&#]*)', 1) AS BIGINT))
        |    AS BIGINT) AS sum_item,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
        |FROM u GROUP BY domain ORDER BY domain""".stripMargin,
    // q82: linear-idf tf-idf — score (tf·N)/(len·df) is one division
    // of exact integers, so the doubles (and the ranking) are
    // bit-identical across engines; ln(N/df) could not promise that
    "q82_tfidf_terms" ->
      """WITH tok AS (SELECT doc_id, len(string_split(text,' ')) AS doc_len,
        |    unnest(string_split(text,' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, doc_len, token, COUNT(*) AS tf
        |       FROM tok GROUP BY 1, 2, 3),
        |dfreq AS (SELECT token, COUNT(*) AS dfreq FROM tf GROUP BY 1),
        |scored AS (SELECT doc_id, token, tf, dfreq,
        |    CAST(tf * (SELECT COUNT(*) FROM documents) AS DOUBLE) /
        |      CAST(doc_len * dfreq AS DOUBLE) AS tfidf
        |  FROM tf JOIN dfreq USING (token)),
        |ranked AS (SELECT doc_id, token, tf, dfreq, tfidf,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY tfidf DESC, token) AS rnk
        |  FROM scored)
        |SELECT doc_id, rnk, token, CAST(tf AS BIGINT) AS tf,
        |  CAST(dfreq AS BIGINT) AS dfreq, tfidf
        |FROM ranked WHERE rnk <= 2 ORDER BY doc_id, rnk""".stripMargin,
    // q83: same split-multiply Knuth uniform as q42, divided by the
    // weight — one correctly-rounded division, bit-portable
    "q83_weighted_sample" ->
      """WITH h AS (SELECT doc_id, lang, n_chars,
        |    CAST(((doc_id % 4294967296) - (doc_id % 65536)) / 65536 AS BIGINT) AS ah,
        |    doc_id % 65536 AS al
        |  FROM documents)
        |SELECT doc_id, lang, n_chars,
        |  (CAST((((ah * 2654435761) % 65536) * 65536 + al * 2654435761)
        |      % 4294967296 AS DOUBLE) / 4294967296.0)
        |    / CAST(n_chars AS DOUBLE) AS priority
        |FROM h ORDER BY priority, doc_id LIMIT 100""".stripMargin,
    // q84: the oracle is the full-cardinality groupBy the sketch
    // path must reproduce exactly
    "q84_heavy_hitters" ->
      """SELECT l_partkey, COUNT(*) AS cnt FROM lineitem
        |GROUP BY l_partkey HAVING COUNT(*) >= 45
        |ORDER BY l_partkey""".stripMargin,
    // q85: decimal windowed sums (order-independent), double
    // finishers written in the engine's exact expression order
    "q85_value_anomalies" ->
      """WITH w AS (SELECT user_id, event_id, value,
        |    COUNT(*) OVER tw AS n_prev,
        |    CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER tw AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2)))
        |      OVER tw AS DOUBLE) AS s2
        |  FROM events
        |  WINDOW tw AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
        |z AS (SELECT user_id, event_id, value, n_prev,
        |    s1 / CAST(n_prev AS DOUBLE) AS trail_mean,
        |    (value - s1 / CAST(n_prev AS DOUBLE)) /
        |      sqrt(s2 / CAST(n_prev AS DOUBLE) -
        |        (s1 / CAST(n_prev AS DOUBLE)) * (s1 / CAST(n_prev AS DOUBLE)))
        |      AS zscore
        |  FROM w)
        |SELECT user_id, event_id, value, CAST(n_prev AS BIGINT) AS n_prev,
        |  trail_mean, zscore
        |FROM z WHERE n_prev >= 10 AND abs(zscore) > 2.0
        |ORDER BY user_id, event_id""".stripMargin,
    // q86: two unnests in one SELECT zip positionally in DuckDB —
    // that carries token order into the string_agg reassembly
    "q86_vocab_encode" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split(text,' ')) AS token,
        |    unnest(range(1, len(string_split(text,' ')) + 1)) AS pos
        |  FROM documents),
        |counts AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1),
        |vocab AS (SELECT token, id FROM (
        |    SELECT token, ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS id
        |    FROM counts) WHERE id <= 16),
        |enc AS (SELECT t.doc_id,
        |    string_agg(CAST(COALESCE(v.id, 0) AS VARCHAR), ' ' ORDER BY t.pos)
        |      AS ids,
        |    COUNT(*) AS n_tokens,
        |    SUM(CASE WHEN v.id IS NULL THEN 1 ELSE 0 END) AS n_oov
        |  FROM tok t LEFT JOIN vocab v USING (token) GROUP BY 1)
        |SELECT doc_id, ids, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(n_oov AS BIGINT) AS n_oov
        |FROM enc ORDER BY doc_id""".stripMargin,
    // q87: full PQ re-derivation — Knuth-sampled codebooks (same
    // split-multiply uniform as q42/q83), integer L2 code
    // assignment (ties to smallest code), ADC table-lookup sums.
    // Everything is exact integers; the hash compare covers the
    // distances themselves, not just the neighbor lists.
    "q87_knn_pq" ->
      """WITH e AS (SELECT vec_id,
        |    [CAST(round(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) for x in embedding] AS q
        |  FROM embeddings),
        |u AS (SELECT vec_id, q,
        |    CAST((((CAST(((vec_id % 4294967296) - (vec_id % 65536)) / 65536 AS BIGINT)
        |      * 2654435761) % 65536) * 65536 + (vec_id % 65536) * 2654435761)
        |      % 4294967296 AS BIGINT) AS uk
        |  FROM e),
        |seeds AS (SELECT vec_id, q,
        |    ROW_NUMBER() OVER (ORDER BY uk, vec_id) AS code FROM u),
        |books AS (SELECT code, t.sub, q[t.sub*16+1 : t.sub*16+16] AS cw
        |  FROM seeds, range(0, 4) t(sub) WHERE code <= 16),
        |enc0 AS (SELECT v.vec_id, b.sub, b.code,
        |    list_reduce([CAST(0 AS BIGINT)] +
        |      [(v.q[b.sub*16+i] - b.cw[i]) * (v.q[b.sub*16+i] - b.cw[i])
        |        for i in range(1, 17)], (a, x) -> a + x) AS dist
        |  FROM e v CROSS JOIN books b),
        |enc AS (SELECT vec_id, sub, code FROM (
        |    SELECT vec_id, sub, code,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, sub
        |        ORDER BY dist, code) AS rn
        |    FROM enc0) WHERE rn = 1),
        |qs AS (SELECT vec_id AS qid, q AS qq FROM e WHERE vec_id % 100 = 0),
        |dt AS (SELECT qid, b.sub, b.code,
        |    list_reduce([CAST(0 AS BIGINT)] +
        |      [(qq[b.sub*16+i] - b.cw[i]) * (qq[b.sub*16+i] - b.cw[i])
        |        for i in range(1, 17)], (a, x) -> a + x) AS d
        |  FROM qs CROSS JOIN books b),
        |ad AS (SELECT dt.qid, enc.vec_id, SUM(dt.d) AS adist
        |  FROM enc JOIN dt ON enc.sub = dt.sub AND enc.code = dt.code
        |  WHERE enc.vec_id <> dt.qid
        |  GROUP BY 1, 2),
        |r AS (SELECT qid AS query_id, vec_id, adist,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS rnk
        |  FROM ad)
        |SELECT query_id, rnk, vec_id, CAST(adist AS BIGINT) AS adist
        |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,
    // q88: exact integer L1 numerator (HUGEINT in DuckDB, decimal in
    // the engine — both exact), one correctly-rounded division
    "q88_source_drift" ->
      """WITH tok AS (SELECT source, unnest(string_split(text,' ')) AS token
        |  FROM documents),
        |bs AS (SELECT source, token, COUNT(*) AS c_st FROM tok GROUP BY 1, 2),
        |ct AS (SELECT token, SUM(c_st) AS c_t FROM bs GROUP BY 1),
        |ns AS (SELECT source, SUM(c_st) AS n_s FROM bs GROUP BY 1),
        |n AS (SELECT SUM(c_t) AS nt FROM ct),
        |j AS (SELECT g.source, g.n_s, g.c_t, COALESCE(bs.c_st, 0) AS c_st
        |  FROM (SELECT ns.source, ns.n_s, ct.token, ct.c_t
        |        FROM ns CROSS JOIN ct) g
        |  LEFT JOIN bs ON g.source = bs.source AND g.token = bs.token),
        |agg AS (SELECT source, n_s,
        |    SUM(abs(c_st * (SELECT nt FROM n) - c_t * n_s)) AS l1_num
        |  FROM j GROUP BY 1, 2)
        |SELECT source, CAST(n_s AS BIGINT) AS n_s,
        |  CAST(l1_num AS BIGINT) AS l1_num,
        |  CAST(l1_num AS DOUBLE) /
        |    CAST(n_s * (SELECT nt FROM n) AS DOUBLE) AS l1
        |FROM agg ORDER BY source""".stripMargin,
    // q89: first-activity cohorts × day offsets, exact distinct users
    "q89_cohort_retention" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |c AS (SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY 1)
        |SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
        |  ev.day - c.cohort_day AS day_offset,
        |  COUNT(DISTINCT ev.user_id) AS n_active
        |FROM ev JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q90: same integer-formula corruption, same nation blocking,
    // same classic Levenshtein — distances included in the hash
    "q90_fuzzy_match" ->
      """WITH clean AS (SELECT c_custkey AS id, c_name AS key,
        |    CAST(c_nationkey AS VARCHAR) || '|' || right(c_name, 2) AS block
        |  FROM customer),
        |dirty AS (SELECT c_custkey + 1000000 AS id,
        |    CASE WHEN c_custkey % 3 = 0
        |           THEN substr(c_name, 1, 9) || substr(c_name, 11)
        |         WHEN c_custkey % 3 = 1
        |           THEN substr(c_name, 1, 11) || 'x' || substr(c_name, 13)
        |         ELSE c_name END AS key,
        |    CAST(c_nationkey AS VARCHAR) || '|' ||
        |      right(CASE WHEN c_custkey % 3 = 0
        |           THEN substr(c_name, 1, 9) || substr(c_name, 11)
        |         WHEN c_custkey % 3 = 1
        |           THEN substr(c_name, 1, 11) || 'x' || substr(c_name, 13)
        |         ELSE c_name END, 2) AS block FROM customer)
        |SELECT l.id AS left_id, r.id AS right_id,
        |  levenshtein(l.key, r.key) AS dist
        |FROM clean l JOIN dirty r ON l.block = r.block
        |WHERE levenshtein(l.key, r.key) <= 2
        |ORDER BY left_id, right_id""".stripMargin,
    // q91: HUGEINT moment sums mirror the engine's decimal(38,0)
    // exactness; identical double finisher expression order
    "q91_exact_corr" ->
      """WITH g AS (SELECT l_returnflag,
        |    CAST(round(CAST(l_quantity AS DOUBLE) * 100.0) AS BIGINT) AS x,
        |    CAST(round(CAST(l_extendedprice AS DOUBLE) * 100.0) AS BIGINT) AS y
        |  FROM lineitem),
        |a AS (SELECT l_returnflag, COUNT(*) AS n,
        |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy
        |  FROM g GROUP BY 1)
        |SELECT l_returnflag, n,
        |  CASE WHEN (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0 THEN
        |    CAST(n*sxy - sx*sy AS DOUBLE) /
        |      (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) *
        |       sqrt(CAST(n*syy - sy*sy AS DOUBLE)))
        |  END AS corr
        |FROM a ORDER BY l_returnflag""".stripMargin,
    // q92: the same three integer PageRank iterations, unrolled —
    // BIGINT // floor-div matches the engine's `div` on positives
    "q92_copurchase_rank" ->
      """WITH pairs AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
        |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT c AS src, p + 10000000 AS dst FROM pairs
        |      UNION ALL SELECT p + 10000000, c FROM pairs),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
        |r1 AS (SELECT n.node,
        |    150000 + COALESCE(SUM((r.rank * 85) // (100 * od.outdeg)), 0)
        |      AS rank
        |  FROM nodes n LEFT JOIN e ON e.dst = n.node
        |  LEFT JOIN od ON od.src = e.src
        |  LEFT JOIN r0 r ON r.node = e.src GROUP BY 1),
        |r2 AS (SELECT n.node,
        |    150000 + COALESCE(SUM((r.rank * 85) // (100 * od.outdeg)), 0)
        |      AS rank
        |  FROM nodes n LEFT JOIN e ON e.dst = n.node
        |  LEFT JOIN od ON od.src = e.src
        |  LEFT JOIN r1 r ON r.node = e.src GROUP BY 1),
        |r3 AS (SELECT n.node,
        |    150000 + COALESCE(SUM((r.rank * 85) // (100 * od.outdeg)), 0)
        |      AS rank
        |  FROM nodes n LEFT JOIN e ON e.dst = n.node
        |  LEFT JOIN od ON od.src = e.src
        |  LEFT JOIN r2 r ON r.node = e.src GROUP BY 1)
        |SELECT node, CAST(rank AS BIGINT) AS rank
        |FROM r3 ORDER BY node""".stripMargin,
    // q93: same perturbation, same null-safe classification;
    // concat_ws skips NULLs in both engines
    "q93_orders_diff" ->
      """WITH a AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 2000000, o_custkey, 'N', o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 89 = 0),
        |j AS (SELECT b.o_orderkey AS bk, a.o_orderkey AS ak,
        |    COALESCE(b.o_orderkey, a.o_orderkey) AS o_orderkey,
        |    CASE WHEN b.o_orderkey IS NULL THEN 'added'
        |         WHEN a.o_orderkey IS NULL THEN 'removed'
        |         ELSE 'changed' END AS status,
        |    concat_ws(',',
        |      CASE WHEN b.o_custkey IS DISTINCT FROM a.o_custkey
        |        THEN 'o_custkey' END,
        |      CASE WHEN b.o_orderdate IS DISTINCT FROM a.o_orderdate
        |        THEN 'o_orderdate' END,
        |      CASE WHEN b.o_orderpriority IS DISTINCT FROM a.o_orderpriority
        |        THEN 'o_orderpriority' END,
        |      CASE WHEN b.o_orderstatus IS DISTINCT FROM a.o_orderstatus
        |        THEN 'o_orderstatus' END,
        |      CASE WHEN b.o_totalprice IS DISTINCT FROM a.o_totalprice
        |        THEN 'o_totalprice' END) AS cc,
        |    (b.o_custkey IS DISTINCT FROM a.o_custkey OR
        |     b.o_orderstatus IS DISTINCT FROM a.o_orderstatus OR
        |     b.o_totalprice IS DISTINCT FROM a.o_totalprice OR
        |     b.o_orderdate IS DISTINCT FROM a.o_orderdate OR
        |     b.o_orderpriority IS DISTINCT FROM a.o_orderpriority)
        |      AS any_change
        |  FROM orders b FULL OUTER JOIN a ON b.o_orderkey = a.o_orderkey)
        |SELECT o_orderkey, status,
        |  CASE WHEN status = 'changed' THEN cc ELSE '' END AS changed_cols
        |FROM j WHERE bk IS NULL OR ak IS NULL OR any_change
        |ORDER BY o_orderkey, status""".stripMargin,
    // q94: the custom flatMapGroupsWithState sessionizer must land on
    // the SAME batch gap-session oracle as q39's session_window path
    "q94_custom_state_sessions" ->
      """WITH x AS (
        |  SELECT user_id, ts, epoch_us(ts) AS e,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS pe
        |  FROM events),
        |s AS (SELECT user_id, ts,
        |        SUM(CASE WHEN pe IS NULL OR e - pe > 1800000000 THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY user_id ORDER BY ts
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM x)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  COUNT(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    // q95: every decoded audio feature recomputed from the sawtooth
    // synthesis formulas (integer-exact — sin would not be)
    "q95_audio_decode" ->
      """WITH s AS (SELECT doc_id,
        |    8000 + (doc_id % 3) * 4000 AS sample_rate,
        |    800 + (doc_id % 5) * 80 AS n,
        |    3 + (doc_id % 7) AS step
        |  FROM documents),
        |w AS (SELECT doc_id, sample_rate, n, step,
        |    unnest(range(0, n)) AS i FROM s),
        |v AS (SELECT doc_id, sample_rate, n,
        |    ((i * step) % 2001) - 1000 AS v, least((i * 4) // n, 3) AS q
        |  FROM w),
        |a AS (SELECT doc_id, sample_rate, n,
        |    SUM(v * v) AS sum_sq,
        |    SUM(CASE WHEN q = 0 THEN abs(v) ELSE 0 END) AS e0,
        |    SUM(CASE WHEN q = 1 THEN abs(v) ELSE 0 END) AS e1,
        |    SUM(CASE WHEN q = 2 THEN abs(v) ELSE 0 END) AS e2,
        |    SUM(CASE WHEN q = 3 THEN abs(v) ELSE 0 END) AS e3
        |  FROM v GROUP BY 1, 2, 3)
        |SELECT doc_id, TRUE AS decoded,
        |  CAST(sample_rate AS BIGINT) AS sample_rate,
        |  CAST(1 AS BIGINT) AS channels,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST(sum_sq AS BIGINT) AS sum_sq,
        |  CAST(e0 AS BIGINT) AS env_0, CAST(e1 AS BIGINT) AS env_1,
        |  CAST(e2 AS BIGINT) AS env_2, CAST(e3 AS BIGINT) AS env_3
        |FROM a ORDER BY doc_id""".stripMargin,
    // q96: per-frame lumas recomputed from the solid-color synthesis
    // formulas (solid frames survive GIF palettization bit-exactly)
    "q96_video_decode" ->
      """WITH s AS (SELECT doc_id,
        |    2 + (doc_id % 3) AS n_frames,
        |    4 + (doc_id % 5) AS width,
        |    3 + (doc_id % 4) AS height
        |  FROM documents),
        |l AS (SELECT doc_id, n_frames, width, height,
        |    [(299 * ((doc_id * 11 + f * 31) % 256) +
        |      587 * ((doc_id * 7) % 256) +
        |      114 * ((doc_id * 13) % 256)) // 1000
        |     for f in range(0, 4)] AS lm
        |  FROM s)
        |SELECT doc_id, TRUE AS decoded,
        |  CAST(n_frames AS BIGINT) AS n_frames,
        |  CAST(width AS BIGINT) AS width,
        |  CAST(height AS BIGINT) AS height,
        |  CAST(lm[1] AS BIGINT) AS luma_0,
        |  CAST(lm[2] AS BIGINT) AS luma_1,
        |  CASE WHEN n_frames >= 3 THEN CAST(lm[3] AS BIGINT) END AS luma_2,
        |  CASE WHEN n_frames >= 4 THEN CAST(lm[4] AS BIGINT) END AS luma_3
        |FROM l ORDER BY doc_id""".stripMargin,
    // q97: the oracle re-derives the full LSH mechanics — hyperplane
    // components from the same integer formula, sign signatures,
    // exact Hamming, exact quantized cosine
    "q97_embedding_lsh" ->
      """WITH e AS (SELECT vec_id,
        |             [CAST(round(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) for x in embedding] AS q
        |           FROM embeddings),
        |h AS (SELECT b, pos, ((b*1009 + pos + 1) * 2654435761) % 2001 - 1000 AS hv
        |      FROM range(32) t(b), range(64) p(pos)),
        |ev AS (SELECT vec_id, pos, q[pos+1] AS v FROM e, range(64) p(pos)),
        |dots AS (SELECT vec_id, b, SUM(v * hv) AS d
        |         FROM ev JOIN h USING (pos) GROUP BY 1, 2),
        |sig AS (SELECT vec_id, SUM(CASE WHEN d >= 0 THEN 1<<b ELSE 0 END) AS s
        |        FROM dots GROUP BY 1),
        |n AS (SELECT vec_id, q,
        |        list_reduce([CAST(0 AS BIGINT)] + [x*x for x in q], (a,b) -> a+b) AS n2
        |      FROM e),
        |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |        CAST(bit_count(CAST(xor(sa.s, sb.s) AS BIGINT)) AS BIGINT) AS hamming,
        |        CAST(list_reduce([CAST(0 AS BIGINT)] + [a.q[i]*b.q[i] for i in range(1, len(a.q)+1)],
        |            (x,y) -> x+y) AS DOUBLE)
        |          / sqrt(CAST(a.n2 AS DOUBLE)*CAST(b.n2 AS DOUBLE)) AS cos
        |      FROM n a JOIN n b ON a.vec_id < b.vec_id
        |      JOIN sig sa ON sa.vec_id = a.vec_id
        |      JOIN sig sb ON sb.vec_id = b.vec_id)
        |SELECT vec_a, vec_b, hamming, floor(cos*1000000.0 + 0.5)/1000000.0 AS cos
        |FROM p WHERE hamming <= 5 AND cos >= 0.25
        |ORDER BY vec_a, vec_b""".stripMargin,
    // q98: q41's recursive closure supplies the near-dup families;
    // the split is q42's portable Knuth uniform on the family id
    "q98_leakage_split" ->
      """WITH RECURSIVE t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(list_distinct([array_to_string(toks[i:i+2],' ') for i in range(1, len(toks)-1)])) AS s
        |       FROM t),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |p AS (SELECT da, db
        |      FROM inter JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
        |      WHERE CAST(i AS DOUBLE)/CAST(x.n + y.n - i AS DOUBLE) >= 0.5),
        |edges AS (SELECT da AS src, db AS dst FROM p
        |          UNION SELECT db, da FROM p),
        |walk(node, label) AS (
        |  SELECT src AS node, src AS label FROM edges
        |  UNION
        |  SELECT e.src, w.label FROM edges e JOIN walk w ON w.node = e.dst
        |),
        |cl AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY 1),
        |f AS (SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS family
        |      FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
        |k AS (SELECT doc_id, family,
        |        CAST(((family % 4294967296) - (family % 65536)) / 65536 AS BIGINT) AS ah,
        |        family % 65536 AS al
        |      FROM f)
        |SELECT doc_id, family,
        |  CASE WHEN CAST((((ah * 2654435761) % 65536) * 65536 + al * 2654435761) % 4294967296 AS DOUBLE) / 4294967296.0 < 0.8
        |       THEN 'train' ELSE 'eval' END AS split
        |FROM k ORDER BY doc_id""".stripMargin,
    // q99: the oracle's global row_number IS the single-partition
    // trap the engine-side two-phase form avoids — same answer
    "q99_shard_shuffle" ->
      """WITH h AS (SELECT doc_id,
        |    CAST(((doc_id % 4294967296) - (doc_id % 65536)) / 65536 AS BIGINT) AS ah,
        |    doc_id % 65536 AS al
        |  FROM documents),
        |u AS (SELECT doc_id,
        |    CAST((((ah * 2654435761) % 65536) * 65536 + al * 2654435761) % 4294967296 AS DOUBLE) / 4294967296.0 AS u
        |  FROM h),
        |r AS (SELECT doc_id,
        |    ROW_NUMBER() OVER (ORDER BY u, doc_id) - 1 AS rk
        |  FROM u)
        |SELECT doc_id, rk // 64 AS shard, rk % 64 AS pos
        |FROM r ORDER BY doc_id""".stripMargin,
    "q100_incremental_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(list_distinct([array_to_string(toks[i:i+2],' ') for i in range(1, len(toks)-1)])) AS s
        |       FROM t),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS ba, b.doc_id AS ca, COUNT(*) AS i
        |          FROM sh a JOIN sh b ON a.s = b.s
        |          WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 != 7
        |          GROUP BY 1, 2)
        |SELECT ba AS batch_doc, ca AS corpus_doc,
        |  CAST(i AS DOUBLE)/CAST(x.n + y.n - i AS DOUBLE) AS j
        |FROM inter JOIN sz x ON ba = x.doc_id JOIN sz y ON ca = y.doc_id
        |WHERE CAST(i AS DOUBLE)/CAST(x.n + y.n - i AS DOUBLE) >= 0.5
        |ORDER BY batch_doc, corpus_doc""".stripMargin,
    // q101: exact ranks -> equi-depth quantile cells -> Morton
    // interleave -> curve-order buckets, all integer/exact-double
    "q101_zorder_layout" ->
      """WITH r AS (SELECT o_orderkey, o_custkey,
        |      date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS o_days
        |    FROM orders),
        |c AS (SELECT COUNT(*) AS n FROM r),
        |ra AS (SELECT *, ROW_NUMBER() OVER (ORDER BY o_custkey, o_orderkey) - 1 AS rka FROM r),
        |rb AS (SELECT *, ROW_NUMBER() OVER (ORDER BY o_days, o_orderkey) - 1 AS rkb FROM ra),
        |q AS (SELECT o_orderkey, o_custkey, o_days,
        |    CAST(floor(CAST(rka * 4096 AS DOUBLE) / n) AS BIGINT) AS qa,
        |    CAST(floor(CAST(rkb * 4096 AS DOUBLE) / n) AS BIGINT) AS qb
        |  FROM rb, c),
        |z AS (SELECT o_orderkey, o_custkey, o_days,
        |    list_sum([((qa // (CAST(1 AS BIGINT) << i)) % 2) * (CAST(1 AS BIGINT) << (2*i))
        |            + ((qb // (CAST(1 AS BIGINT) << i)) % 2) * (CAST(1 AS BIGINT) << (2*i+1))
        |            for i in range(0, 12)]) AS zv
        |  FROM q),
        |rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY zv, o_orderkey) - 1 AS rkz FROM z)
        |SELECT rkz // 1024 AS bucket, COUNT(*) AS n_rows,
        |  MIN(o_custkey) AS min_cust, MAX(o_custkey) AS max_cust,
        |  MIN(o_days) AS min_day, MAX(o_days) AS max_day
        |FROM rk GROUP BY 1 ORDER BY 1""".stripMargin,
    // q102: add-one-smoothed unigram surprisal in integer micro-nats
    // (floor(-ln p * 1e6 + 0.5)) — the sum is exact-integer, so the
    // per-doc mean is order-independent and the engines' ln ulp
    // differences are absorbed before aggregation
    "q102_perplexity" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split(text,' ')) AS token FROM documents),
        |counts AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1),
        |vocab AS (SELECT token, cnt FROM (
        |    SELECT token, cnt,
        |      ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS id
        |    FROM counts) WHERE id <= 64),
        |tot AS (SELECT COUNT(*) AS n_total FROM tok),
        |scored AS (SELECT t.doc_id,
        |    CAST(floor(-ln(CAST(COALESCE(v.cnt, 0) + 1 AS DOUBLE) /
        |        CAST(n_total + 64 + 1 AS DOUBLE)) * 1000000.0 + 0.5)
        |      AS BIGINT) AS smicro,
        |    CASE WHEN v.cnt IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM tok t LEFT JOIN vocab v USING (token) CROSS JOIN tot),
        |agg AS (SELECT doc_id, COUNT(*) AS n_tokens,
        |    CAST(SUM(smicro) AS BIGINT) AS smicro,
        |    CAST(SUM(oov) AS BIGINT) AS n_oov
        |  FROM scored GROUP BY 1)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, n_oov,
        |  CAST(smicro AS DOUBLE) / CAST(n_tokens AS DOUBLE) / 1000000.0
        |    AS avg_surprisal,
        |  floor(exp(CAST(smicro AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |      / 1000000.0) * 1000000.0 + 0.5) / 1000000.0 AS ppl
        |FROM agg ORDER BY doc_id""".stripMargin,
    // q103/q104: the oracle replays the identical BPE rounds as
    // generated CTE chains — same chr(1)-wrapped repr, same (cnt
    // desc, lhs, rhs) pair choice, same greedy literal replace
    "q103_bpe_merges" -> bpeOracle(rounds = 8),
    "q104_bpe_encode" -> bpeEncodeOracle(rounds = 8),
    // q105: the oracle replays the identical Lloyd rounds as a
    // generated CTE chain (the BPE pattern) — same Knuth-sampled
    // seeds, same shifted-grid integer distances, same floor-mean
    // update (non-negative operands make // and div agree), ties to
    // the smallest cluster id on both sides
    "q105_kmeans" -> kmeansOracle(k = 8, iters = 2, d = 64),
    // q107: the q105 CTE chain plus a within-cluster pair tail —
    // unshifted quantized vectors recovered by translation, exact
    // integer dot/norms, the q35 double cosine, kept = no lower-id
    // neighbor at or above the threshold
    "q107_semantic_dedup" ->
      semanticDedupOracle(k = 8, iters = 2, d = 64, tau = "0.40"),
    // q108: the observed day-value is the day's LAST event by
    // (ts, event_id); carried values are verbatim copies so the
    // double column hashes bit-identically
    "q108_locf_daily" ->
      """WITH daily AS (
        |  SELECT user_id, day, v FROM (
        |    SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, value AS v,
        |      ROW_NUMBER() OVER (PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE)
        |                         ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events) WHERE rn = 1),
        |grid AS (SELECT user_id,
        |    CAST(unnest(generate_series(CAST(lo AS TIMESTAMP), CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM (SELECT user_id, min(day) AS lo, max(day) AS hi FROM daily GROUP BY 1)),
        |j AS (SELECT g.user_id, g.day, d.v FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
        |  CAST(CASE WHEN v IS NULL THEN 1 ELSE 0 END AS INTEGER) AS filled
        |FROM j ORDER BY user_id, day""".stripMargin,
    // q109: the identical BM25 chain — idf rounded ONCE to integer
    // micro-nats (exact-integer ratio into ln, so both engines see
    // the same double; the rounding absorbs last-ulp ln drift), each
    // (doc, term) contribution rounded ONCE to a long, exact-integer
    // score sum, rank by (score desc, doc_id)
    "q109_bm25_topk" ->
      """WITH q(query_id, token) AS (VALUES
        |    (1,'spark'),(1,'table'),(1,'scan'),
        |    (2,'fast'),(2,'merge'),(2,'batch'),
        |    (3,'customer'),(3,'order'),(3,'value'),
        |    (4,'vector'),(4,'stream')),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
        |       WHERE token IN (SELECT DISTINCT token FROM q) GROUP BY 1, 2),
        |tot AS (SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
        |               (SELECT COUNT(*) FROM tok) AS t_total),
        |idf AS (SELECT token, CAST(floor(ln(1.0 +
        |      (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
        |      * 1000000.0 + 0.5) AS BIGINT) AS idf_micro
        |    FROM (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1), tot),
        |c AS (SELECT q.query_id, tf.doc_id,
        |    CAST(floor(CAST(idf_micro AS DOUBLE) *
        |      (CAST(tf AS DOUBLE) * 2.2 / (CAST(tf AS DOUBLE) + 1.2 *
        |        (1.0 - 0.75 + 0.75 * CAST(dl.dl AS DOUBLE) /
        |          (CAST(t_total AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
        |      + 0.5) AS BIGINT) AS c_micro
        |  FROM tf JOIN idf USING (token) JOIN dl USING (doc_id)
        |    JOIN q USING (token), tot),
        |s AS (SELECT query_id, doc_id, CAST(SUM(c_micro) AS BIGINT) AS score_micro
        |      FROM c GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, score_micro,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY score_micro DESC, doc_id) AS rnk FROM s)
        |SELECT CAST(query_id AS INTEGER) AS query_id, CAST(rnk AS INTEGER) AS rnk,
        |  doc_id, score_micro
        |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,
    // q110: the raw-URL synthesis and the six canonicalization
    // passes replayed verbatim (RE2-safe patterns, \1 refs, the 'g'
    // flag standing in for Spark's replace-all default)
    "q110_url_dedup" ->
      """WITH raw AS (SELECT
        |    (CASE WHEN o_orderkey % 11 = 0 THEN 'HTTPS://' ELSE 'https://' END) ||
        |    (CASE WHEN o_orderkey % 5 = 0 THEN 'www.' ELSE '' END) ||
        |    (CASE WHEN o_orderkey % 11 = 0
        |       THEN 'SHOP' || CAST(o_custkey % 10 AS VARCHAR) || '.EXAMPLE.COM'
        |       ELSE 'shop' || CAST(o_custkey % 10 AS VARCHAR) || '.example.com' END) ||
        |    (CASE WHEN o_orderkey % 7 = 0 THEN ':443' ELSE '' END) ||
        |    '/cat/' || CAST(o_orderkey % 5 AS VARCHAR) ||
        |    '/p' || CAST(o_orderkey % 40 AS VARCHAR) ||
        |    (CASE WHEN o_orderkey % 3 = 0 THEN '/' ELSE '' END) ||
        |    (CASE WHEN o_orderkey % 9 = 0 THEN '?utm_campaign=c&' ELSE '?' END) ||
        |    'item=' || CAST(o_orderkey % 8 AS VARCHAR) ||
        |    (CASE WHEN o_orderkey % 2 = 0 THEN '&utm_source=news' ELSE '' END) ||
        |    (CASE WHEN o_custkey % 4 = 0 THEN '&ref=r1' ELSE '' END) ||
        |    (CASE WHEN o_orderkey % 13 = 0 THEN '#frag' ELSE '' END) AS raw,
        |    o_orderkey AS key
        |  FROM orders),
        |s1 AS (SELECT key, raw, regexp_replace(raw, '#.*', '', 'g') AS u FROM raw),
        |s2 AS (SELECT key, raw,
        |    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)) ||
        |    substr(u, length(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)) + 1) AS u
        |  FROM s1),
        |s3 AS (SELECT key, raw, regexp_replace(regexp_replace(u,
        |    '^(https://[^/?#:]*):443([/?#].*)?$', '\1\2'),
        |    '^(http://[^/?#:]*):80([/?#].*)?$', '\1\2') AS u FROM s2),
        |s4 AS (SELECT key, raw, regexp_replace(u, '^(https?://)www\.', '\1') AS u FROM s3),
        |s5 AS (SELECT key, raw, regexp_replace(regexp_replace(regexp_replace(u,
        |    '&(utm_[^&#]*|ref=[^&#]*|fbclid=[^&#]*|gclid=[^&#]*)', '', 'g'),
        |    '\?(utm_[^&#]*|ref=[^&#]*|fbclid=[^&#]*|gclid=[^&#]*)&', '?', 'g'),
        |    '\?(utm_[^&#]*|ref=[^&#]*|fbclid=[^&#]*|gclid=[^&#]*)$', '', 'g') AS u
        |  FROM s4),
        |s6 AS (SELECT key, raw, regexp_replace(u, '/+(\?.*)?$', '\1', 'g') AS url FROM s5)
        |SELECT url, COUNT(*) AS n_raw, COUNT(DISTINCT raw) AS n_variants,
        |  MIN(key) AS first_key
        |FROM s6 GROUP BY url ORDER BY url""".stripMargin,
    // q111: same 8-gram spans — 1-based inclusive slices match
    // Spark's slice(ts, i, n); the span union is COUNT(DISTINCT
    // pos + o) over the 0..n-1 offset table
    "q111_dup_spans" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |pos AS (SELECT doc_id, ts, unnest(range(1, len(ts) - 8 + 2)) AS i FROM tok WHERE len(ts) >= 8),
        |ng AS (SELECT doc_id, i AS pos, list_aggregate(ts[i:i+7], 'string_agg', ' ') AS g FROM pos),
        |dupg AS (SELECT g FROM (SELECT g, COUNT(DISTINCT doc_id) AS nd FROM ng GROUP BY 1) WHERE nd > 1),
        |dup AS (SELECT doc_id, pos FROM ng JOIN dupg USING (g)),
        |cov AS (SELECT doc_id, COUNT(DISTINCT pos) AS dup_starts, COUNT(DISTINCT pos + o) AS covered
        |        FROM dup, range(0, 8) r(o) GROUP BY 1)
        |SELECT t.doc_id, CAST(len(t.ts) AS INTEGER) AS n_tokens,
        |  CAST(COALESCE(c.dup_starts, 0) AS BIGINT) AS dup_starts,
        |  CAST(COALESCE(c.covered, 0) AS BIGINT) AS covered,
        |  CAST(COALESCE(c.covered, 0) AS DOUBLE) / CAST(len(t.ts) AS DOUBLE) AS ratio
        |FROM tok t LEFT JOIN cov c USING (doc_id) ORDER BY doc_id""".stripMargin,
    // q112: √count temperature quotas in integer arithmetic
    // (floor(sqrt) is correctly rounded on exact counts; div is the
    // non-negative floor division both engines share), membership by
    // the shared Knuth-uniform ranking
    "q112_temperature_mix" ->
      """WITH c AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY 1),
        |ci AS (SELECT lang, c, CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT) AS isq FROM c),
        |t AS (SELECT CAST(SUM(isq) AS BIGINT) AS t, CAST(SUM(c) // 4 AS BIGINT) AS target FROM ci),
        |q AS (SELECT lang, CAST(t.target * ci.isq // t.t AS BIGINT) AS quota FROM ci, t),
        |u AS (SELECT doc_id, lang,
        |    CAST((((CAST(((doc_id % 4294967296) - (doc_id % 65536)) / 65536 AS BIGINT)
        |      * 2654435761) % 65536) * 65536 + (doc_id % 65536) * 2654435761)
        |      % 4294967296 AS BIGINT) AS uk
        |  FROM documents),
        |r AS (SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY uk, doc_id) AS rk FROM u)
        |SELECT r.doc_id, r.lang FROM r JOIN q USING (lang) WHERE rk <= quota ORDER BY doc_id""".stripMargin,
    // q106: same graph construction and degree-ordered closure in
    // SQL — tuple (d, node) orientation order matches the engine's
    // struct comparison exactly
    "q106_triangles" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS p FROM lineitem),
        |cooc AS (SELECT a.p AS x, b.p AS y, COUNT(*) AS support
        |       FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |       GROUP BY 1, 2),
        |du AS (SELECT x AS node, y AS nbr, support FROM cooc
        |       UNION ALL SELECT y, x, support FROM cooc),
        |knn AS (SELECT node, nbr FROM (
        |    SELECT node, nbr,
        |      ROW_NUMBER() OVER (PARTITION BY node ORDER BY support DESC, nbr) AS rk
        |    FROM du) WHERE rk <= 4),
        |e AS (SELECT DISTINCT LEAST(node, nbr) AS x, GREATEST(node, nbr) AS y FROM knn),
        |deg AS (SELECT node, COUNT(*) AS d FROM (
        |    SELECT x AS node FROM e UNION ALL SELECT y FROM e) GROUP BY 1),
        |o AS (SELECT CASE WHEN (dx.d, x) < (dy.d, y) THEN x ELSE y END AS src,
        |             CASE WHEN (dx.d, x) < (dy.d, y) THEN y ELSE x END AS dst
        |      FROM e JOIN deg dx ON dx.node = e.x JOIN deg dy ON dy.node = e.y),
        |w AS (SELECT a.src AS u, a.dst AS v1, b.dst AS v2
        |      FROM o a JOIN o b ON a.src = b.src AND a.dst < b.dst),
        |t AS (SELECT u, v1, v2 FROM w JOIN e ON e.x = w.v1 AND e.y = w.v2),
        |corners AS (SELECT u AS node FROM t UNION ALL SELECT v1 FROM t UNION ALL SELECT v2 FROM t),
        |tc AS (SELECT node, COUNT(*) AS triangles FROM corners GROUP BY 1)
        |SELECT deg.node, deg.d AS degree,
        |  CAST(COALESCE(tc.triangles, 0) AS BIGINT) AS triangles
        |FROM deg LEFT JOIN tc USING (node) ORDER BY deg.node""".stripMargin,
    // q113: q111's gram machinery + owner = MIN(doc_id); positions
    // under a gram owned by a smaller id are cut, survivors
    // string_agg back in position order ('' when nothing survives)
    "q113_substr_dedup" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |pos AS (SELECT doc_id, ts, unnest(range(1, len(ts) - 8 + 2)) AS i FROM tok WHERE len(ts) >= 8),
        |ng AS (SELECT doc_id, i AS pos, list_aggregate(ts[i:i+7], 'string_agg', ' ') AS g FROM pos),
        |own AS (SELECT g, MIN(doc_id) AS owner FROM ng GROUP BY 1 HAVING COUNT(DISTINCT doc_id) > 1),
        |cut AS (SELECT DISTINCT ng.doc_id, ng.pos + o AS cp
        |        FROM ng JOIN own USING (g), range(0, 8) r(o) WHERE ng.doc_id > own.owner),
        |rm AS (SELECT doc_id, COUNT(*) AS n_removed FROM cut GROUP BY 1),
        |allpos AS (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS i FROM tok),
        |kept AS (SELECT a.doc_id, string_agg(a.ts[a.i], ' ' ORDER BY a.i) AS text_dedup
        |         FROM allpos a LEFT JOIN cut c ON c.doc_id = a.doc_id AND c.cp = a.i
        |         WHERE c.cp IS NULL GROUP BY 1)
        |SELECT t.doc_id, CAST(len(t.ts) AS INTEGER) AS n_tokens,
        |  CAST(COALESCE(r.n_removed, 0) AS BIGINT) AS n_removed,
        |  COALESCE(k.text_dedup, '') AS text_dedup
        |FROM tok t LEFT JOIN rm r USING (doc_id) LEFT JOIN kept k USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    // q114: every ratio goes through the shared floor-round6 BEFORE
    // the threshold comparison, so a boundary-landing ratio cannot
    // split the engines; pass is the q107-style INTEGER 0/1
    "q114_gopher_rules" ->
      """WITH f AS (SELECT doc_id, text AS t, string_split(text, ' ') AS ts,
        |    string_split(text, chr(10)) AS ls FROM documents),
        |sig AS (SELECT doc_id,
        |    CAST(len(ts) AS INTEGER) AS n_words,
        |    floor(CAST(list_aggregate(list_transform(ts, x -> len(x)), 'sum') AS DOUBLE)
        |      / CAST(len(ts) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS mean_word_len,
        |    floor(CAST(len(regexp_extract_all(t, '#|\.\.\.')) AS DOUBLE)
        |      / CAST(len(ts) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS symbol_ratio,
        |    floor(CAST(len(list_filter(ls, l -> regexp_matches(l, '^\s*[-*•]'))) AS DOUBLE)
        |      / CAST(len(ls) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS bullet_ratio,
        |    floor(CAST(len(list_filter(ls, l -> regexp_matches(l, '\.\.\.\s*$'))) AS DOUBLE)
        |      / CAST(len(ls) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS ellipsis_ratio,
        |    floor(CAST(len(list_filter(ts, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)
        |      / CAST(len(ts) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS alpha_word_ratio,
        |    CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
        |      s -> list_contains(ts, s))) AS INTEGER) AS stop_hits
        |  FROM f)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_ratio,
        |  ellipsis_ratio, alpha_word_ratio, stop_hits,
        |  CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
        |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |    AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9
        |    AND ellipsis_ratio <= 0.3 AND alpha_word_ratio >= 0.8
        |    AND stop_hits >= 2 THEN 1 ELSE 0 END AS INTEGER) AS pass
        |FROM sig ORDER BY doc_id""".stripMargin,
    // q115: the q102 chain + language join + NTILE(3) ordered by the
    // deterministic (avg_surprisal, doc_id) key
    "q115_ppl_buckets" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split(text,' ')) AS token FROM documents),
        |counts AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1),
        |vocab AS (SELECT token, cnt FROM (
        |    SELECT token, cnt,
        |      ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS id
        |    FROM counts) WHERE id <= 64),
        |tot AS (SELECT COUNT(*) AS n_total FROM tok),
        |scored AS (SELECT t.doc_id,
        |    CAST(floor(-ln(CAST(COALESCE(v.cnt, 0) + 1 AS DOUBLE) /
        |        CAST(n_total + 64 + 1 AS DOUBLE)) * 1000000.0 + 0.5)
        |      AS BIGINT) AS smicro
        |  FROM tok t LEFT JOIN vocab v USING (token) CROSS JOIN tot),
        |agg AS (SELECT doc_id, COUNT(*) AS n_tokens,
        |    CAST(SUM(smicro) AS BIGINT) AS smicro
        |  FROM scored GROUP BY 1),
        |ppl AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |    CAST(smicro AS DOUBLE) / CAST(n_tokens AS DOUBLE) / 1000000.0
        |      AS avg_surprisal,
        |    floor(exp(CAST(smicro AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |        / 1000000.0) * 1000000.0 + 0.5) / 1000000.0 AS ppl
        |  FROM agg),
        |b AS (SELECT d.doc_id, d.lang, p.n_tokens, p.avg_surprisal, p.ppl,
        |    CAST(NTILE(3) OVER (PARTITION BY d.lang
        |      ORDER BY p.avg_surprisal, d.doc_id) AS INTEGER) AS bucket
        |  FROM documents d JOIN ppl p USING (doc_id))
        |SELECT doc_id, lang, n_tokens, avg_surprisal, ppl, bucket,
        |  CASE WHEN bucket = 1 THEN 'head' WHEN bucket = 3 THEN 'tail'
        |    ELSE 'middle' END AS bucket_name
        |FROM b ORDER BY doc_id""".stripMargin,
    // q116: probabilities combined in the engine's exact expression
    // order — bigram cb/c1 one division; backoff 0.4 * (cu/n), the
    // division FIRST (the parenthesization is part of the contract:
    // (0.4*cu)/n rounds differently)
    "q116_backoff_ppl" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |pos AS (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS i FROM tok),
        |pairs AS (SELECT doc_id,
        |    CASE WHEN i = 1 THEN NULL ELSE ts[i-1] END AS w1, ts[i] AS w2 FROM pos),
        |uni AS (SELECT w2 AS w, COUNT(*) AS cu FROM pairs GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cu) AS BIGINT) AS n FROM uni),
        |bigc AS (SELECT w1, w2, COUNT(*) AS cb FROM pairs WHERE w1 IS NOT NULL GROUP BY 1, 2),
        |big AS (SELECT w1, w2, cb FROM (
        |    SELECT w1, w2, cb, ROW_NUMBER() OVER (ORDER BY cb DESC, w1, w2) AS rk
        |    FROM bigc) WHERE rk <= 256),
        |sc AS (SELECT p.doc_id,
        |    CAST(floor(-ln(CASE
        |      WHEN p.w1 IS NULL THEN CAST(u.cu AS DOUBLE) / CAST(t.n AS DOUBLE)
        |      WHEN b.cb IS NOT NULL THEN CAST(b.cb AS DOUBLE) / CAST(u1.cu AS DOUBLE)
        |      ELSE 0.4 * (CAST(u.cu AS DOUBLE) / CAST(t.n AS DOUBLE))
        |    END) * 1000000.0 + 0.5) AS BIGINT) AS smicro,
        |    CASE WHEN p.w1 IS NOT NULL AND b.cb IS NULL THEN 1 ELSE 0 END AS backoff
        |  FROM pairs p JOIN uni u ON u.w = p.w2
        |    LEFT JOIN uni u1 ON u1.w = p.w1
        |    LEFT JOIN big b ON b.w1 = p.w1 AND b.w2 = p.w2
        |    CROSS JOIN tot t),
        |agg AS (SELECT doc_id, COUNT(*) AS n_tokens,
        |    CAST(SUM(smicro) AS BIGINT) AS smicro,
        |    CAST(SUM(backoff) AS BIGINT) AS n_backoff
        |  FROM sc GROUP BY 1)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, n_backoff,
        |  CAST(smicro AS DOUBLE) / CAST(n_tokens AS DOUBLE) / 1000000.0
        |    AS avg_surprisal,
        |  floor(exp(CAST(smicro AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |      / 1000000.0) * 1000000.0 + 0.5) / 1000000.0 AS ppl
        |FROM agg ORDER BY doc_id""".stripMargin,
    // q117: same vocab ranking and micro-nat rounding as q102; the
    // two lns subtract BEFORE the single rounding on both engines
    "q117_dsir_weights" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split(text,' ')) AS token FROM documents),
        |ttok AS (SELECT doc_id, unnest(string_split(text,' ')) AS token
        |  FROM documents WHERE lang = 'en'),
        |counts AS (SELECT token, COUNT(*) AS cr FROM tok GROUP BY 1),
        |vocab AS (SELECT token, cr FROM (
        |    SELECT token, cr,
        |      ROW_NUMBER() OVER (ORDER BY cr DESC, token) AS id
        |    FROM counts) WHERE id <= 64),
        |tc AS (SELECT token, COUNT(*) AS ct FROM ttok GROUP BY 1),
        |model AS (SELECT v.token, v.cr, COALESCE(t.ct, 0) AS ct
        |  FROM vocab v LEFT JOIN tc t USING (token)),
        |tot AS (SELECT (SELECT COUNT(*) FROM tok) AS n_raw,
        |               (SELECT COUNT(*) FROM ttok) AS n_target),
        |scored AS (SELECT t.doc_id,
        |    CAST(floor((
        |      ln(CAST(COALESCE(m.ct, 0) + 1 AS DOUBLE) /
        |         CAST(n_target + 64 + 1 AS DOUBLE)) -
        |      ln(CAST(COALESCE(m.cr, 0) + 1 AS DOUBLE) /
        |         CAST(n_raw + 64 + 1 AS DOUBLE))) * 1000000.0 + 0.5)
        |      AS BIGINT) AS wmicro
        |  FROM tok t LEFT JOIN model m USING (token) CROSS JOIN tot)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(wmicro) AS BIGINT) AS w_micro,
        |  CAST(SUM(wmicro) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    / 1000000.0 AS avg_logratio,
        |  CAST(CASE WHEN SUM(wmicro) > 0 THEN 1 ELSE 0 END AS INTEGER)
        |    AS target_like
        |FROM scored GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // q118: per-class add-one models over the shared q102 vocab;
    // argmax by the same (score desc, class asc) ROW_NUMBER order
    "q118_nb_langid" ->
      """WITH tok AS (SELECT doc_id, lang,
        |    unnest(string_split(text,' ')) AS token FROM documents),
        |counts0 AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1),
        |vocab AS (SELECT token FROM (
        |    SELECT token,
        |      ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS id
        |    FROM counts0) WHERE id <= 64),
        |cw AS (SELECT lang AS cls, token, COUNT(*) AS cw
        |  FROM tok JOIN vocab USING (token) GROUP BY 1, 2),
        |ct AS (SELECT lang AS cls, COUNT(*) AS nc FROM tok GROUP BY 1),
        |pr AS (SELECT lang AS cls,
        |    CAST(floor(ln(CAST(COUNT(*) AS DOUBLE) /
        |        CAST((SELECT COUNT(*) FROM documents) AS DOUBLE))
        |      * 1000000.0 + 0.5) AS BIGINT) AS prior_micro
        |  FROM documents GROUP BY 1),
        |sc AS (SELECT t.doc_id, t.lang, c.cls,
        |    CAST(floor(ln(CAST(COALESCE(w.cw, 0) + 1 AS DOUBLE) /
        |        CAST(c.nc + 64 + 1 AS DOUBLE)) * 1000000.0 + 0.5)
        |      AS BIGINT) AS tmicro
        |  FROM tok t CROSS JOIN ct c
        |  LEFT JOIN cw w ON w.cls = c.cls AND w.token = t.token),
        |agg AS (SELECT doc_id, lang, cls, SUM(tmicro) AS tok_micro
        |  FROM sc GROUP BY 1, 2, 3),
        |fin AS (SELECT a.doc_id, a.lang, a.cls,
        |    a.tok_micro + p.prior_micro AS score_micro,
        |    ROW_NUMBER() OVER (PARTITION BY a.doc_id
        |      ORDER BY (a.tok_micro + p.prior_micro) DESC, a.cls) AS rn
        |  FROM agg a JOIN pr p ON p.cls = a.cls)
        |SELECT doc_id, lang, cls AS predicted,
        |  CAST(score_micro AS BIGINT) AS score_micro,
        |  CAST(CASE WHEN cls = lang THEN 1 ELSE 0 END AS INTEGER)
        |    AS correct
        |FROM fin WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // q119: the q92 graph; divisor-first integer L-inf normalization
    // ( raw // (max // 1e6) ) — both engines floor on non-negatives
    "q119_hits" ->
      """WITH pairs AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
        |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT c AS src, p + 10000000 AS dst FROM pairs
        |      UNION ALL SELECT p + 10000000, c FROM pairs),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS hub FROM nodes),
        |a1r AS (SELECT n.node, COALESCE(SUM(h.hub), 0) AS raw
        |  FROM nodes n LEFT JOIN e ON e.dst = n.node
        |  LEFT JOIN h0 h ON h.node = e.src GROUP BY 1),
        |a1 AS (SELECT node,
        |    raw // ((SELECT MAX(raw) FROM a1r) // 1000000) AS auth
        |  FROM a1r),
        |h1r AS (SELECT n.node, COALESCE(SUM(a.auth), 0) AS raw
        |  FROM nodes n LEFT JOIN e ON e.src = n.node
        |  LEFT JOIN a1 a ON a.node = e.dst GROUP BY 1),
        |h1 AS (SELECT node,
        |    raw // ((SELECT MAX(raw) FROM h1r) // 1000000) AS hub
        |  FROM h1r),
        |a2r AS (SELECT n.node, COALESCE(SUM(h.hub), 0) AS raw
        |  FROM nodes n LEFT JOIN e ON e.dst = n.node
        |  LEFT JOIN h1 h ON h.node = e.src GROUP BY 1),
        |a2 AS (SELECT node,
        |    raw // ((SELECT MAX(raw) FROM a2r) // 1000000) AS auth
        |  FROM a2r),
        |h2r AS (SELECT n.node, COALESCE(SUM(a.auth), 0) AS raw
        |  FROM nodes n LEFT JOIN e ON e.src = n.node
        |  LEFT JOIN a2 a ON a.node = e.dst GROUP BY 1),
        |h2 AS (SELECT node,
        |    raw // ((SELECT MAX(raw) FROM h2r) // 1000000) AS hub
        |  FROM h2r)
        |SELECT node, CAST(hub AS BIGINT) AS hub,
        |  CAST(auth AS BIGINT) AS auth
        |FROM h2 JOIN a2 USING (node) ORDER BY node""".stripMargin,
    // q120: hot neighbors (in-degree > 32) leave the graph FIRST;
    // intersections and degrees are exact over the filtered graph
    "q120_neighbor_jaccard" ->
      """WITH cpairs AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
        |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT c AS src, p + 10000000 AS dst FROM cpairs
        |      UNION ALL SELECT p + 10000000, c FROM cpairs),
        |cold AS (SELECT dst FROM (
        |    SELECT dst, COUNT(*) AS df FROM e GROUP BY 1)
        |  WHERE df <= 32),
        |ef AS (SELECT e.src, e.dst FROM e JOIN cold USING (dst)),
        |deg AS (SELECT src, COUNT(*) AS d FROM ef GROUP BY 1),
        |cand AS (SELECT x.src AS a, y.src AS b, COUNT(*) AS inter
        |  FROM ef x JOIN ef y ON x.dst = y.dst AND x.src < y.src
        |  GROUP BY 1, 2),
        |j AS (SELECT a, b, inter, da, db,
        |    floor(CAST(inter AS DOUBLE) /
        |      CAST(da + db - inter AS DOUBLE) * 1000000.0 + 0.5)
        |      / 1000000.0 AS jaccard
        |  FROM cand
        |  JOIN (SELECT src AS a, d AS da FROM deg) USING (a)
        |  JOIN (SELECT src AS b, d AS db FROM deg) USING (b))
        |SELECT a, b, CAST(inter AS BIGINT) AS inter,
        |  CAST(da AS BIGINT) AS da, CAST(db AS BIGINT) AS db, jaccard
        |FROM j WHERE jaccard >= 0.25 ORDER BY a, b""".stripMargin,
    // q121: discrete (type-1) bounds by integer rank arithmetic over
    // the distinct-cent frame; means divide the exact cent sum once
    "q121_winsorized" ->
      """WITH v AS (SELECT l_returnflag AS grp,
        |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS c
        |  FROM lineitem),
        |cnt AS (SELECT grp, c, COUNT(*) AS cnt FROM v GROUP BY 1, 2),
        |cum AS (SELECT grp, c,
        |    SUM(cnt) OVER (PARTITION BY grp ORDER BY c) AS cum FROM cnt),
        |n AS (SELECT grp, COUNT(*) AS n FROM v GROUP BY 1),
        |b AS (SELECT cum.grp, n.n,
        |    MIN(CASE WHEN cum >= (n * 5 + 99) // 100 THEN c END) AS lo_c,
        |    MIN(CASE WHEN cum >= (n * 95 + 99) // 100 THEN c END) AS hi_c
        |  FROM cum JOIN n ON cum.grp = n.grp GROUP BY 1, 2),
        |cl AS (SELECT v.grp, v.c,
        |    LEAST(GREATEST(v.c, lo_c), hi_c) AS wc, lo_c, hi_c
        |  FROM v JOIN b ON v.grp = b.grp)
        |SELECT grp AS l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MIN(lo_c) AS DOUBLE) / 100.0 AS lo,
        |  CAST(MIN(hi_c) AS DOUBLE) / 100.0 AS hi,
        |  CAST(SUM(c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 100.0
        |    AS mean_raw,
        |  CAST(SUM(wc) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 100.0
        |    AS mean_winsorized,
        |  CAST(SUM(CASE WHEN c < lo_c THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped_lo,
        |  CAST(SUM(CASE WHEN c > hi_c THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped_hi
        |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin,
    // q122: the same (s + x) // 2 integer fold in event-time order;
    // list_reduce seeds with the first element like the engine's
    // aggregate(tail, head, ..)
    "q122_ewma" ->
      """WITH c AS (SELECT user_id, ts, event_id,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c FROM events),
        |a AS (SELECT user_id, COUNT(*) AS n_events,
        |    list(c ORDER BY ts, event_id) AS cs FROM c GROUP BY 1)
        |SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
        |  CAST(cs[-1] AS DOUBLE) / 100.0 AS last_value,
        |  CAST(list_reduce(cs, (a, b) -> (a + b) // 2) AS DOUBLE) / 100.0
        |    AS ewma
        |FROM a ORDER BY user_id""".stripMargin,
    // q123: the q48 probe split at 2-gram granularity; containment
    // rounds through the fixed-point form BEFORE the 0.35 threshold,
    // attribution argmax by (overlap desc, probe asc)
    "q123_contamination_attr" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |sh AS (SELECT doc_id,
        |    unnest(list_distinct([array_to_string(toks[i:i+1],' ')
        |      for i in range(1, len(toks))])) AS s FROM t),
        |base AS (SELECT doc_id,
        |    len(list_distinct([array_to_string(toks[i:i+1],' ')
        |      for i in range(1, len(toks))])) AS n_sh
        |  FROM t WHERE doc_id % 100 <> 0),
        |probe AS (SELECT DISTINCT doc_id AS probe_id, s FROM sh
        |  WHERE doc_id % 100 = 0),
        |hits AS (SELECT sh.doc_id, probe.probe_id, sh.s
        |  FROM sh JOIN probe ON sh.s = probe.s WHERE sh.doc_id % 100 <> 0),
        |perdoc AS (SELECT doc_id, COUNT(DISTINCT s) AS n_hits
        |  FROM hits GROUP BY 1),
        |perpair AS (SELECT doc_id, probe_id, COUNT(*) AS overlap
        |  FROM hits GROUP BY 1, 2),
        |top AS (SELECT doc_id, probe_id AS top_probe,
        |    overlap AS top_overlap FROM (
        |    SELECT doc_id, probe_id, overlap, ROW_NUMBER() OVER (
        |      PARTITION BY doc_id ORDER BY overlap DESC, probe_id) AS rn
        |    FROM perpair) WHERE rn = 1),
        |c AS (SELECT b.doc_id, b.n_sh, COALESCE(p.n_hits, 0) AS n_hits,
        |    CASE WHEN b.n_sh > 0 THEN
        |      floor(CAST(COALESCE(p.n_hits, 0) AS DOUBLE) /
        |        CAST(b.n_sh AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
        |    ELSE 0.0 END AS containment,
        |    t.top_probe, t.top_overlap
        |  FROM base b LEFT JOIN perdoc p USING (doc_id)
        |  LEFT JOIN top t USING (doc_id))
        |SELECT doc_id, CAST(n_sh AS INTEGER) AS n_shingles,
        |  CAST(n_hits AS BIGINT) AS n_hits, containment,
        |  CAST(CASE WHEN containment >= 0.35 THEN 1 ELSE 0 END
        |    AS INTEGER) AS contaminated,
        |  top_probe, CAST(top_overlap AS BIGINT) AS top_overlap
        |FROM c ORDER BY doc_id""".stripMargin,
    // q124: vowel-group syllables, minimum one per word; ratios
    // round through the shared fixed-point form
    "q124_readability" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
        |  FROM documents),
        |s AS (SELECT doc_id, len(toks) AS n_words,
        |    list_transform(toks, t ->
        |      greatest(1, len(regexp_extract_all(t, '[aeiouy]+')))) AS syl
        |  FROM t)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  CAST(COALESCE(list_sum(syl), 0) AS BIGINT) AS n_syllables,
        |  CAST(len(list_filter(syl, x -> x >= 3)) AS BIGINT) AS n_complex,
        |  CASE WHEN n_words > 0 THEN
        |    floor(CAST(COALESCE(list_sum(syl), 0) AS DOUBLE) /
        |      CAST(n_words AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
        |  ELSE 0.0 END AS mean_syllables,
        |  CASE WHEN n_words > 0 THEN
        |    floor(CAST(len(list_filter(syl, x -> x >= 3)) AS DOUBLE) /
        |      CAST(n_words AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
        |  ELSE 0.0 END AS complex_ratio
        |FROM s ORDER BY doc_id""".stripMargin,
    // q125: the q102 surprisal chain + the q20 quality chain fused
    // by integer reciprocal ranks; both ROW_NUMBERs tie on doc_id
    "q125_rank_fusion" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split(text,' ')) AS token FROM documents),
        |counts AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1),
        |vocab AS (SELECT token, cnt FROM (
        |    SELECT token, cnt,
        |      ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS id
        |    FROM counts) WHERE id <= 64),
        |tot AS (SELECT COUNT(*) AS n_total FROM tok),
        |scored AS (SELECT t.doc_id,
        |    CAST(floor(-ln(CAST(COALESCE(v.cnt, 0) + 1 AS DOUBLE) /
        |        CAST(n_total + 64 + 1 AS DOUBLE)) * 1000000.0 + 0.5)
        |      AS BIGINT) AS smicro
        |  FROM tok t LEFT JOIN vocab v USING (token) CROSS JOIN tot),
        |ppl AS (SELECT doc_id,
        |    CAST(SUM(smicro) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |      / 1000000.0 AS avg_surprisal
        |  FROM scored GROUP BY 1),
        |qt AS (SELECT doc_id,
        |    len(string_split(text,' ')) AS n_tok,
        |    len(list_distinct(string_split(text,' '))) AS n_typ,
        |    len(list_filter(string_split(text,' '),
        |      x -> x='the' OR x='a')) AS n_stop,
        |    length(text) AS n_ch,
        |    length(text) -
        |      length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_punct
        |  FROM documents),
        |qual AS (SELECT doc_id,
        |    floor((0.3*least(n_tok/50.0, 1.0)
        |        + 0.3*(CAST(n_typ AS DOUBLE)/n_tok)
        |        + 0.2*greatest(0.0, 1.0 - abs(CAST(n_stop AS DOUBLE)/n_tok - 0.08)*4.0)
        |        + 0.2*greatest(0.0, 1.0 - (CAST(n_punct AS DOUBLE)/n_ch)*2.0))
        |      *1000000.0 + 0.5)/1000000.0 AS quality
        |  FROM qt),
        |j AS (SELECT d.doc_id, d.lang, p.avg_surprisal, q.quality
        |  FROM documents d JOIN ppl p USING (doc_id)
        |  JOIN qual q USING (doc_id)),
        |r AS (SELECT doc_id, lang,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY avg_surprisal ASC, doc_id) AS rank_avg_surprisal,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY quality DESC, doc_id) AS rank_quality
        |  FROM j)
        |SELECT doc_id, lang,
        |  CAST(rank_avg_surprisal AS INTEGER) AS rank_avg_surprisal,
        |  CAST(rank_quality AS INTEGER) AS rank_quality,
        |  CAST(1000000 // (60 + rank_avg_surprisal) +
        |       1000000 // (60 + rank_quality) AS BIGINT) AS rrf_micro
        |FROM r ORDER BY doc_id""".stripMargin,
    // q126: same pair graph and same recursive-closure oracle as q41
    // — the engine side swaps min-label propagation for the
    // large-star/small-star contraction; the fixpoint is identical
    "q126_components_star" ->
      """WITH RECURSIVE t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(list_distinct([array_to_string(toks[i:i+2],' ') for i in range(1, len(toks)-1)])) AS s
        |       FROM t),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |p AS (SELECT da, db
        |      FROM inter JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
        |      WHERE CAST(i AS DOUBLE)/CAST(x.n + y.n - i AS DOUBLE) >= 0.5),
        |edges AS (SELECT da AS src, db AS dst FROM p
        |          UNION SELECT db, da FROM p),
        |walk(node, label) AS (
        |  SELECT src AS node, src AS label FROM edges
        |  UNION
        |  SELECT e.src, w.label FROM edges e JOIN walk w ON w.node = e.dst
        |)
        |SELECT node AS doc_id, MIN(label) AS cluster_id
        |FROM walk GROUP BY 1 ORDER BY 1""".stripMargin,
    // q127: integer exp-PMI — HUGEINT product, floor division, so the
    // score is the engine's DECIMAL(38,0) div bit for bit
    "q127_pmi_bigrams" ->
      """WITH t AS (SELECT list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks FROM documents),
        |tok AS (SELECT unnest(toks) AS w FROM t),
        |uni AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY 1),
        |n AS (SELECT SUM(c) AS n_total FROM uni),
        |bp AS (SELECT unnest([{'w1': toks[i], 'w2': toks[i+1]} for i in range(1, len(toks))]) AS p FROM t),
        |bi AS (SELECT p.w1 AS w1, p.w2 AS w2, COUNT(*) AS c_xy FROM bp GROUP BY 1, 2 HAVING COUNT(*) >= 5)
        |SELECT w1, w2, c_xy,
        |  CAST((CAST(c_xy AS HUGEINT) * n_total * 1000000)
        |    // (CAST(c1.c AS HUGEINT) * c2.c) AS BIGINT) AS score_ppm
        |FROM bi JOIN uni c1 ON bi.w1 = c1.w JOIN uni c2 ON bi.w2 = c2.w, n
        |ORDER BY score_ppm DESC, w1, w2 LIMIT 50""".stripMargin,
    // q128: q24's inverted-index skeleton, asymmetric containment
    // score in integer ppm, both orientations
    "q128_containment" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(list_distinct([array_to_string(toks[i:i+2],' ') for i in range(1, len(toks)-1)])) AS s
        |       FROM t),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |sc AS (SELECT da AS doc_sub, db AS doc_sup, i AS inter, x.n AS n_sub
        |         FROM inter JOIN sz x ON da = x.doc_id
        |       UNION ALL
        |       SELECT db, da, i, y.n
        |         FROM inter JOIN sz y ON db = y.doc_id)
        |SELECT doc_sub, doc_sup, inter, CAST(n_sub AS BIGINT) AS n_sub,
        |  (inter * 1000000) // n_sub AS contain_ppm
        |FROM sc WHERE (inter * 1000000) // n_sub >= 800000
        |ORDER BY doc_sub, doc_sup""".stripMargin,
    // q129: the same degree-< k peeling, unrolled a fixed 25 rounds —
    // rounds past the fixpoint are no-ops, so any convergence within
    // 25 rounds yields the engine's answer; 25 is far above any
    // plausible cascade depth at these scales (the fixture converges
    // in 3 at sf0.01 — a deeper cascade would need a near-pathological
    // chain of exactly-k-degree nodes), so a scale bump that somehow
    // exceeds it shows up as a loud row-count mismatch, not silence
    "q129_kcore" -> kCoreOracle(k = 20, rounds = 25),
    // q130: gaps-and-islands — change flags, run numbering, run
    // collapse, lead() to close each interval
    "q130_scd2" ->
      """WITH o AS (SELECT user_id, event_type, ts, event_id,
        |    CASE WHEN ROW_NUMBER() OVER w = 1
        |           OR LAG(event_type) OVER w IS DISTINCT FROM event_type
        |         THEN 1 ELSE 0 END AS chg
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |r AS (SELECT *, SUM(chg) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS run FROM o),
        |g AS (SELECT user_id AS key, run, MIN(event_type) AS value,
        |    MIN(ts) AS valid_from, COUNT(*) AS n_events
        |  FROM r GROUP BY 1, 2)
        |SELECT key, CAST(run AS BIGINT) AS version, value, valid_from,
        |  LEAD(valid_from) OVER (PARTITION BY key ORDER BY run) AS valid_to,
        |  n_events
        |FROM g ORDER BY key, version""".stripMargin,
    // q131: integer rank arithmetic — ppm quantile within source,
    // floor-division pick into the globally ranked values
    "q131_quantile_norm" ->
      """WITH d AS (SELECT doc_id AS id, source AS grp,
        |    CAST(n_chars AS BIGINT) AS v FROM documents),
        |g AS (SELECT id, grp, v,
        |    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v, id) AS r,
        |    COUNT(*) OVER (PARTITION BY grp) AS cnt FROM d),
        |gl AS (SELECT v AS gv, ROW_NUMBER() OVER (ORDER BY v, id) AS grank FROM d),
        |n AS (SELECT COUNT(*) AS nn FROM d),
        |p AS (SELECT id, grp, v,
        |    greatest(1, least(nn,
        |      (((r * 1000000) // (cnt + 1)) * (nn + 1)) // 1000000)) AS pick
        |  FROM g, n)
        |SELECT id, grp, v, gv AS norm FROM p JOIN gl ON pick = grank
        |ORDER BY id""".stripMargin,
    // q132: greedy MMR unrolled — round r scores every unpicked
    // vector as 2·rel − max dot against the r−1 picks, identical
    // integer arithmetic to the engine's loop
    "q132_mmr_select" -> mmrOracle(8),
    // q133: q92's unrolled rounds with the teleport term gated to
    // the node % 1000 = 0 seed set (seeds start at 10^6, rest at 0)
    "q133_seed_rank" ->
      """WITH pairs AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
        |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT c AS src, p + 10000000 AS dst FROM pairs
        |      UNION ALL SELECT p + 10000000, c FROM pairs),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
        |r0 AS (SELECT node, CAST(CASE WHEN node % 1000 = 0
        |    THEN 1000000 ELSE 0 END AS BIGINT) AS rank FROM nodes),
        |r1 AS (SELECT n.node,
        |    CASE WHEN n.node % 1000 = 0 THEN 150000 ELSE 0 END
        |      + COALESCE(SUM((r.rank * 85) // (100 * od.outdeg)), 0) AS rank
        |  FROM nodes n LEFT JOIN e ON e.dst = n.node
        |  LEFT JOIN od ON od.src = e.src
        |  LEFT JOIN r0 r ON r.node = e.src GROUP BY 1),
        |r2 AS (SELECT n.node,
        |    CASE WHEN n.node % 1000 = 0 THEN 150000 ELSE 0 END
        |      + COALESCE(SUM((r.rank * 85) // (100 * od.outdeg)), 0) AS rank
        |  FROM nodes n LEFT JOIN e ON e.dst = n.node
        |  LEFT JOIN od ON od.src = e.src
        |  LEFT JOIN r1 r ON r.node = e.src GROUP BY 1),
        |r3 AS (SELECT n.node,
        |    CASE WHEN n.node % 1000 = 0 THEN 150000 ELSE 0 END
        |      + COALESCE(SUM((r.rank * 85) // (100 * od.outdeg)), 0) AS rank
        |  FROM nodes n LEFT JOIN e ON e.dst = n.node
        |  LEFT JOIN od ON od.src = e.src
        |  LEFT JOIN r2 r ON r.node = e.src GROUP BY 1)
        |SELECT node, CAST(rank AS BIGINT) AS rank
        |FROM r3 ORDER BY node""".stripMargin,
    // q134: per-char-class surprisal rounded once to micro-nats,
    // count-weighted integer sum; n = the count sum itself, so the
    // engines agree independent of string-length semantics
    "q134_char_entropy" ->
      """WITH c AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
        |    FROM documents WHERE len(text) > 0),
        |k AS (SELECT doc_id, ch, COUNT(*) AS cnt FROM c GROUP BY 1, 2),
        |l AS (SELECT doc_id, cnt, SUM(cnt) OVER (PARTITION BY doc_id) AS n FROM k),
        |f AS (SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_chars,
        |    COUNT(*) AS distinct_chars,
        |    SUM(cnt * CAST(floor(-ln(CAST(cnt AS DOUBLE)/CAST(n AS DOUBLE))
        |      * 1000000.0 + 0.5) AS BIGINT)) AS csum
        |  FROM l GROUP BY 1)
        |SELECT doc_id, n_chars, distinct_chars,
        |  CAST(csum AS DOUBLE)/CAST(n_chars AS DOUBLE)/1000000.0 AS entropy
        |FROM f ORDER BY doc_id""".stripMargin,
    // q135: lag() pairs in (ts, event_id) order, exact counts,
    // integer ppm row-normalization
    "q135_markov" ->
      """WITH p AS (SELECT user_id, event_type AS next,
        |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (SELECT prev, next, COUNT(*) AS cnt FROM p
        |  WHERE prev IS NOT NULL GROUP BY 1, 2)
        |SELECT prev, next, cnt,
        |  CAST((cnt * 1000000) // (SUM(cnt) OVER (PARTITION BY prev)) AS BIGINT) AS p_ppm
        |FROM c ORDER BY prev, next""".stripMargin,
    // q136: the CUSUM closed form — y_i − min(0, running min y) with
    // y the running sum of (x − target), target the per-key floor
    // mean; identical integer windows on both engines
    "q136_cusum" ->
      """WITH d AS (SELECT event_type AS key, strftime(ts, '%Y-%m-%d') AS ord,
        |    COUNT(*) AS v FROM events GROUP BY 1, 2),
        |t AS (SELECT key, ord, CAST(v AS BIGINT) AS v,
        |    CAST((SUM(v) OVER (PARTITION BY key)) //
        |      (COUNT(*) OVER (PARTITION BY key)) AS BIGINT) AS target FROM d),
        |y AS (SELECT key, ord, v, target,
        |    SUM(v - target) OVER (PARTITION BY key ORDER BY ord
        |      ROWS UNBOUNDED PRECEDING) AS yv FROM t),
        |f AS (SELECT key, ord, v, target,
        |    CAST(yv - least(0, MIN(yv) OVER (PARTITION BY key ORDER BY ord
        |      ROWS UNBOUNDED PRECEDING)) AS BIGINT) AS s FROM y)
        |SELECT key, ord, v, target, s, CAST(s > target * 3 AS INT) AS flag
        |FROM f ORDER BY key, ord""".stripMargin,
    // q137: the TableDiff contract — full outer join on the key,
    // unchanged rows absent, changed rows name the columns
    "q137_state_diff" ->
      """WITH r AS (SELECT user_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn FROM events),
        |a AS (SELECT user_id, event_type FROM r WHERE rn = 1),
        |b AS (SELECT user_id, event_type FROM r WHERE rn = 2)
        |SELECT COALESCE(b.user_id, a.user_id) AS user_id,
        |  CASE WHEN b.user_id IS NULL THEN 'added'
        |       WHEN a.user_id IS NULL THEN 'removed'
        |       ELSE 'changed' END AS status,
        |  CASE WHEN b.user_id IS NOT NULL AND a.user_id IS NOT NULL
        |       THEN 'event_type' ELSE '' END AS changed_cols
        |FROM b FULL OUTER JOIN a ON b.user_id = a.user_id
        |WHERE b.user_id IS NULL OR a.user_id IS NULL
        |   OR b.event_type IS DISTINCT FROM a.event_type
        |ORDER BY user_id""".stripMargin,
    // q138: one vote round from the pinned customer seeds — the
    // bipartite fixpoint (round 2 re-derives identical part labels)
    "q138_label_prop" ->
      """WITH pairs AS (SELECT DISTINCT o_custkey AS c,
        |      l_partkey + 1099511627776 AS p
        |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |seeds AS (SELECT c_custkey AS node, CAST(c_nationkey AS BIGINT) AS label
        |  FROM customer),
        |votes AS (SELECT p AS node, s.label, COUNT(*) AS cnt
        |  FROM pairs JOIN seeds s ON pairs.c = s.node GROUP BY 1, 2),
        |picked AS (SELECT node, label FROM (
        |    SELECT node, label, ROW_NUMBER() OVER (PARTITION BY node
        |      ORDER BY cnt DESC, label) AS rk FROM votes) WHERE rk = 1)
        |SELECT node, label FROM seeds
        |UNION ALL SELECT node, label FROM picked
        |ORDER BY node""".stripMargin,
    // q139: exact lower medians at rank (n+1)//2 in (value, id)
    // order, integer deviation compare — no interpolation anywhere
    "q139_mad_outliers" ->
      """WITH d AS (SELECT doc_id AS id, source AS grp,
        |    CAST(n_chars AS BIGINT) AS v FROM documents),
        |r1 AS (SELECT id, grp, v,
        |    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v, id) AS r,
        |    COUNT(*) OVER (PARTITION BY grp) AS n FROM d),
        |med AS (SELECT grp, v AS med FROM r1 WHERE r = (n + 1) // 2),
        |w AS (SELECT d.id, d.grp, d.v, med.med, abs(d.v - med.med) AS dev
        |  FROM d JOIN med USING (grp)),
        |r2 AS (SELECT grp, dev,
        |    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY dev, id) AS r,
        |    COUNT(*) OVER (PARTITION BY grp) AS n FROM w),
        |mad AS (SELECT grp, dev AS mad FROM r2 WHERE r = (n + 1) // 2)
        |SELECT w.id, w.grp, w.v, w.med, mad.mad, w.dev,
        |  CAST(w.dev > mad.mad * 3 AS INT) AS outlier
        |FROM w JOIN mad USING (grp) ORDER BY w.id""".stripMargin,
    // q140: the streaming redelivery dedup must land exactly on the
    // batch counts of the un-duplicated table
    "q140_redelivery_dedup" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_ids
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // q141: per-source running mass in (v desc, id) order; keep rows
    // STARTING before the 80% point; HUGEINT mass products ≡ the
    // engine's DECIMAL(38,0) forms
    "q141_top_p_sources" ->
      """WITH d AS (SELECT doc_id AS id, source AS grp,
        |    CAST(n_chars AS BIGINT) AS v FROM documents),
        |r AS (SELECT id, grp, v,
        |    SUM(v) OVER (PARTITION BY grp ORDER BY v DESC, id
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(v) OVER (PARTITION BY grp) AS tot FROM d)
        |SELECT id, grp, v, CAST(cum AS BIGINT) AS cum,
        |  CAST((CAST(cum AS HUGEINT) * 1000000) // tot AS BIGINT) AS share_ppm
        |FROM r
        |WHERE CAST(cum - v AS HUGEINT) * 1000000 < CAST(tot AS HUGEINT) * 800000
        |ORDER BY grp, id""".stripMargin,
    // q142: both top-10 chains (exact grid + int8 re-quantized grid,
    // the q27/q60 arithmetic verbatim) intersected per query
    "q142_ann_recall" ->
      """WITH e AS MATERIALIZED (SELECT vec_id,
        |    [CAST(round(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) for x in embedding] AS v
        |  FROM embeddings),
        |n AS MATERIALIZED (SELECT vec_id, v AS q,
        |    list_reduce([CAST(0 AS BIGINT)] + [x*x for x in v], (a,b) -> a+b) AS n2
        |  FROM e),
        |qs AS (SELECT vec_id AS qid, q AS qq, n2 AS qn2 FROM n WHERE vec_id % 100 = 0),
        |bt AS MATERIALIZED (SELECT query_id, vec_id FROM (
        |    SELECT qid AS query_id, n.vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
        |        CAST(list_reduce([CAST(0 AS BIGINT)] + [qq[i]*q[i] for i in range(1, len(q)+1)],
        |          (a,b) -> a+b) AS DOUBLE)
        |        / sqrt(CAST(qn2 AS DOUBLE)*CAST(n2 AS DOUBLE)) DESC, n.vec_id) AS rnk
        |    FROM qs CROSS JOIN n WHERE n.vec_id != qid) WHERE rnk <= 10),
        |m AS (SELECT vec_id, v,
        |    list_reduce([CAST(0 AS BIGINT)] + [abs(x) for x in v],
        |      (a,b) -> greatest(a,b)) AS mx FROM e),
        |q8 AS (SELECT vec_id,
        |    CASE WHEN mx = 0 THEN [CAST(0 AS BIGINT) for x in v]
        |         ELSE [CAST(round(CAST(x AS DOUBLE)*127.0/CAST(mx AS DOUBLE)) AS BIGINT) for x in v]
        |    END AS q FROM m),
        |n8 AS MATERIALIZED (SELECT vec_id, q,
        |    list_reduce([CAST(0 AS BIGINT)] + [x*x for x in q], (a,b) -> a+b) AS n2
        |  FROM q8),
        |qs8 AS (SELECT vec_id AS qid, q AS qq, n2 AS qn2 FROM n8 WHERE vec_id % 100 = 0),
        |at AS MATERIALIZED (SELECT query_id, vec_id FROM (
        |    SELECT qid AS query_id, n8.vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
        |        CAST(list_reduce([CAST(0 AS BIGINT)] + [qq[i]*q[i] for i in range(1, len(q)+1)],
        |          (a,b) -> a+b) AS DOUBLE)
        |        / sqrt(CAST(qn2 AS DOUBLE)*CAST(n2 AS DOUBLE)) DESC, n8.vec_id) AS rnk
        |    FROM qs8 CROSS JOIN n8 WHERE n8.vec_id != qid) WHERE rnk <= 10),
        |h AS (SELECT bt.query_id, COUNT(*) AS hits FROM bt
        |  JOIN at ON bt.query_id = at.query_id AND bt.vec_id = at.vec_id
        |  GROUP BY 1)
        |SELECT q.query_id, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
        |  CAST((COALESCE(h.hits, 0) * 1000000) // 10 AS BIGINT) AS recall_ppm
        |FROM (SELECT DISTINCT query_id FROM bt) q LEFT JOIN h USING (query_id)
        |ORDER BY query_id""".stripMargin,
    // q143: the q27 ranking restricted to label-mismatched pairs
    "q143_hard_negatives" ->
      """WITH e AS (SELECT vec_id, label,
        |    [CAST(round(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) for x in embedding] AS q
        |  FROM embeddings),
        |n AS (SELECT vec_id, label, q,
        |    list_reduce([CAST(0 AS BIGINT)] + [x*x for x in q], (a,b) -> a+b) AS n2
        |  FROM e),
        |qs AS (SELECT vec_id AS qid, label AS qlbl, q AS qq, n2 AS qn2
        |  FROM n WHERE vec_id % 100 = 0),
        |d AS (SELECT qid, n.vec_id, n.label,
        |    list_reduce([CAST(0 AS BIGINT)] + [qq[i]*q[i] for i in range(1, len(q)+1)],
        |      (a,b) -> a+b) AS dot, qn2, n2
        |  FROM qs CROSS JOIN n WHERE n.label IS DISTINCT FROM qlbl),
        |c AS (SELECT qid AS query_id, vec_id, label AS lbl,
        |    CAST(dot AS DOUBLE)/sqrt(CAST(qn2 AS DOUBLE)*CAST(n2 AS DOUBLE)) AS cos
        |  FROM d),
        |r AS (SELECT query_id, vec_id, lbl, cos,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
        |  FROM c)
        |SELECT query_id, rnk, vec_id, lbl, floor(cos*1000000.0 + 0.5)/1000000.0 AS cos
        |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,
    // q144: the LOSSY IVF chain end-to-end — centroids are the 32
    // smallest (knuth-uniform, vec_id) rows (q87's uk formulation,
    // bit-identical to Sampler.uniformKnuth ordering), every vector
    // joins its argmax-cosine cell (ties to the smaller cell id),
    // each query probes its 2 best cells and ranks only their
    // members; recall join is q142's LEFT JOIN + COALESCE verbatim
    "q144_ann_recall_ivf" ->
      """WITH e AS MATERIALIZED (SELECT vec_id,
        |    [CAST(round(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) for x in embedding] AS v
        |  FROM embeddings),
        |n AS MATERIALIZED (SELECT vec_id, v AS q,
        |    list_reduce([CAST(0 AS BIGINT)] + [x*x for x in v], (a,b) -> a+b) AS n2
        |  FROM e),
        |qs AS MATERIALIZED (SELECT vec_id AS qid, q AS qq, n2 AS qn2 FROM n WHERE vec_id % 100 = 0),
        |bt AS MATERIALIZED (SELECT query_id, vec_id FROM (
        |    SELECT qid AS query_id, n.vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
        |        CAST(list_reduce([CAST(0 AS BIGINT)] + [qq[i]*q[i] for i in range(1, len(q)+1)],
        |          (a,b) -> a+b) AS DOUBLE)
        |        / sqrt(CAST(qn2 AS DOUBLE)*CAST(n2 AS DOUBLE)) DESC, n.vec_id) AS rnk
        |    FROM qs CROSS JOIN n WHERE n.vec_id != qid) WHERE rnk <= 10),
        |u AS (SELECT vec_id,
        |    CAST((((CAST(((vec_id % 4294967296) - (vec_id % 65536)) / 65536 AS BIGINT)
        |      * 2654435761) % 65536) * 65536 + (vec_id % 65536) * 2654435761)
        |      % 4294967296 AS BIGINT) AS uk
        |  FROM n),
        |cr AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY uk, vec_id) AS rn FROM u),
        |cents AS MATERIALIZED (SELECT n.vec_id AS cell, n.q AS cq, n.n2 AS cn2
        |  FROM n JOIN cr ON n.vec_id = cr.vec_id WHERE cr.rn <= 32),
        |asg AS MATERIALIZED (SELECT vec_id, cell, q, n2 FROM (
        |    SELECT n.vec_id, c.cell, n.q, n.n2,
        |      ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
        |        CAST(list_reduce([CAST(0 AS BIGINT)] + [n.q[i]*c.cq[i] for i in range(1, len(n.q)+1)],
        |          (a,b) -> a+b) AS DOUBLE)
        |        / sqrt(CAST(n.n2 AS DOUBLE)*CAST(c.cn2 AS DOUBLE)) DESC, c.cell) AS rn
        |    FROM n CROSS JOIN cents c) WHERE rn = 1),
        |pr AS (SELECT qid, qq, qn2, cell FROM (
        |    SELECT qs.qid, qs.qq, qs.qn2, c.cell,
        |      ROW_NUMBER() OVER (PARTITION BY qs.qid ORDER BY
        |        CAST(list_reduce([CAST(0 AS BIGINT)] + [qs.qq[i]*c.cq[i] for i in range(1, len(qs.qq)+1)],
        |          (a,b) -> a+b) AS DOUBLE)
        |        / sqrt(CAST(qs.qn2 AS DOUBLE)*CAST(c.cn2 AS DOUBLE)) DESC, c.cell) AS rn
        |    FROM qs CROSS JOIN cents c) WHERE rn <= 2),
        |at AS MATERIALIZED (SELECT query_id, vec_id FROM (
        |    SELECT pr.qid AS query_id, a.vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY pr.qid ORDER BY
        |        CAST(list_reduce([CAST(0 AS BIGINT)] + [a.q[i]*pr.qq[i] for i in range(1, len(a.q)+1)],
        |          (x,y) -> x+y) AS DOUBLE)
        |        / sqrt(CAST(a.n2 AS DOUBLE)*CAST(pr.qn2 AS DOUBLE)) DESC, a.vec_id) AS rnk
        |    FROM pr JOIN asg a ON a.cell = pr.cell WHERE a.vec_id != pr.qid) WHERE rnk <= 10),
        |h AS (SELECT bt.query_id, COUNT(*) AS hits FROM bt
        |  JOIN at ON bt.query_id = at.query_id AND bt.vec_id = at.vec_id
        |  GROUP BY 1)
        |SELECT q.query_id, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
        |  CAST((COALESCE(h.hits, 0) * 1000000) // 10 AS BIGINT) AS recall_ppm
        |FROM (SELECT DISTINCT query_id FROM bt) q LEFT JOIN h USING (query_id)
        |ORDER BY query_id""".stripMargin,
    // q145: q87's codebook/code/ADC CTE chain (verbatim arithmetic)
    // ranked to top-10 per query, intersected with the exact top-10
    "q145_ann_recall_pq" ->
      """WITH e AS MATERIALIZED (SELECT vec_id,
        |    [CAST(round(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) for x in embedding] AS v
        |  FROM embeddings),
        |n AS MATERIALIZED (SELECT vec_id, v AS q,
        |    list_reduce([CAST(0 AS BIGINT)] + [x*x for x in v], (a,b) -> a+b) AS n2
        |  FROM e),
        |qs AS MATERIALIZED (SELECT vec_id AS qid, q AS qq, n2 AS qn2 FROM n WHERE vec_id % 100 = 0),
        |bt AS MATERIALIZED (SELECT query_id, vec_id FROM (
        |    SELECT qid AS query_id, n.vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
        |        CAST(list_reduce([CAST(0 AS BIGINT)] + [qq[i]*q[i] for i in range(1, len(q)+1)],
        |          (a,b) -> a+b) AS DOUBLE)
        |        / sqrt(CAST(qn2 AS DOUBLE)*CAST(n2 AS DOUBLE)) DESC, n.vec_id) AS rnk
        |    FROM qs CROSS JOIN n WHERE n.vec_id != qid) WHERE rnk <= 10),
        |u AS (SELECT vec_id, q,
        |    CAST((((CAST(((vec_id % 4294967296) - (vec_id % 65536)) / 65536 AS BIGINT)
        |      * 2654435761) % 65536) * 65536 + (vec_id % 65536) * 2654435761)
        |      % 4294967296 AS BIGINT) AS uk
        |  FROM n),
        |seeds AS (SELECT vec_id, q,
        |    ROW_NUMBER() OVER (ORDER BY uk, vec_id) AS code FROM u),
        |books AS MATERIALIZED (SELECT code, t.sub, q[t.sub*16+1 : t.sub*16+16] AS cw
        |  FROM seeds, range(0, 4) t(sub) WHERE code <= 16),
        |enc0 AS (SELECT v.vec_id, b.sub, b.code,
        |    list_reduce([CAST(0 AS BIGINT)] +
        |      [(v.q[b.sub*16+i] - b.cw[i]) * (v.q[b.sub*16+i] - b.cw[i])
        |        for i in range(1, 17)], (a, x) -> a + x) AS dist
        |  FROM n v CROSS JOIN books b),
        |enc AS MATERIALIZED (SELECT vec_id, sub, code FROM (
        |    SELECT vec_id, sub, code,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, sub
        |        ORDER BY dist, code) AS rn
        |    FROM enc0) WHERE rn = 1),
        |dt AS (SELECT qid, b.sub, b.code,
        |    list_reduce([CAST(0 AS BIGINT)] +
        |      [(qq[b.sub*16+i] - b.cw[i]) * (qq[b.sub*16+i] - b.cw[i])
        |        for i in range(1, 17)], (a, x) -> a + x) AS d
        |  FROM qs CROSS JOIN books b),
        |ad AS (SELECT dt.qid, enc.vec_id, SUM(dt.d) AS adist
        |  FROM enc JOIN dt ON enc.sub = dt.sub AND enc.code = dt.code
        |  WHERE enc.vec_id <> dt.qid
        |  GROUP BY 1, 2),
        |at AS MATERIALIZED (SELECT query_id, vec_id FROM (
        |    SELECT qid AS query_id, vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS rnk
        |    FROM ad) WHERE rnk <= 10),
        |h AS (SELECT bt.query_id, COUNT(*) AS hits FROM bt
        |  JOIN at ON bt.query_id = at.query_id AND bt.vec_id = at.vec_id
        |  GROUP BY 1)
        |SELECT q.query_id, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
        |  CAST((COALESCE(h.hits, 0) * 1000000) // 10 AS BIGINT) AS recall_ppm
        |FROM (SELECT DISTINCT query_id FROM bt) q LEFT JOIN h USING (query_id)
        |ORDER BY query_id""".stripMargin,
    // q146: q97's integer-hyperplane signatures, sliced into 4
    // byte-wide chunks; candidates share a slice with the query and
    // rank by the exact quantized cosine — queries are corpus rows,
    // so one signature CTE serves both sides
    "q146_ann_recall_rplsh" ->
      """WITH e AS MATERIALIZED (SELECT vec_id,
        |    [CAST(round(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) for x in embedding] AS v
        |  FROM embeddings),
        |n AS MATERIALIZED (SELECT vec_id, v AS q,
        |    list_reduce([CAST(0 AS BIGINT)] + [x*x for x in v], (a,b) -> a+b) AS n2
        |  FROM e),
        |qs AS MATERIALIZED (SELECT vec_id AS qid, q AS qq, n2 AS qn2 FROM n WHERE vec_id % 100 = 0),
        |bt AS MATERIALIZED (SELECT query_id, vec_id FROM (
        |    SELECT qid AS query_id, n.vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
        |        CAST(list_reduce([CAST(0 AS BIGINT)] + [qq[i]*q[i] for i in range(1, len(q)+1)],
        |          (a,b) -> a+b) AS DOUBLE)
        |        / sqrt(CAST(qn2 AS DOUBLE)*CAST(n2 AS DOUBLE)) DESC, n.vec_id) AS rnk
        |    FROM qs CROSS JOIN n WHERE n.vec_id != qid) WHERE rnk <= 10),
        |hp AS (SELECT b, pos, ((b*1009 + pos + 1) * 2654435761) % 2001 - 1000 AS hv
        |      FROM range(32) t(b), range(64) p(pos)),
        |ev AS (SELECT vec_id, pos, q[pos+1] AS v FROM n, range(64) p(pos)),
        |dots AS (SELECT vec_id, b, SUM(v * hv) AS d
        |         FROM ev JOIN hp USING (pos) GROUP BY 1, 2),
        |sig AS MATERIALIZED (SELECT vec_id,
        |    CAST(SUM(CASE WHEN d >= 0 THEN 1<<b ELSE 0 END) AS BIGINT) AS s
        |  FROM dots GROUP BY 1),
        |sl AS MATERIALIZED (SELECT vec_id, ci, (s >> CAST(ci*8 AS INT)) & 255 AS cv
        |  FROM sig, range(4) c(ci)),
        |cand AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id
        |  FROM sl a JOIN sl b ON a.ci = b.ci AND a.cv = b.cv
        |  WHERE a.vec_id % 100 = 0 AND b.vec_id != a.vec_id),
        |at AS MATERIALIZED (SELECT query_id, vec_id FROM (
        |    SELECT cand.qid AS query_id, n.vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY cand.qid ORDER BY
        |        CAST(list_reduce([CAST(0 AS BIGINT)] + [qs.qq[i]*n.q[i] for i in range(1, len(n.q)+1)],
        |          (a,b) -> a+b) AS DOUBLE)
        |        / sqrt(CAST(qs.qn2 AS DOUBLE)*CAST(n.n2 AS DOUBLE)) DESC, n.vec_id) AS rnk
        |    FROM cand JOIN n ON n.vec_id = cand.vec_id
        |    JOIN qs ON qs.qid = cand.qid) WHERE rnk <= 10),
        |h AS (SELECT bt.query_id, COUNT(*) AS hits FROM bt
        |  JOIN at ON bt.query_id = at.query_id AND bt.vec_id = at.vec_id
        |  GROUP BY 1)
        |SELECT q.query_id, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
        |  CAST((COALESCE(h.hits, 0) * 1000000) // 10 AS BIGINT) AS recall_ppm
        |FROM (SELECT DISTINCT query_id FROM bt) q LEFT JOIN h USING (query_id)
        |ORDER BY query_id""".stripMargin,
    // q147: the XML round-trip must surface the parquet original
    // value-identically (the q61 JSON-roundtrip contract on the
    // third interchange format)
    "q147_xml_roundtrip" ->
      """SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
        |  o_orderstatus, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // q148: q27's quantized-cosine arithmetic verbatim, aggregated
    // per corpus vector over the probe set instead of ranked
    "q148_embed_contamination" ->
      """WITH e AS (SELECT vec_id,
        |    [CAST(round(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) for x in embedding] AS q
        |  FROM embeddings),
        |n AS (SELECT vec_id, q,
        |    list_reduce([CAST(0 AS BIGINT)] + [x*x for x in q], (a,b) -> a+b) AS n2
        |  FROM e),
        |p AS (SELECT vec_id AS probe_id, q AS pq, n2 AS pn2 FROM n WHERE vec_id % 97 = 0),
        |c AS (SELECT vec_id, q, n2 FROM n WHERE vec_id % 97 != 0),
        |d AS (SELECT c.vec_id,
        |    CAST(list_reduce([CAST(0 AS BIGINT)] + [pq[i]*q[i] for i in range(1, len(q)+1)],
        |      (a,b) -> a+b) AS DOUBLE)
        |    / sqrt(CAST(pn2 AS DOUBLE)*CAST(n2 AS DOUBLE)) AS cos
        |  FROM c CROSS JOIN p)
        |SELECT vec_id, COUNT(*) AS hits,
        |  floor(MAX(cos)*1000000.0 + 0.5)/1000000.0 AS max_cos
        |FROM d WHERE cos >= 0.25 GROUP BY 1 ORDER BY vec_id""".stripMargin,
    // q149: q27's exact top-10 ranking joined with labels; relevant
    // mass per query = its label's corpus count minus itself (the
    // query set is drawn from the corpus); every metric one exact
    // count + one correctly-rounded division
    "q149_retrieval_eval" ->
      """WITH e AS MATERIALIZED (SELECT vec_id, label,
        |    [CAST(round(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) for x in embedding] AS q
        |  FROM embeddings),
        |n AS MATERIALIZED (SELECT vec_id, label, q,
        |    list_reduce([CAST(0 AS BIGINT)] + [x*x for x in q], (a,b) -> a+b) AS n2
        |  FROM e),
        |qs AS (SELECT vec_id AS qid, label AS qlbl, q AS qq, n2 AS qn2
        |  FROM n WHERE vec_id % 100 = 0),
        |r AS (SELECT qid AS query_id, qlbl, vec_id, label,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
        |      CAST(list_reduce([CAST(0 AS BIGINT)] + [qq[i]*q[i] for i in range(1, len(q)+1)],
        |        (a,b) -> a+b) AS DOUBLE)
        |      / sqrt(CAST(qn2 AS DOUBLE)*CAST(n2 AS DOUBLE)) DESC, n.vec_id) AS rnk
        |  FROM qs CROSS JOIN n WHERE n.vec_id != qid),
        |t AS (SELECT query_id, qlbl,
        |    CAST(SUM(CASE WHEN label = qlbl THEN 1 ELSE 0 END) AS BIGINT) AS hits,
        |    MIN(CASE WHEN label = qlbl THEN rnk END) AS first_rel
        |  FROM r WHERE rnk <= 10 GROUP BY 1, 2),
        |lc AS (SELECT label, COUNT(*) AS n_label FROM embeddings GROUP BY 1),
        |nr AS (SELECT q2.vec_id AS query_id,
        |    CAST(lc.n_label - 1 AS BIGINT) AS n_rel
        |  FROM (SELECT vec_id, label FROM embeddings WHERE vec_id % 100 = 0) q2
        |  JOIN lc USING (label))
        |SELECT query_id, n_rel, hits,
        |  CAST(hits AS DOUBLE)/10.0 AS p_at_k,
        |  CASE WHEN n_rel > 0 THEN CAST(hits AS DOUBLE)/CAST(n_rel AS DOUBLE)
        |       ELSE 0.0 END AS r_at_k,
        |  CASE WHEN first_rel IS NOT NULL THEN 1.0/CAST(first_rel AS DOUBLE)
        |       ELSE 0.0 END AS mrr
        |FROM t JOIN nr USING (query_id) ORDER BY query_id""".stripMargin,
    // q150: q24's shingle formulation; each gram's first-occurrence
    // doc via MIN, regrouped into per-doc novel counts
    "q150_ngram_novelty" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |sh AS (SELECT doc_id,
        |    unnest(list_distinct([array_to_string(toks[i:i+2],' ') for i in range(1, len(toks)-1)])) AS s
        |  FROM t),
        |pd AS (SELECT doc_id, COUNT(*) AS n_grams FROM sh GROUP BY 1),
        |fo AS (SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY 1),
        |nv AS (SELECT first_doc, COUNT(*) AS novel FROM fo GROUP BY 1)
        |SELECT pd.doc_id, pd.n_grams,
        |  CAST(COALESCE(nv.novel, 0) AS BIGINT) AS novel,
        |  CAST(COALESCE(nv.novel, 0) AS DOUBLE)/CAST(pd.n_grams AS DOUBLE) AS novelty
        |FROM pd LEFT JOIN nv ON pd.doc_id = nv.first_doc
        |ORDER BY pd.doc_id""".stripMargin,
    // q151: the merged managed table after drift evolution — rows in
    // the re-migrated overlapping scope (key >= max//2 - 4) carry the
    // ALTERed column and every row carries the widened nationkey;
    // retained lower-half rows take NULL for the added column
    "q151_remigrate_drift" ->
      """SELECT s_suppkey, s_name,
        |  CAST(s_nationkey AS BIGINT) AS s_nationkey, s_acctbal,
        |  CASE WHEN s_suppkey >= (SELECT MAX(s_suppkey)//2 - 4 FROM supplier)
        |       THEN CAST(s_suppkey % 5 AS INTEGER) END AS s_tier
        |FROM supplier
        |ORDER BY s_suppkey""".stripMargin,
    // q152: source-pair distinct-shingle Jaccard/containment — the
    // census-sized pair grid keeps zero-overlap pairs; every ratio is
    // one double division of exact integer counts
    "q152_source_overlap" ->
      """WITH t AS (SELECT source, string_split(text,' ') AS toks FROM documents),
        |sh0 AS (SELECT source,
        |    unnest([array_to_string(toks[i:i+2],' ') for i in range(1, len(toks)-1)]) AS s
        |  FROM t),
        |sh AS (SELECT DISTINCT source, s FROM sh0),
        |sz AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.source AS sa, b.source AS sb, COUNT(*) AS i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
        |          GROUP BY 1, 2)
        |SELECT x.source AS source_a, y.source AS source_b,
        |  x.n AS n_a, y.n AS n_b,
        |  CAST(COALESCE(i, 0) AS BIGINT) AS inter,
        |  CAST(COALESCE(i, 0) AS DOUBLE)/CAST(x.n + y.n - COALESCE(i, 0) AS DOUBLE) AS jaccard,
        |  CAST(COALESCE(i, 0) AS DOUBLE)/CAST(x.n AS DOUBLE) AS containment_a,
        |  CAST(COALESCE(i, 0) AS DOUBLE)/CAST(y.n AS DOUBLE) AS containment_b
        |FROM sz x JOIN sz y ON x.source < y.source
        |LEFT JOIN inter ON inter.sa = x.source AND inter.sb = y.source
        |ORDER BY source_a, source_b""".stripMargin,
    // q153: q21's labeler graded against gold labels — per-class
    // P/R/F1 from the confusion matrix, global accuracy, and Cohen's
    // kappa (agree·N − Σ n_gold·n_pred)/(N² − Σ n_gold·n_pred) in
    // HUGEINT mirroring the engine's DECIMAL(38,0)
    "q153_langid_eval" -> LangIdEvalSql,
    // q162: the shared monitor's agreement leg (as q182) — confusion
    // cells are additive/commutative, so the durable census must
    // grade to the identical batch report; the oracle is q153's
    "q162_stream_agreement" -> LangIdEvalSql,
    // q154: the shared monitor's novelty leg (as q180) must produce
    // the identical batch answer (min first-occurrence is
    // commutative), so the oracle is q150's verbatim
    "q154_stream_novelty" -> StreamNoveltySql,
    // q155: the shared monitor's contamination leg (as q181) — per-doc
    // probe-hit counts are micro-batch-local facts, so the drain must
    // equal the batch scan
    "q155_stream_contamination" -> StreamContaminationSql,
    // q156: Fleiss' kappa over the 3-rater panel (gold lang, the q21
    // labeler, length parity). Every sum exact in HUGEINT; p_bar/p_e
    // are single cast-then-divide ops and kappa the same fixed IEEE
    // sequence as the Scala side, so the doubles hash-match.
    "q156_fleiss_kappa" ->
      """WITH r AS (
        |  SELECT doc_id, lang AS cls FROM documents
        |  UNION ALL
        |  SELECT doc_id, CASE WHEN len(list_filter(string_split(text,' '), x -> x='the' OR x='a')) >= 2
        |                      THEN 'en' ELSE 'und' END FROM documents
        |  UNION ALL
        |  SELECT doc_id, CASE WHEN n_chars % 2 = 0 THEN 'en' ELSE 'und' END FROM documents),
        |cells AS (SELECT doc_id, cls, COUNT(*) AS n FROM r GROUP BY 1, 2),
        |per AS (SELECT doc_id, SUM(CAST(n AS HUGEINT)*CAST(n AS HUGEINT)) AS sq FROM cells GROUP BY 1),
        |g AS (SELECT CAST(COUNT(*) AS HUGEINT) AS items, SUM(sq) AS sumsq FROM per),
        |ct AS (SELECT cls, SUM(n) AS c FROM cells GROUP BY 1),
        |cs AS (SELECT SUM(CAST(c AS HUGEINT)*CAST(c AS HUGEINT)) AS csq FROM ct),
        |kap AS (SELECT
        |    CAST(g.sumsq - g.items*3 AS DOUBLE) / CAST(g.items*3*2 AS DOUBLE) AS p_bar,
        |    CAST(cs.csq AS DOUBLE) / CAST(g.items*3*g.items*3 AS DOUBLE) AS p_e
        |  FROM g, cs)
        |SELECT ct.cls, CAST(ct.c AS BIGINT) AS n_ratings,
        |  CAST(ct.c AS DOUBLE) / CAST((SELECT items FROM g)*3 AS DOUBLE) AS p_cat,
        |  kap.p_bar AS p_bar,
        |  CASE WHEN kap.p_e = 1.0 THEN 0.0
        |       ELSE (kap.p_bar - kap.p_e)/(1.0 - kap.p_e) END AS kappa
        |FROM ct, kap ORDER BY cls""".stripMargin,
    // q157: truncated RBO (p = 1/2, k = 10) of the int8 lists vs the
    // exact lists — q142's two ranking CTEs with ranks kept; each
    // matched id contributes the integer weight W(max(rank_e,
    // rank_a)) = Σ_{d≥m} D/(d·2^d) with D = lcm(1..10)·2^10 =
    // 2580480, so the metric is one integer mass / D.
    "q157_ann_rbo" ->
      """WITH e AS MATERIALIZED (SELECT vec_id,
        |    [CAST(round(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) for x in embedding] AS v
        |  FROM embeddings),
        |n AS MATERIALIZED (SELECT vec_id, v AS q,
        |    list_reduce([CAST(0 AS BIGINT)] + [x*x for x in v], (a,b) -> a+b) AS n2
        |  FROM e),
        |qs AS (SELECT vec_id AS qid, q AS qq, n2 AS qn2 FROM n WHERE vec_id % 100 = 0),
        |bt AS MATERIALIZED (SELECT query_id, vec_id, rnk FROM (
        |    SELECT qid AS query_id, n.vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
        |        CAST(list_reduce([CAST(0 AS BIGINT)] + [qq[i]*q[i] for i in range(1, len(q)+1)],
        |          (a,b) -> a+b) AS DOUBLE)
        |        / sqrt(CAST(qn2 AS DOUBLE)*CAST(n2 AS DOUBLE)) DESC, n.vec_id) AS rnk
        |    FROM qs CROSS JOIN n WHERE n.vec_id != qid) WHERE rnk <= 10),
        |m AS (SELECT vec_id, v,
        |    list_reduce([CAST(0 AS BIGINT)] + [abs(x) for x in v],
        |      (a,b) -> greatest(a,b)) AS mx FROM e),
        |q8 AS (SELECT vec_id,
        |    CASE WHEN mx = 0 THEN [CAST(0 AS BIGINT) for x in v]
        |         ELSE [CAST(round(CAST(x AS DOUBLE)*127.0/CAST(mx AS DOUBLE)) AS BIGINT) for x in v]
        |    END AS q FROM m),
        |n8 AS MATERIALIZED (SELECT vec_id, q,
        |    list_reduce([CAST(0 AS BIGINT)] + [x*x for x in q], (a,b) -> a+b) AS n2
        |  FROM q8),
        |qs8 AS (SELECT vec_id AS qid, q AS qq, n2 AS qn2 FROM n8 WHERE vec_id % 100 = 0),
        |at AS MATERIALIZED (SELECT query_id, vec_id, rnk FROM (
        |    SELECT qid AS query_id, n8.vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
        |        CAST(list_reduce([CAST(0 AS BIGINT)] + [qq[i]*q[i] for i in range(1, len(q)+1)],
        |          (a,b) -> a+b) AS DOUBLE)
        |        / sqrt(CAST(qn2 AS DOUBLE)*CAST(n2 AS DOUBLE)) DESC, n8.vec_id) AS rnk
        |    FROM qs8 CROSS JOIN n8 WHERE n8.vec_id != qid) WHERE rnk <= 10),
        |j AS (SELECT bt.query_id, GREATEST(bt.rnk, at.rnk) AS mm
        |  FROM bt JOIN at ON bt.query_id = at.query_id AND bt.vec_id = at.vec_id),
        |w AS (SELECT query_id, SUM(CASE mm
        |    WHEN 1 THEN 1788440 WHEN 2 THEN 498200 WHEN 3 THEN 175640
        |    WHEN 4 THEN 68120 WHEN 5 THEN 27800 WHEN 6 THEN 11672
        |    WHEN 7 THEN 4952 WHEN 8 THEN 2072 WHEN 9 THEN 812
        |    WHEN 10 THEN 252 END) AS mass FROM j GROUP BY 1)
        |SELECT q.query_id, CAST(COALESCE(w.mass, 0) AS BIGINT) AS mass,
        |  CAST(COALESCE(w.mass, 0) AS DOUBLE) / 2580480.0 AS rbo
        |FROM (SELECT DISTINCT query_id FROM bt) q LEFT JOIN w USING (query_id)
        |ORDER BY query_id""".stripMargin,
    // q158: BLEU-2 over adjacent doc pairs — clipped n-gram counts
    // with MULTIPLICITY (no list_distinct), each precision one
    // cast-then-divide, bleu2 = sqrt(p1*p2) (multiply and sqrt are
    // correctly-rounded IEEE ops — portable; exp/BP is not, so no
    // brevity penalty on either side).
    "q158_generation_bleu" ->
      """WITH p AS (SELECT a.doc_id AS pair_id, a.text AS cand, b.text AS ref
        |    FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |    WHERE a.doc_id % 2 = 0),
        |c1 AS (SELECT pair_id, g, COUNT(*) AS nc FROM
        |    (SELECT pair_id, unnest(string_split(cand,' ')) AS g FROM p) GROUP BY 1, 2),
        |r1 AS (SELECT pair_id, g, COUNT(*) AS nr FROM
        |    (SELECT pair_id, unnest(string_split(ref,' ')) AS g FROM p) GROUP BY 1, 2),
        |u AS (SELECT c1.pair_id, SUM(c1.nc) AS total1,
        |    SUM(LEAST(c1.nc, COALESCE(r1.nr, 0))) AS clip1
        |  FROM c1 LEFT JOIN r1 ON c1.pair_id = r1.pair_id AND c1.g = r1.g
        |  GROUP BY 1),
        |c2 AS (SELECT pair_id, g, COUNT(*) AS nc FROM
        |    (SELECT pair_id, unnest([array_to_string(toks[i:i+1],' ') for i in range(1, len(toks))]) AS g
        |     FROM (SELECT pair_id, string_split(cand,' ') AS toks FROM p)) GROUP BY 1, 2),
        |r2 AS (SELECT pair_id, g, COUNT(*) AS nr FROM
        |    (SELECT pair_id, unnest([array_to_string(toks[i:i+1],' ') for i in range(1, len(toks))]) AS g
        |     FROM (SELECT pair_id, string_split(ref,' ') AS toks FROM p)) GROUP BY 1, 2),
        |b AS (SELECT c2.pair_id, SUM(c2.nc) AS total2,
        |    SUM(LEAST(c2.nc, COALESCE(r2.nr, 0))) AS clip2
        |  FROM c2 LEFT JOIN r2 ON c2.pair_id = r2.pair_id AND c2.g = r2.g
        |  GROUP BY 1),
        |f AS (SELECT p.pair_id,
        |    CAST(COALESCE(u.total1, 0) AS BIGINT) AS total1,
        |    CAST(COALESCE(u.clip1, 0) AS BIGINT) AS clip1,
        |    CAST(COALESCE(b.total2, 0) AS BIGINT) AS total2,
        |    CAST(COALESCE(b.clip2, 0) AS BIGINT) AS clip2
        |  FROM p LEFT JOIN u USING (pair_id) LEFT JOIN b USING (pair_id)),
        |fin AS (SELECT pair_id, total1, clip1, total2, clip2,
        |    CASE WHEN total1 > 0 THEN CAST(clip1 AS DOUBLE)/CAST(total1 AS DOUBLE) ELSE 0.0 END AS p1,
        |    CASE WHEN total2 > 0 THEN CAST(clip2 AS DOUBLE)/CAST(total2 AS DOUBLE) ELSE 0.0 END AS p2
        |  FROM f)
        |SELECT pair_id, total1, clip1, total2, clip2, p1, p2,
        |  sqrt(p1*p2) AS bleu2
        |FROM fin ORDER BY pair_id""".stripMargin,
    // q159: nDCG@10 over q149's exact ranking — micro-unit log2
    // discounts W(d) = floor(1e6/log2(d+1)+0.5) as literals (the
    // Eval.ndcgWeights unit pins the Scala side to these same
    // constants); DCG is one exact integer mass, IDCG the exact
    // prefix sum cumW(min(n_rel,10)), ndcg one cast-then-divide.
    "q159_retrieval_ndcg" ->
      """WITH e AS MATERIALIZED (SELECT vec_id, label,
        |    [CAST(round(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) for x in embedding] AS q
        |  FROM embeddings),
        |n AS MATERIALIZED (SELECT vec_id, label, q,
        |    list_reduce([CAST(0 AS BIGINT)] + [x*x for x in q], (a,b) -> a+b) AS n2
        |  FROM e),
        |qs AS (SELECT vec_id AS qid, label AS qlbl, q AS qq, n2 AS qn2
        |  FROM n WHERE vec_id % 100 = 0),
        |r AS (SELECT qid AS query_id, qlbl, vec_id, label,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
        |      CAST(list_reduce([CAST(0 AS BIGINT)] + [qq[i]*q[i] for i in range(1, len(q)+1)],
        |        (a,b) -> a+b) AS DOUBLE)
        |      / sqrt(CAST(qn2 AS DOUBLE)*CAST(n2 AS DOUBLE)) DESC, n.vec_id) AS rnk
        |  FROM qs CROSS JOIN n WHERE n.vec_id != qid),
        |d AS (SELECT query_id, CAST(SUM(CASE WHEN label = qlbl THEN
        |      CASE rnk WHEN 1 THEN 1000000 WHEN 2 THEN 630930
        |        WHEN 3 THEN 500000 WHEN 4 THEN 430677 WHEN 5 THEN 386853
        |        WHEN 6 THEN 356207 WHEN 7 THEN 333333 WHEN 8 THEN 315465
        |        WHEN 9 THEN 301030 WHEN 10 THEN 289065 END
        |      ELSE 0 END) AS BIGINT) AS dcg_micro
        |  FROM r WHERE rnk <= 10 GROUP BY 1),
        |lc AS (SELECT label, COUNT(*) AS n_label FROM embeddings GROUP BY 1),
        |nr AS (SELECT q2.vec_id AS query_id,
        |    CAST(lc.n_label - 1 AS BIGINT) AS n_rel
        |  FROM (SELECT vec_id, label FROM embeddings WHERE vec_id % 100 = 0) q2
        |  JOIN lc USING (label))
        |SELECT nr.query_id, nr.n_rel,
        |  COALESCE(d.dcg_micro, 0) AS dcg_micro,
        |  CAST(CASE LEAST(nr.n_rel, 10) WHEN 1 THEN 1000000 WHEN 2 THEN 1630930
        |    WHEN 3 THEN 2130930 WHEN 4 THEN 2561607 WHEN 5 THEN 2948460
        |    WHEN 6 THEN 3304667 WHEN 7 THEN 3638000 WHEN 8 THEN 3953465
        |    WHEN 9 THEN 4254495 WHEN 10 THEN 4543560 ELSE 0 END AS BIGINT)
        |    AS ideal_micro,
        |  CASE WHEN nr.n_rel > 0 THEN CAST(COALESCE(d.dcg_micro, 0) AS DOUBLE) /
        |      CAST(CASE LEAST(nr.n_rel, 10) WHEN 1 THEN 1000000 WHEN 2 THEN 1630930
        |        WHEN 3 THEN 2130930 WHEN 4 THEN 2561607 WHEN 5 THEN 2948460
        |        WHEN 6 THEN 3304667 WHEN 7 THEN 3638000 WHEN 8 THEN 3953465
        |        WHEN 9 THEN 4254495 WHEN 10 THEN 4543560 END AS DOUBLE)
        |    ELSE 0.0 END AS ndcg
        |FROM nr LEFT JOIN d USING (query_id) ORDER BY query_id""".stripMargin,
    // q160: MAP@10 over the same ranking — each relevant hit weighted
    // by hits(d)·(2520/d) over the common denominator lcm(1..10) =
    // 2520, so AP's numerator is one exact integer and ap one
    // cast-then-divide by 2520·min(n_rel,10).
    "q160_retrieval_map" ->
      """WITH e AS MATERIALIZED (SELECT vec_id, label,
        |    [CAST(round(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) for x in embedding] AS q
        |  FROM embeddings),
        |n AS MATERIALIZED (SELECT vec_id, label, q,
        |    list_reduce([CAST(0 AS BIGINT)] + [x*x for x in q], (a,b) -> a+b) AS n2
        |  FROM e),
        |qs AS (SELECT vec_id AS qid, label AS qlbl, q AS qq, n2 AS qn2
        |  FROM n WHERE vec_id % 100 = 0),
        |r AS (SELECT qid AS query_id, qlbl, vec_id, label,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
        |      CAST(list_reduce([CAST(0 AS BIGINT)] + [qq[i]*q[i] for i in range(1, len(q)+1)],
        |        (a,b) -> a+b) AS DOUBLE)
        |      / sqrt(CAST(qn2 AS DOUBLE)*CAST(n2 AS DOUBLE)) DESC, n.vec_id) AS rnk
        |  FROM qs CROSS JOIN n WHERE n.vec_id != qid),
        |h AS (SELECT query_id, rnk,
        |    CASE WHEN label = qlbl THEN 1 ELSE 0 END AS rel,
        |    SUM(CASE WHEN label = qlbl THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY query_id ORDER BY rnk) AS hits_at
        |  FROM r WHERE rnk <= 10),
        |m AS (SELECT query_id, CAST(SUM(hits_at *
        |      CASE rnk WHEN 1 THEN 2520 WHEN 2 THEN 1260 WHEN 3 THEN 840
        |        WHEN 4 THEN 630 WHEN 5 THEN 504 WHEN 6 THEN 420
        |        WHEN 7 THEN 360 WHEN 8 THEN 315 WHEN 9 THEN 280
        |        WHEN 10 THEN 252 END) AS BIGINT) AS ap_mass
        |  FROM h WHERE rel = 1 GROUP BY 1),
        |lc AS (SELECT label, COUNT(*) AS n_label FROM embeddings GROUP BY 1),
        |nr AS (SELECT q2.vec_id AS query_id,
        |    CAST(lc.n_label - 1 AS BIGINT) AS n_rel
        |  FROM (SELECT vec_id, label FROM embeddings WHERE vec_id % 100 = 0) q2
        |  JOIN lc USING (label))
        |SELECT nr.query_id, nr.n_rel, COALESCE(m.ap_mass, 0) AS ap_mass,
        |  CASE WHEN nr.n_rel > 0 THEN CAST(COALESCE(m.ap_mass, 0) AS DOUBLE) /
        |      CAST(2520 * LEAST(nr.n_rel, 10) AS DOUBLE)
        |    ELSE 0.0 END AS ap
        |FROM nr LEFT JOIN m USING (query_id) ORDER BY query_id""".stripMargin,
    // q161: ROUGE-L over the q158 pairs, 40-token bound — the LCS DP
    // as a recursive CTE carrying the rolling row as a list; the
    // prefix-max formulation row_new[j] = max(row_old[j],
    // max_{j'<=j, ref_j'=cand_i}(row_old[j'-1]+1)) makes each row a
    // pure comprehension of the previous one. F1 in the reduced
    // exact form 2L/(m+n), same single division as the Scala side.
    "q161_generation_rouge" ->
      """WITH RECURSIVE pp AS (
        |  SELECT a.doc_id AS pair_id,
        |    string_split(a.text,' ')[1:40] AS cand,
        |    string_split(b.text,' ')[1:40] AS ref
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id % 2 = 0),
        |lcs(pair_id, i, row) AS (
        |  SELECT pair_id, 0, [0 for _ in range(1, len(ref)+2)] FROM pp
        |  UNION ALL
        |  SELECT l.pair_id, l.i + 1,
        |    [CASE WHEN ji = 1 THEN 0
        |          ELSE greatest(l.row[ji],
        |            coalesce(list_max([l.row[jj-1]+1 for jj in range(2, ji+1)
        |              if pp.ref[jj-1] = pp.cand[l.i+1]]), 0))
        |     END for ji in range(1, len(pp.ref)+2)]
        |  FROM lcs l JOIN pp USING (pair_id) WHERE l.i < len(pp.cand)),
        |f AS (
        |  SELECT l.pair_id, CAST(len(pp.cand) AS BIGINT) AS m,
        |    CAST(len(pp.ref) AS BIGINT) AS n,
        |    CAST(l.row[len(pp.ref)+1] AS BIGINT) AS lcs_len
        |  FROM lcs l JOIN pp USING (pair_id) WHERE l.i = len(pp.cand))
        |SELECT pair_id, m, n, lcs_len,
        |  CASE WHEN m > 0 THEN CAST(lcs_len AS DOUBLE)/CAST(m AS DOUBLE)
        |       ELSE 0.0 END AS prec,
        |  CASE WHEN n > 0 THEN CAST(lcs_len AS DOUBLE)/CAST(n AS DOUBLE)
        |       ELSE 0.0 END AS rec,
        |  CASE WHEN lcs_len > 0 THEN CAST(2*lcs_len AS DOUBLE)/CAST(m + n AS DOUBLE)
        |       ELSE 0.0 END AS f1
        |FROM f ORDER BY pair_id""".stripMargin,
    // q163: Krippendorff's alpha (nominal) over the incomplete panel
    // q156's Fleiss refuses — the parity rater covers only even
    // doc_ids. Per-item disagreement mass scaled by the exact
    // integer 232792560 // (n_u - 1) (lcm(1..20), divisor always
    // divides); alpha = 1 - double((n-1)*mass)/double(L*(n^2-Σc^2)),
    // the same two-conversions-one-division order as the engine.
    "q163_krippendorff" ->
      """WITH r AS (
        |  SELECT doc_id, lang AS cls FROM documents
        |  UNION ALL
        |  SELECT doc_id, CASE WHEN len(list_filter(string_split(text,' '), x -> x='the' OR x='a')) >= 2
        |                      THEN 'en' ELSE 'und' END FROM documents
        |  UNION ALL
        |  SELECT doc_id, CASE WHEN n_chars % 2 = 0 THEN 'en' ELSE 'und' END
        |  FROM documents WHERE doc_id % 2 = 0),
        |cells AS (SELECT doc_id, cls, COUNT(*) AS n FROM r GROUP BY 1, 2),
        |per AS (SELECT doc_id, SUM(n) AS tot,
        |    SUM(CAST(n AS HUGEINT)*CAST(n AS HUGEINT)) AS sq
        |  FROM cells GROUP BY 1 HAVING SUM(n) >= 2),
        |g AS (SELECT SUM((CAST(tot AS HUGEINT)*CAST(tot AS HUGEINT) - sq) *
        |    (232792560 // (tot - 1))) AS mass FROM per),
        |ct AS (SELECT cls, SUM(cells.n) AS c
        |  FROM cells JOIN per USING (doc_id) GROUP BY 1),
        |tots AS (SELECT CAST(SUM(c) AS HUGEINT) AS n,
        |    SUM(CAST(c AS HUGEINT)*CAST(c AS HUGEINT)) AS csq FROM ct)
        |SELECT ct.cls, CAST(ct.c AS BIGINT) AS n_ratings,
        |  CAST(ct.c AS DOUBLE)/CAST(tots.n AS DOUBLE) AS p_cat,
        |  CASE WHEN tots.n*tots.n - tots.csq = 0 THEN 0.0
        |       ELSE 1.0 - CAST((tots.n - 1) * g.mass AS DOUBLE) /
        |            CAST(232792560 * (tots.n*tots.n - tots.csq) AS DOUBLE)
        |  END AS alpha
        |FROM ct, g, tots ORDER BY cls""".stripMargin,
    // q164: chrF at orders 1..6, beta=2 — per-order CTE trios
    // generated by chrfOracle (the mmr/k-core unrolling technique)
    "q164_generation_chrf" -> chrfOracle(6),
    // q165: ROC-AUC of the marker-hit score vs gold lang='en' — the
    // exact Mann–Whitney rank statistic with midrank ties over a
    // per-score census: 2U = Σ_s pos(s)·(2·neg(<s)+neg(s)) in
    // HUGEINT mirroring the engine's DECIMAL(38,0), one division
    "q165_roc_auc" -> LangScoreAucSql,
    // q176: the shared monitor's score leg (as q183) — the oracle is
    // q165's VERBATIM (drain == batch: additive census)
    "q176_stream_score" -> LangScoreAucSql,
    // q166: the full ROC operating-point table — per distinct score
    // "predict en when hits >= thr": exact confusion counts off the
    // same census cumulative, one correctly-rounded division per rate
    // (rec = tp/(tp+fn) and f1 = 2tp/(2tp+fp+fn) ride the same row)
    "q166_roc_curve" ->
      """WITH d AS (SELECT
        |    len(list_filter(string_split(text,' '), x -> x='the' OR x='a')) AS s,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
        |c AS (SELECT s, SUM(y) AS pos, SUM(1 - y) AS neg FROM d
        |      WHERE s IS NOT NULL GROUP BY 1),
        |r AS (SELECT s, pos, neg,
        |    SUM(neg) OVER (ORDER BY s) AS cum_neg,
        |    SUM(pos) OVER (ORDER BY s) AS cum_pos FROM c),
        |g AS (SELECT SUM(pos) AS n_pos, SUM(neg) AS n_neg FROM c)
        |SELECT s AS thr,
        |  CAST(n_pos - (cum_pos - pos) AS BIGINT) AS tp,
        |  CAST(n_neg - (cum_neg - neg) AS BIGINT) AS fp,
        |  CAST(cum_pos - pos AS BIGINT) AS fn,
        |  CAST(cum_neg - neg AS BIGINT) AS tn,
        |  CASE WHEN n_pos > 0
        |       THEN CAST(n_pos - (cum_pos - pos) AS DOUBLE) / CAST(n_pos AS DOUBLE)
        |       ELSE 0.0 END AS tpr,
        |  CASE WHEN n_neg > 0
        |       THEN CAST(n_neg - (cum_neg - neg) AS DOUBLE) / CAST(n_neg AS DOUBLE)
        |       ELSE 0.0 END AS fpr,
        |  CAST(n_pos - (cum_pos - pos) AS DOUBLE) /
        |    CAST((n_pos - (cum_pos - pos)) + (n_neg - (cum_neg - neg)) AS DOUBLE) AS prec,
        |  CASE WHEN (n_pos - (cum_pos - pos)) + (cum_pos - pos) > 0
        |       THEN CAST(n_pos - (cum_pos - pos) AS DOUBLE) /
        |            CAST((n_pos - (cum_pos - pos)) + (cum_pos - pos) AS DOUBLE)
        |       ELSE 0.0 END AS rec,
        |  CASE WHEN 2*(n_pos - (cum_pos - pos)) + (n_neg - (cum_neg - neg)) + (cum_pos - pos) > 0
        |       THEN CAST(2*(n_pos - (cum_pos - pos)) AS DOUBLE) /
        |            CAST(2*(n_pos - (cum_pos - pos)) + (n_neg - (cum_neg - neg)) + (cum_pos - pos) AS DOUBLE)
        |       ELSE 0.0 END AS f1
        |FROM r, g ORDER BY thr""".stripMargin,
    // q167: reliability diagram + ECE for the pseudo-confidence
    // min(1000, 500 + 50·hits) vs decision-correct — per-bin gap
    // |1000·correct − Σconf| exact in HUGEINT, ECE one division
    "q167_calibration" ->
      """WITH d AS (SELECT
        |    len(list_filter(string_split(text,' '), x -> x='the' OR x='a')) AS hits,
        |    lang FROM documents),
        |p AS (SELECT LEAST(1000, 500 + 50*hits) AS conf,
        |    CASE WHEN (CASE WHEN hits >= 2 THEN 'en' ELSE 'und' END) = lang
        |         THEN 1 ELSE 0 END AS ok FROM d),
        |cells AS (SELECT LEAST((conf * 10) // 1000, 9) AS bin,
        |    COUNT(*) AS n, SUM(ok) AS n_correct, SUM(conf) AS conf_sum
        |  FROM p GROUP BY 1),
        |g AS (SELECT SUM(n) AS nn,
        |    SUM(ABS(1000*CAST(n_correct AS HUGEINT) - conf_sum)) AS mass
        |  FROM cells)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(n AS BIGINT) AS n,
        |  CAST(n_correct AS BIGINT) AS n_correct,
        |  CAST(conf_sum AS BIGINT) AS conf_sum_milli,
        |  CAST(n_correct AS DOUBLE) / CAST(n AS DOUBLE) AS acc,
        |  CAST(conf_sum AS DOUBLE) / CAST(1000*n AS DOUBLE) AS conf_mean,
        |  CASE WHEN g.nn > 0
        |       THEN CAST(g.mass AS DOUBLE) / CAST(1000*g.nn AS DOUBLE)
        |       ELSE 0.0 END AS ece
        |FROM cells, g ORDER BY bin""".stripMargin,
    // q168: tie-corrected Spearman in doubled-midrank units —
    // midrank2 = 2·RANK() + ties − 1 per side, Σd² and Σ(t³−t) in
    // HUGEINT, S4 = (n³−n−T)/3 exact, rho in the engine's fixed IEEE
    // order num/(2·sqrt(s4x)·sqrt(s4y))
    "q168_spearman" ->
      """WITH b AS (SELECT n_chars AS x,
        |    len(string_split(text,' ')) AS y FROM documents),
        |m AS (SELECT
        |    2*RANK() OVER (ORDER BY x) + COUNT(*) OVER (PARTITION BY x) - 1 AS rx,
        |    2*RANK() OVER (ORDER BY y) + COUNT(*) OVER (PARTITION BY y) - 1 AS ry
        |  FROM b),
        |dd AS (SELECT COUNT(*) AS n,
        |    SUM(CAST(rx - ry AS HUGEINT) * CAST(rx - ry AS HUGEINT)) AS d2
        |  FROM m),
        |tx AS (SELECT COALESCE(SUM(CAST(t AS HUGEINT)*t*t - t), 0) AS tie
        |  FROM (SELECT COUNT(*) AS t FROM b GROUP BY x)),
        |ty AS (SELECT COALESCE(SUM(CAST(t AS HUGEINT)*t*t - t), 0) AS tie
        |  FROM (SELECT COUNT(*) AS t FROM b GROUP BY y)),
        |s AS (SELECT CAST(n AS BIGINT) AS n,
        |    (CAST(n AS HUGEINT)*n*n - n - tx.tie) // 3 AS s4x,
        |    (CAST(n AS HUGEINT)*n*n - n - ty.tie) // 3 AS s4y,
        |    d2 FROM dd, tx, ty)
        |SELECT n,
        |  CASE WHEN s4x = 0 OR s4y = 0 THEN 0.0
        |       ELSE CAST(s4x + s4y - d2 AS DOUBLE) /
        |            (2 * sqrt(CAST(s4x AS DOUBLE)) * sqrt(CAST(s4y AS DOUBLE)))
        |  END AS rho
        |FROM s""".stripMargin,
    // q169: distinct-1/distinct-2 diversity per source — exact gram
    // censuses (q150's slice convention for the bigrams), each ratio
    // one division; zero-gram orders report 0.0
    "q169_ngram_diversity" ->
      """WITH t AS (SELECT source, string_split(text,' ') AS toks FROM documents),
        |g1 AS (SELECT source, unnest(toks) AS g FROM t),
        |c1 AS (SELECT source, COUNT(*) AS total_1,
        |    COUNT(DISTINCT g) AS distinct_1 FROM g1 GROUP BY 1),
        |g2 AS (SELECT source,
        |    unnest([array_to_string(toks[i:i+1],' ') for i in range(1, len(toks))]) AS g
        |  FROM t),
        |c2 AS (SELECT source, COUNT(*) AS total_2,
        |    COUNT(DISTINCT g) AS distinct_2 FROM g2 GROUP BY 1)
        |SELECT c1.source AS grp,
        |  CAST(total_1 AS BIGINT) AS total_1,
        |  CAST(distinct_1 AS BIGINT) AS distinct_1,
        |  CASE WHEN total_1 > 0
        |       THEN CAST(distinct_1 AS DOUBLE) / CAST(total_1 AS DOUBLE)
        |       ELSE 0.0 END AS ratio_1,
        |  CAST(COALESCE(total_2, 0) AS BIGINT) AS total_2,
        |  CAST(COALESCE(distinct_2, 0) AS BIGINT) AS distinct_2,
        |  CASE WHEN COALESCE(total_2, 0) > 0
        |       THEN CAST(distinct_2 AS DOUBLE) / CAST(total_2 AS DOUBLE)
        |       ELSE 0.0 END AS ratio_2
        |FROM c1 LEFT JOIN c2 USING (source) ORDER BY grp""".stripMargin,
    // q170: average precision (step form) — per-threshold precision
    // rounded ONCE to micro-units via exact integral division
    // floor(1e6·p/q + ½) = (2e6·p + q) // (2q), AP mass in HUGEINT
    "q170_avg_precision" ->
      """WITH d AS (SELECT
        |    len(list_filter(string_split(text,' '), x -> x='the' OR x='a')) AS s,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
        |c AS (SELECT s, SUM(y) AS pos, SUM(1 - y) AS neg FROM d
        |      WHERE s IS NOT NULL GROUP BY 1),
        |r AS (SELECT s, pos, neg,
        |    SUM(neg) OVER (ORDER BY s) AS cum_neg,
        |    SUM(pos) OVER (ORDER BY s) AS cum_pos FROM c),
        |g AS (SELECT SUM(pos) AS n_pos, SUM(neg) AS n_neg FROM c),
        |t AS (SELECT pos,
        |    CAST(n_pos - (cum_pos - pos) AS HUGEINT) AS p_ge,
        |    CAST((n_pos - (cum_pos - pos)) + (n_neg - (cum_neg - neg))
        |      AS HUGEINT) AS n_ge
        |  FROM r, g),
        |m AS (SELECT SUM(CAST(pos AS HUGEINT) *
        |    ((2000000*p_ge + n_ge) // (2*n_ge))) AS mass FROM t)
        |SELECT CAST(g.n_pos AS BIGINT) AS n_pos,
        |  CAST(g.n_neg AS BIGINT) AS n_neg,
        |  CASE WHEN g.n_pos > 0
        |       THEN CAST(m.mass AS DOUBLE) /
        |            CAST(1000000 * CAST(g.n_pos AS HUGEINT) AS DOUBLE)
        |       ELSE 0.0 END AS ap
        |FROM g, m""".stripMargin,
    // q171: Brier score of the q167 pseudo-confidence — the proper
    // scoring rule beside the binned ECE; Σ(conf−1000·y)² in HUGEINT
    "q171_brier" ->
      """WITH d AS (SELECT
        |    len(list_filter(string_split(text,' '), x -> x='the' OR x='a')) AS hits,
        |    lang FROM documents),
        |p AS (SELECT LEAST(1000, 500 + 50*hits) AS conf,
        |    CASE WHEN (CASE WHEN hits >= 2 THEN 'en' ELSE 'und' END) = lang
        |         THEN 1 ELSE 0 END AS ok FROM d),
        |g AS (SELECT COUNT(*) AS n,
        |    SUM(CAST(conf - 1000*ok AS HUGEINT) *
        |        CAST(conf - 1000*ok AS HUGEINT)) AS mass FROM p)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CASE WHEN n > 0
        |       THEN CAST(mass AS DOUBLE) /
        |            CAST(1000000 * CAST(n AS HUGEINT) AS DOUBLE)
        |       ELSE 0.0 END AS brier
        |FROM g""".stripMargin,
    // q172: per-source JSD from the corpus mixture — each present
    // token's two log terms rounded ONCE to micro-nats (the log
    // argument is one double division of exact integers, mirrored
    // op-for-op), masses in HUGEINT, the absent-token mixture mass
    // collapsed to (N − Σ_{t∈g} C)·693147
    "q172_source_jsd" -> SourceJsdSql,
    // q173: two-sample KS on n_chars, src0 vs the rest — the sup-CDF
    // gap over the merged score census on the common denominator
    // n_a·n_b, so the sup is an integer max (ties toward smallest s)
    // and d one division of exact integers
    "q173_ks_drift" -> SourceLengthKsSql,
    // q179: the shared monitor's drift leg (as q184) — the oracle is
    // q173's VERBATIM (drain == batch: additive census)
    "q179_stream_drift" -> SourceLengthKsSql,
    // q178: binary log-loss of the capped q167 pseudo-confidence —
    // per-cell micro-nat loss rounded ONCE off the (conf, y) census,
    // mass in HUGEINT, one final division
    "q178_log_loss" ->
      """WITH d AS (SELECT
        |    len(list_filter(string_split(text,' '), x -> x='the' OR x='a')) AS hits,
        |    lang FROM documents),
        |p AS (SELECT LEAST(999, 500 + 50*hits) AS conf,
        |    CASE WHEN (CASE WHEN hits >= 2 THEN 'en' ELSE 'und' END) = lang
        |         THEN 1 ELSE 0 END AS y FROM d),
        |cells AS (SELECT conf, y, COUNT(*) AS n FROM p GROUP BY 1, 2),
        |m AS (SELECT n, CAST(FLOOR(
        |    -ln(CAST(CASE WHEN y = 1 THEN conf ELSE 1000 - conf END AS DOUBLE)
        |        / 1000.0) * 1000000.0 + 0.5) AS HUGEINT) AS mm FROM cells),
        |g AS (SELECT CAST(SUM(n) AS BIGINT) AS n,
        |    SUM(CAST(n AS HUGEINT) * mm) AS mass FROM m)
        |SELECT n,
        |  CASE WHEN n > 0
        |       THEN CAST(mass AS DOUBLE) / CAST(1000000 * CAST(n AS HUGEINT) AS DOUBLE)
        |       ELSE 0.0 END AS logloss_nats
        |FROM g""".stripMargin,
    // q174: multiclass Matthews correlation (Gorodkin R_K) of the q21
    // labeler — marginals over the UNION class set, numerator and
    // both radicands exact HUGEINT, finisher num/(sqrt(dx)·sqrt(dy))
    // in the engine's fixed IEEE order
    "q174_mcc" ->
      """WITH p AS (SELECT lang AS gold,
        |    CASE WHEN len(list_filter(string_split(text,' '), x -> x='the' OR x='a')) >= 2
        |         THEN 'en' ELSE 'und' END AS pred
        |  FROM documents),
        |cm AS (SELECT gold, pred, COUNT(*) AS n FROM p GROUP BY 1, 2),
        |gm AS (SELECT gold AS cls, CAST(SUM(n) AS HUGEINT) AS ng FROM cm GROUP BY 1),
        |pm AS (SELECT pred AS cls, CAST(SUM(n) AS HUGEINT) AS np FROM cm GROUP BY 1),
        |cls AS (SELECT cls FROM gm UNION SELECT cls FROM pm),
        |j AS (SELECT cls.cls, COALESCE(gm.ng, 0) AS ng, COALESCE(pm.np, 0) AS np
        |  FROM cls LEFT JOIN gm USING (cls) LEFT JOIN pm USING (cls)),
        |t AS (SELECT SUM(ng) AS nn, SUM(ng * np) AS rc,
        |    SUM(np * np) AS sp, SUM(ng * ng) AS sg FROM j),
        |a AS (SELECT CAST(COALESCE(SUM(CASE WHEN gold = pred THEN n END), 0)
        |    AS HUGEINT) AS agree FROM cm)
        |SELECT CAST(t.nn AS BIGINT) AS n,
        |  CASE WHEN t.nn * t.nn - t.sp > 0 AND t.nn * t.nn - t.sg > 0
        |       THEN CAST(t.nn * a.agree - t.rc AS DOUBLE) /
        |            (sqrt(CAST(t.nn * t.nn - t.sp AS DOUBLE)) *
        |             sqrt(CAST(t.nn * t.nn - t.sg AS DOUBLE)))
        |       ELSE 0.0 END AS mcc
        |FROM t, a""".stripMargin,
    // q175: per-source vocabulary coverage — Good–Turing seen mass
    // (N−n1)/N one division, Chao1 V + n1(n1−1)/(2(n2+1)) the
    // engine's fixed IEEE sequence off exact integer counts
    "q175_vocab_coverage" -> SourceVocabSql,
    // q177: per-label centroid-vs-rest cosine — per-dimension exact
    // component sums off the zipped unnest, rest = total − s
    // (census-derived, no second corpus pass), dot/norms HUGEINT,
    // finisher dot/(sqrt(n2)·sqrt(r2)) in the engine's IEEE order
    "q177_embedding_drift" -> EmbeddingDriftSql,
    // q180-q185: the UNIFIED monitor — one reader, one foreachBatch,
    // every census folded from ONE pass over each arriving file. Each
    // leg's durable state must grade to its batch twin, so each
    // oracle is the batch query's VERBATIM (shared constant).
    "q180_monitor_novelty" -> StreamNoveltySql,
    "q181_monitor_contamination" -> StreamContaminationSql,
    "q182_monitor_agreement" -> LangIdEvalSql,
    "q183_monitor_score" -> LangScoreAucSql,
    "q184_monitor_drift" -> SourceLengthKsSql,
    "q185_monitor_jsd" -> SourceJsdSql,
    // q186: the resident embedding-drift pump — additive component
    // sums, drain == batch, so q177's oracle verbatim
    "q186_stream_embedding_drift" -> EmbeddingDriftSql,
    // q187: Kendall's tau-b off the joint (score, length-bucket)
    // census — C/D pair masses exact HUGEINT over the grid-squared
    // join (grid-bounded, never corpus-squared), doubled tie-pair
    // denominators, finisher 2(C−D)/(√D1·√D2) in the engine's fixed
    // two-root IEEE order
    "q187_kendall_tau" ->
      """WITH d AS (SELECT
        |    len(list_filter(string_split(text,' '), x -> x='the' OR x='a')) AS x,
        |    n_chars // 100 AS y FROM documents),
        |c AS (SELECT x, y, COUNT(*) AS n FROM d GROUP BY 1, 2),
        |xm AS (SELECT CAST(COALESCE(SUM(CAST(t AS HUGEINT) * (t - 1)), 0) AS HUGEINT) AS tx
        |  FROM (SELECT x, SUM(n) AS t FROM c GROUP BY 1)),
        |ym AS (SELECT CAST(COALESCE(SUM(CAST(t AS HUGEINT) * (t - 1)), 0) AS HUGEINT) AS ty
        |  FROM (SELECT y, SUM(n) AS t FROM c GROUP BY 1)),
        |g AS (SELECT CAST(SUM(n) AS HUGEINT) AS nn FROM c),
        |p AS (SELECT
        |    CAST(COALESCE(SUM(CASE WHEN a.y < b.y THEN CAST(a.n AS HUGEINT) * b.n END), 0) AS HUGEINT) AS cm,
        |    CAST(COALESCE(SUM(CASE WHEN a.y > b.y THEN CAST(a.n AS HUGEINT) * b.n END), 0) AS HUGEINT) AS dm
        |  FROM c a JOIN c b ON a.x < b.x)
        |SELECT CAST(g.nn AS BIGINT) AS n,
        |  CASE WHEN g.nn * (g.nn - 1) - xm.tx > 0 AND g.nn * (g.nn - 1) - ym.ty > 0
        |       THEN CAST(2 * (p.cm - p.dm) AS DOUBLE) /
        |            (sqrt(CAST(g.nn * (g.nn - 1) - xm.tx AS DOUBLE)) *
        |             sqrt(CAST(g.nn * (g.nn - 1) - ym.ty AS DOUBLE)))
        |       ELSE 0.0 END AS tau_b
        |FROM g, xm, ym, p""".stripMargin,
    // q188: multiclass log-loss — the census reads the GOLD class's
    // claimed milli-probability per row; per-cell micro-nat loss
    // rounded once (≤999 libm calls), mass HUGEINT, one division
    "q188_multiclass_logloss" ->
      """WITH d AS (SELECT
        |    CASE n_chars % 3
        |      WHEN 0 THEN 1 + (doc_id * 7) % 500
        |      WHEN 1 THEN 1 + (doc_id * 13) % 400
        |      ELSE 1000 - (1 + (doc_id * 7) % 500) - (1 + (doc_id * 13) % 400)
        |    END AS p FROM documents),
        |cells AS (SELECT p, COUNT(*) AS n FROM d GROUP BY 1),
        |m AS (SELECT n, CAST(FLOOR(
        |    -ln(CAST(p AS DOUBLE) / 1000.0) * 1000000.0 + 0.5) AS HUGEINT) AS mm
        |  FROM cells),
        |g AS (SELECT CAST(SUM(n) AS BIGINT) AS n,
        |    SUM(CAST(n AS HUGEINT) * mm) AS mass FROM m)
        |SELECT n,
        |  CASE WHEN n > 0
        |       THEN CAST(mass AS DOUBLE) / CAST(1000000 * CAST(n AS HUGEINT) AS DOUBLE)
        |       ELSE 0.0 END AS logloss_nats
        |FROM g""".stripMargin,
    // q189: every-source-vs-rest KS matrix on n_chars — sup over the
    // full group×score grid, integer masses, argmax (mass DESC, s ASC)
    "q189_ks_matrix" -> SourceKsMatrixSql,
    // q192: the monitor's drift-matrix leg drained over the same
    // corpus — q189's oracle VERBATIM (drain == batch: additive census)
    "q192_monitor_ks_matrix" -> SourceKsMatrixSql,
    // q193: vocabulary coverage read off the monitor's token-JSD
    // state — q175's oracle VERBATIM (same census, second face)
    "q193_monitor_vocab" -> SourceVocabSql,
    // q190: per-class reliability + per-class ECE of the q188 3-class
    // vector — per-(cls, bin) gap |1000·correct − Σconf| in HUGEINT,
    // per-class ECE one division (the q167 discipline, per class)
    "q190_multiclass_calibration" ->
      """WITH d AS (SELECT 1 + (doc_id * 7) % 500 AS p0,
        |    1 + (doc_id * 13) % 400 AS p1,
        |    1000 - (1 + (doc_id * 7) % 500) - (1 + (doc_id * 13) % 400) AS p2,
        |    'c' || CAST(n_chars % 3 AS VARCHAR) AS gold FROM documents),
        |e AS (
        |  SELECT 'c0' AS cls, p0 AS conf,
        |    CASE WHEN gold = 'c0' THEN 1 ELSE 0 END AS ok FROM d
        |  UNION ALL SELECT 'c1', p1,
        |    CASE WHEN gold = 'c1' THEN 1 ELSE 0 END FROM d
        |  UNION ALL SELECT 'c2', p2,
        |    CASE WHEN gold = 'c2' THEN 1 ELSE 0 END FROM d),
        |cells AS (SELECT cls, LEAST((conf * 10) // 1000, 9) AS bin,
        |    COUNT(*) AS n, SUM(ok) AS n_correct, SUM(conf) AS conf_sum
        |  FROM e GROUP BY 1, 2),
        |g AS (SELECT cls, SUM(n) AS nn,
        |    SUM(ABS(1000*CAST(n_correct AS HUGEINT) - conf_sum)) AS mass
        |  FROM cells GROUP BY 1)
        |SELECT cells.cls, CAST(bin AS BIGINT) AS bin, CAST(n AS BIGINT) AS n,
        |  CAST(n_correct AS BIGINT) AS n_correct,
        |  CAST(conf_sum AS BIGINT) AS conf_sum_milli,
        |  CAST(n_correct AS DOUBLE) / CAST(n AS DOUBLE) AS acc,
        |  CAST(conf_sum AS DOUBLE) / CAST(1000*n AS DOUBLE) AS conf_mean,
        |  CASE WHEN g.nn > 0
        |       THEN CAST(g.mass AS DOUBLE) / CAST(1000*g.nn AS DOUBLE)
        |       ELSE 0.0 END AS ece
        |FROM cells JOIN g ON cells.cls = g.cls
        |ORDER BY cells.cls, bin""".stripMargin,
    // q191: per-class average precision of the same vector — the q170
    // micro-unit discipline per class (PARTITION BY cls cumulatives
    // over the census, floor(1e6·p/q + ½) as exact integral division)
    "q191_class_pr_auc" ->
      """WITH d AS (SELECT 1 + (doc_id * 7) % 500 AS p0,
        |    1 + (doc_id * 13) % 400 AS p1,
        |    1000 - (1 + (doc_id * 7) % 500) - (1 + (doc_id * 13) % 400) AS p2,
        |    'c' || CAST(n_chars % 3 AS VARCHAR) AS gold FROM documents),
        |e AS (
        |  SELECT 'c0' AS cls, p0 AS s,
        |    CASE WHEN gold = 'c0' THEN 1 ELSE 0 END AS y FROM d
        |  UNION ALL SELECT 'c1', p1,
        |    CASE WHEN gold = 'c1' THEN 1 ELSE 0 END FROM d
        |  UNION ALL SELECT 'c2', p2,
        |    CASE WHEN gold = 'c2' THEN 1 ELSE 0 END FROM d),
        |c AS (SELECT cls, s, SUM(y) AS pos, SUM(1 - y) AS neg
        |  FROM e GROUP BY 1, 2),
        |r AS (SELECT cls, s, pos, neg,
        |    SUM(neg) OVER (PARTITION BY cls ORDER BY s) AS cum_neg,
        |    SUM(pos) OVER (PARTITION BY cls ORDER BY s) AS cum_pos FROM c),
        |g AS (SELECT cls, SUM(pos) AS n_pos, SUM(neg) AS n_neg
        |  FROM c GROUP BY 1),
        |t AS (SELECT r.cls, pos,
        |    CAST(n_pos - (cum_pos - pos) AS HUGEINT) AS p_ge,
        |    CAST((n_pos - (cum_pos - pos)) + (n_neg - (cum_neg - neg))
        |      AS HUGEINT) AS n_ge
        |  FROM r JOIN g ON r.cls = g.cls),
        |m AS (SELECT cls, SUM(CAST(pos AS HUGEINT) *
        |    ((2000000*p_ge + n_ge) // (2*n_ge))) AS mass
        |  FROM t GROUP BY 1)
        |SELECT g.cls, CAST(g.n_pos AS BIGINT) AS n_pos,
        |  CAST(g.n_neg AS BIGINT) AS n_neg,
        |  CASE WHEN g.n_pos > 0
        |       THEN CAST(m.mass AS DOUBLE) /
        |            CAST(1000000 * CAST(g.n_pos AS HUGEINT) AS DOUBLE)
        |       ELSE 0.0 END AS ap
        |FROM g JOIN m ON g.cls = m.cls ORDER BY g.cls""".stripMargin,
    // q194: the NULL-score exclusion contract pinned against the
    // oracle — every 7th score is NULL; both engines must grade
    // exactly the remaining rows (the census WHERE s IS NOT NULL)
    "q194_null_score_auc" ->
      """WITH d AS (SELECT
        |    CASE WHEN doc_id % 7 = 0 THEN NULL
        |         ELSE len(list_filter(string_split(text,' '),
        |                x -> x='the' OR x='a')) END AS s,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
        |c AS (SELECT s, SUM(y) AS pos, SUM(1 - y) AS neg FROM d
        |      WHERE s IS NOT NULL GROUP BY 1),
        |r AS (SELECT s, pos, neg, SUM(neg) OVER (ORDER BY s) AS cum_neg FROM c),
        |g AS (SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
        |    CAST(SUM(neg) AS BIGINT) AS n_neg,
        |    SUM(CAST(pos AS HUGEINT) * (2*(cum_neg - neg) + neg)) AS m2 FROM r)
        |SELECT n_pos, n_neg,
        |  CASE WHEN n_pos > 0 AND n_neg > 0
        |       THEN CAST(m2 AS DOUBLE) /
        |            CAST(2 * CAST(n_pos AS HUGEINT) * n_neg AS DOUBLE)
        |       ELSE 0.0 END AS auc
        |FROM g""".stripMargin,
    // q195: per-class ROC-AUC of the q188 vector — the q165
    // Mann–Whitney mass per class, PARTITION BY cls cumulatives over
    // the (cls, s) census, one division per class
    "q195_class_roc_auc" -> ClassAucSql,
    // q197: the monitor's multiclass router-audit leg drained over
    // the same corpus — q195's oracle VERBATIM (drain == batch: the
    // (cls, s, pos, neg) census is additive)
    "q197_monitor_class_auc" -> ClassAucSql,
    // q196: per-class operating-point table of the q188 vector — the
    // q166 confusion/rate columns one-vs-rest per class, exact
    // integer counts off PARTITION BY cls census cumulatives
    "q196_class_operating_points" ->
      (Mc3CensusSql +
      """,
        |r AS (SELECT cls, s, pos, neg,
        |    SUM(pos) OVER (PARTITION BY cls ORDER BY s) AS cum_pos,
        |    SUM(neg) OVER (PARTITION BY cls ORDER BY s) AS cum_neg FROM c),
        |g AS (SELECT cls, SUM(pos) AS n_pos, SUM(neg) AS n_neg
        |  FROM c GROUP BY 1),
        |t AS (SELECT r.cls, s AS thr,
        |    n_pos - (cum_pos - pos) AS tp,
        |    n_neg - (cum_neg - neg) AS fp,
        |    cum_pos - pos AS fn, cum_neg - neg AS tn,
        |    n_pos, n_neg
        |  FROM r JOIN g ON r.cls = g.cls)
        |SELECT cls, CAST(thr AS BIGINT) AS thr, CAST(tp AS BIGINT) AS tp,
        |  CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
        |  CAST(tn AS BIGINT) AS tn,
        |  CASE WHEN n_pos > 0
        |       THEN CAST(tp AS DOUBLE) / CAST(n_pos AS DOUBLE)
        |       ELSE 0.0 END AS tpr,
        |  CASE WHEN n_neg > 0
        |       THEN CAST(fp AS DOUBLE) / CAST(n_neg AS DOUBLE)
        |       ELSE 0.0 END AS fpr,
        |  CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS prec,
        |  CASE WHEN tp + fn > 0
        |       THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
        |       ELSE 0.0 END AS rec,
        |  CASE WHEN 2*tp + fp + fn > 0
        |       THEN CAST(2*tp AS DOUBLE) / CAST(2*tp + fp + fn AS DOUBLE)
        |       ELSE 0.0 END AS f1
        |FROM t ORDER BY cls, thr""".stripMargin),
    // q198: the largest-remainder milli-quantizer — float ops
    // mirrored op-for-op (normalize by the left-associated total,
    // ×1000, floor, remainder rank DESC with ties toward the
    // smallest class key), then the (cls, milli) census
    "q198_quantize_milli" ->
      """WITH d AS (SELECT doc_id,
        |    (1 + (doc_id * 7) % 499) / 1237.0 AS p0,
        |    (1 + (doc_id * 13) % 401) / 1237.0 AS p1,
        |    (1 + (doc_id * 29) % 307) / 1237.0 AS p2 FROM documents),
        |s AS (SELECT doc_id, p0, p1, p2, (p0 + p1) + p2 AS t FROM d),
        |e AS (
        |  SELECT doc_id, 'c0' AS cls, p0 * 1000.0 / t AS x FROM s
        |  UNION ALL SELECT doc_id, 'c1', p1 * 1000.0 / t FROM s
        |  UNION ALL SELECT doc_id, 'c2', p2 * 1000.0 / t FROM s),
        |f AS (SELECT doc_id, cls, CAST(FLOOR(x) AS BIGINT) AS fl,
        |    x - FLOOR(x) AS rem FROM e),
        |rk AS (SELECT doc_id, cls, fl,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY rem DESC, cls ASC) AS r FROM f),
        |def AS (SELECT doc_id, 1000 - SUM(fl) AS d FROM f GROUP BY 1),
        |m AS (SELECT rk.doc_id, cls,
        |    fl + CASE WHEN rk.r <= def.d THEN 1 ELSE 0 END AS milli
        |  FROM rk JOIN def ON rk.doc_id = def.doc_id)
        |SELECT cls, milli, COUNT(*) AS n FROM m
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
  )

  /** The q188 synthetic 3-class vector's (cls, s, pos, neg) census —
    * the CTE prefix shared by the multiclass battery's SQL oracles.
    */
  private val Mc3CensusSql: String =
    """WITH d AS (SELECT 1 + (doc_id * 7) % 500 AS p0,
      |    1 + (doc_id * 13) % 400 AS p1,
      |    1000 - (1 + (doc_id * 7) % 500) - (1 + (doc_id * 13) % 400) AS p2,
      |    'c' || CAST(n_chars % 3 AS VARCHAR) AS gold FROM documents),
      |e AS (
      |  SELECT 'c0' AS cls, p0 AS s,
      |    CASE WHEN gold = 'c0' THEN 1 ELSE 0 END AS y FROM d
      |  UNION ALL SELECT 'c1', p1,
      |    CASE WHEN gold = 'c1' THEN 1 ELSE 0 END FROM d
      |  UNION ALL SELECT 'c2', p2,
      |    CASE WHEN gold = 'c2' THEN 1 ELSE 0 END FROM d),
      |c AS (SELECT cls, s, SUM(y) AS pos, SUM(1 - y) AS neg
      |  FROM e GROUP BY 1, 2)""".stripMargin

  /** q195's oracle (per-class ROC-AUC), shared verbatim by q197 (the
    * monitor's classes leg: the (cls, s, pos, neg) census is
    * additive, so the drained per-class AUC must equal the batch
    * scan's bit-for-bit).
    */
  private val ClassAucSql: String =
    (Mc3CensusSql +
    """,
      |r AS (SELECT cls, s, pos, neg,
      |    SUM(neg) OVER (PARTITION BY cls ORDER BY s) AS cum_neg FROM c),
      |g AS (SELECT cls, CAST(SUM(pos) AS BIGINT) AS n_pos,
      |    CAST(SUM(neg) AS BIGINT) AS n_neg,
      |    SUM(CAST(pos AS HUGEINT) * (2*(cum_neg - neg) + neg)) AS m2
      |  FROM r GROUP BY 1)
      |SELECT cls, n_pos, n_neg,
      |  CASE WHEN n_pos > 0 AND n_neg > 0
      |       THEN CAST(m2 AS DOUBLE) /
      |            CAST(2 * CAST(n_pos AS HUGEINT) * n_neg AS DOUBLE)
      |       ELSE 0.0 END AS auc
      |FROM g ORDER BY cls""".stripMargin)

  /** chrF oracle generator (the mmrOracle/kCoreOracle unrolling
    * technique): one CTE trio per character-n-gram order — candidate
    * counts, reference counts, clip/total rollups — then per-order
    * F₂ and the fixed-denominator mean, mirroring
    * [[graft.text.GenerationEval.chrF]]'s exact IEEE op order
    * ((5·p)·r / (4·p + r), left-associated f-sum, one division by
    * the order count).
    */
  private def chrfOracle(maxOrder: Int): String = {
    val head =
      """WITH p AS (SELECT a.doc_id AS pair_id,
        |    replace(a.text, ' ', '') AS sc, replace(b.text, ' ', '') AS sr
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id % 2 = 0)""".stripMargin
    val orders = (1 to maxOrder).map { n =>
      s"""c$n AS (SELECT pair_id, g, COUNT(*) AS nc FROM
         |    (SELECT pair_id, unnest([sc[i:i+${n - 1}] for i in range(1, len(sc)-${n}+2)]) AS g FROM p)
         |  GROUP BY 1, 2),
         |r$n AS (SELECT pair_id, g, COUNT(*) AS nr FROM
         |    (SELECT pair_id, unnest([sr[i:i+${n - 1}] for i in range(1, len(sr)-${n}+2)]) AS g FROM p)
         |  GROUP BY 1, 2),
         |u$n AS (SELECT c$n.pair_id, SUM(c$n.nc) AS tc,
         |    SUM(LEAST(c$n.nc, COALESCE(r$n.nr, 0))) AS clip
         |  FROM c$n LEFT JOIN r$n ON c$n.pair_id = r$n.pair_id AND c$n.g = r$n.g
         |  GROUP BY 1),
         |v$n AS (SELECT pair_id, SUM(nr) AS tr FROM r$n GROUP BY 1)""".stripMargin
    }
    val joins = (1 to maxOrder).map(n =>
      s"LEFT JOIN u$n USING (pair_id) LEFT JOIN v$n USING (pair_id)")
      .mkString("\n")
    val totals = (1 to maxOrder).map(n =>
      s"""  CAST(COALESCE(u$n.tc, 0) AS BIGINT) AS total_c$n,
         |  CAST(COALESCE(v$n.tr, 0) AS BIGINT) AS total_r$n,
         |  CAST(COALESCE(u$n.clip, 0) AS BIGINT) AS clip$n,""".stripMargin)
      .mkString("\n")
    val fs = (1 to maxOrder).map { n =>
      val pp = s"(CASE WHEN COALESCE(u$n.tc, 0) > 0 THEN CAST(COALESCE(u$n.clip, 0) AS DOUBLE)/CAST(u$n.tc AS DOUBLE) ELSE 0.0 END)"
      val rr = s"(CASE WHEN COALESCE(v$n.tr, 0) > 0 THEN CAST(COALESCE(u$n.clip, 0) AS DOUBLE)/CAST(v$n.tr AS DOUBLE) ELSE 0.0 END)"
      s"(CASE WHEN 4.0*$pp + $rr > 0.0 THEN 5.0*$pp*$rr/(4.0*$pp + $rr) ELSE 0.0 END)"
    }
    (Seq(head) ++ orders).mkString(",\n") +
      s"\nSELECT p.pair_id,\n$totals\n  (${fs.mkString(" + ")}) / $maxOrder.0 AS chrf\n" +
      s"FROM p\n$joins\nORDER BY p.pair_id"
  }

  /** Unrolled greedy-MMR rounds mirroring [[graft.vector.Mmr]]:
    * quantize, centroid floor-mean, relevance dots, then per round a
    * max-dot against the growing pick set and one LIMIT-1 argmax
    * (ties to the smaller vec_id). MATERIALIZED for the same
    * exponential-inlining reason as the k-core oracle.
    */
  private def mmrOracle(k: Int): String = {
    val head =
      """WITH e AS MATERIALIZED (SELECT vec_id, [CAST(round(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) for x in embedding] AS q FROM embeddings),
        |cp AS MATERIALIZED (SELECT i, SUM(CAST(x AS HUGEINT)) AS s, COUNT(*) AS n
        |  FROM (SELECT generate_subscripts(q, 1) AS i, unnest(q) AS x FROM e) GROUP BY 1),
        |c AS MATERIALIZED (SELECT list(CAST(s // n AS BIGINT) ORDER BY i) AS cw FROM cp),
        |r AS MATERIALIZED (SELECT vec_id, q,
        |  list_reduce([CAST(0 AS BIGINT)] + [q[i]*cw[i] for i in range(1, len(q)+1)], (a,b) -> a+b) AS rel
        |  FROM e, c),
        |p1 AS MATERIALIZED (SELECT 1 AS rank, vec_id, q, 2*rel AS score FROM r ORDER BY score DESC, vec_id LIMIT 1),
        |sel1 AS MATERIALIZED (SELECT vec_id, q FROM p1)""".stripMargin
    val rounds = (2 to k).map { i =>
      s"""m$i AS MATERIALIZED (SELECT d.vec_id,
         |  MAX(list_reduce([CAST(0 AS BIGINT)] + [d.q[j]*s.q[j] for j in range(1, len(d.q)+1)], (a,b) -> a+b)) AS md
         |  FROM r d, sel${i - 1} s WHERE d.vec_id NOT IN (SELECT vec_id FROM sel${i - 1}) GROUP BY 1),
         |p$i AS MATERIALIZED (SELECT $i AS rank, d.vec_id, d.q, 2*d.rel - m.md AS score
         |  FROM r d JOIN m$i m USING (vec_id) ORDER BY score DESC, d.vec_id LIMIT 1),
         |sel$i AS MATERIALIZED (SELECT vec_id, q FROM sel${i - 1} UNION ALL SELECT vec_id, q FROM p$i)""".stripMargin
    }
    val union = (1 to k)
      .map(i => s"SELECT rank, vec_id, score FROM p$i").mkString(" UNION ALL ")
    (Seq(head) ++ rounds).mkString(",\n") +
      s"\nSELECT rank, vec_id, score FROM ($union) ORDER BY rank"
  }

  /** Unrolled k-core peeling over the customer–part co-purchase
    * graph: round i computes degrees d{i} on edge set e{i}, keeps
    * nodes with deg >= k as s{i}, and filters e{i+1} to edges whose
    * BOTH endpoints survive — exactly [[graft.ops.KCore.kCore]]'s
    * loop, with fixpoint rounds reducing to identity.
    */
  private def kCoreOracle(k: Int, rounds: Int): String = {
    // MATERIALIZED is load-bearing: each round references its
    // predecessor three times, so inlined CTEs would re-expand the
    // base scan 3^rounds times
    val head =
      """WITH e0 AS MATERIALIZED (SELECT DISTINCT o_custkey AS a, l_partkey + 10000000 AS b
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)""".stripMargin
    val steps = (0 until rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM
         |  (SELECT a AS node FROM e$i UNION ALL SELECT b FROM e$i) GROUP BY 1),
         |s$i AS MATERIALIZED (SELECT node FROM d$i WHERE deg >= $k),
         |e${i + 1} AS MATERIALIZED (SELECT a, b FROM e$i
         |  WHERE a IN (SELECT node FROM s$i)
         |    AND b IN (SELECT node FROM s$i))""".stripMargin
    }
    val fin =
      s"""dF AS (SELECT node, COUNT(*) AS deg FROM
         |  (SELECT a AS node FROM e$rounds UNION ALL SELECT b FROM e$rounds)
         |  GROUP BY 1)
         |SELECT node, deg FROM dF WHERE deg >= $k ORDER BY node""".stripMargin
    (Seq(head) ++ steps :+ fin).mkString(",\n")
  }

  /** The shared CTE chain mirroring Bpe.trainWithReprs: round k
    * derives pair counts p{k} from repr d{k}, picks merge m{k},
    * rewrites reprs into d{k+1}. An exhausted round's m{k} is empty
    * and the CROSS JOIN empties every later d — the merge-table
    * UNION truncates exactly like the engine's early stop.
    * `finalRepr` additionally emits d{rounds} (every merge applied)
    * for the encode oracle.
    */
  private def bpeCtes(rounds: Int, finalRepr: Boolean): Seq[String] = {
    val head = Seq(
      "WITH tok AS (SELECT unnest(string_split(text,' ')) AS word FROM documents)",
      "w AS (SELECT word, COUNT(*) AS freq FROM tok GROUP BY 1)",
      "d0 AS (SELECT word, freq, chr(1) || array_to_string(string_split(word,''), chr(1)||chr(1)) || chr(1) AS s FROM w)")
    head ++ (0 until rounds).flatMap { k =>
      val next =
        if (k < rounds - 1 || finalRepr)
          Seq(s"d${k + 1} AS (SELECT word, freq, replace(s, chr(1)||m.lhs||chr(1)||chr(1)||m.rhs||chr(1), chr(1)||m.lhs||m.rhs||chr(1)) AS s FROM d$k CROSS JOIN m$k m)")
        else Nil
      Seq(
        s"""p$k AS (SELECT lhs, rhs, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
           |    SELECT freq, unnest(toks[1:len(toks)-1]) AS lhs, unnest(toks[2:len(toks)]) AS rhs
           |    FROM (SELECT freq, list_transform(string_split(s, chr(1)||chr(1)), x -> trim(x, chr(1))) AS toks FROM d$k)
           |  ) GROUP BY 1, 2)""".stripMargin,
        s"m$k AS (SELECT lhs, rhs, cnt FROM p$k ORDER BY cnt DESC, lhs, rhs LIMIT 1)") ++ next
    }
  }

  private def bpeOracle(rounds: Int): String = {
    val union = (0 until rounds)
      .map(k => s"SELECT ${k + 1} AS step, lhs, rhs, lhs||rhs AS merged, cnt FROM m$k")
      .mkString("\nUNION ALL ")
    bpeCtes(rounds, finalRepr = false).mkString(",\n") +
      s"\nSELECT * FROM (\n$union\n) ORDER BY step"
  }

  /** The Lloyd-k-means CTE chain mirroring KMeans.lloydAssign: c0 is
    * the Knuth-sampled seed model; round j assigns every vector to
    * its nearest c{j-1} centroid (exact shifted-grid integer L2,
    * ties to the smallest cluster) and floor-means the members into
    * c{j}; empty clusters COALESCE back to their previous centroid.
    * The final select is one more assignment pass against c{iters} —
    * exactly the engine's post-update scoring.
    */
  private def kmeansOracle(k: Int, iters: Int, d: Int): String =
    kmeansCtes(k, iters, d).mkString("WITH ", ",\n", "") +
      s"""
         |SELECT vec_id, CAST(cluster AS INTEGER) AS cluster, dist2
         |FROM a${iters + 1} ORDER BY vec_id""".stripMargin

  /** The q105 chain + SemDeDup pair tail (KMeans.semanticDedup):
    * within-cluster pairs a<b scored by the exact unshifted-grid
    * integer cosine, a duplicate count per higher id, kept flag.
    */
  private def semanticDedupOracle(
      k: Int, iters: Int, d: Int, tau: String): String =
    (kmeansCtes(k, iters, d) ++ Seq(
      s"""m AS (SELECT a.vec_id, a.cluster,
         |    [x - 1000000 for x in a.w] AS q,
         |    list_reduce([CAST(0 AS BIGINT)] + [(a.w[i]-1000000)*(a.w[i]-1000000) for i in range(1, ${d + 1})], (x,y) -> x+y) AS n2
         |  FROM a${iters + 1} a)""".stripMargin,
      s"""p AS (SELECT a.vec_id AS va, b.vec_id AS vb,
         |    list_reduce([CAST(0 AS BIGINT)] + [a.q[i]*b.q[i] for i in range(1, ${d + 1})], (x,y) -> x+y) AS dd,
         |    a.n2 AS na, b.n2 AS nb
         |  FROM m a JOIN m b ON a.cluster = b.cluster AND a.vec_id < b.vec_id)""".stripMargin,
      s"""f AS (SELECT va, vb FROM p
         |  WHERE CAST(dd AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) >= $tau)""".stripMargin,
      "dup AS (SELECT vb AS vec_id, COUNT(*) AS n_dups FROM f GROUP BY 1)"))
      .mkString("WITH ", ",\n", "") +
      """
        |SELECT m.vec_id, CAST(m.cluster AS INTEGER) AS cluster,
        |  CAST(COALESCE(dup.n_dups, 0) AS BIGINT) AS n_dups,
        |  CAST(CASE WHEN dup.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS kept
        |FROM m LEFT JOIN dup USING (vec_id) ORDER BY vec_id""".stripMargin

  /** The Lloyd CTE chain shared by the q105 and q107 oracles —
    * c0 seeds through the final assignment a{iters+1}.
    */
  private def kmeansCtes(k: Int, iters: Int, d: Int): Seq[String] = {
    val head = Seq(
      """e AS (SELECT vec_id,
        |    [CAST(round(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) + 1000000 for x in embedding] AS w
        |  FROM embeddings)""".stripMargin,
      """u AS (SELECT vec_id, w,
        |    CAST((((CAST(((vec_id % 4294967296) - (vec_id % 65536)) / 65536 AS BIGINT)
        |      * 2654435761) % 65536) * 65536 + (vec_id % 65536) * 2654435761)
        |      % 4294967296 AS BIGINT) AS uk
        |  FROM e)""".stripMargin,
      "seeds AS (SELECT w, ROW_NUMBER() OVER (ORDER BY uk, vec_id) AS cluster FROM u)",
      s"c0 AS (SELECT cluster, w AS cw FROM seeds WHERE cluster <= $k)")
    val rounds = (1 to iters + 1).flatMap { j =>
      val assign = Seq(
        s"""d$j AS (SELECT e.vec_id, e.w, c.cluster,
           |    list_reduce([CAST(0 AS BIGINT)] + [(e.w[i]-c.cw[i])*(e.w[i]-c.cw[i]) for i in range(1, ${d + 1})], (a,x) -> a+x) AS dist2
           |  FROM e CROSS JOIN c${j - 1} c)""".stripMargin,
        s"""a$j AS (SELECT vec_id, w, cluster, dist2 FROM (
           |    SELECT vec_id, w, cluster, dist2,
           |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cluster) AS rn
           |    FROM d$j) WHERE rn = 1)""".stripMargin)
      val update =
        if (j <= iters) Seq(
          s"""s$j AS (SELECT cluster, t.i AS pos, SUM(w[t.i]) AS s, COUNT(*) AS n
             |  FROM a$j, range(1, ${d + 1}) t(i) GROUP BY 1, 2)""".stripMargin,
          // CAST: SUM(BIGINT) is HUGEINT in DuckDB; without it the
          // centroid lists (and so dist2) silently widen to HUGEINT,
          // which pandas renders as float64 and the hash rejects
          s"""c$j AS (SELECT c.cluster, COALESCE(nc.cw, c.cw) AS cw
             |  FROM c${j - 1} c LEFT JOIN (
             |    SELECT cluster, list(CAST(s // n AS BIGINT) ORDER BY pos) AS cw FROM s$j GROUP BY 1) nc
             |    USING (cluster))""".stripMargin)
        else Nil
      assign ++ update
    }
    head ++ rounds
  }

  private def bpeEncodeOracle(rounds: Int): String =
    (bpeCtes(rounds, finalRepr = true) ++ Seq(
      s"cnts AS (SELECT word, len(string_split(s, chr(1)||chr(1))) AS n_sub FROM d$rounds)",
      "dtok AS (SELECT doc_id, unnest(string_split(text,' ')) AS word FROM documents)",
      "enc AS (SELECT doc_id, COUNT(*) AS n_words, CAST(SUM(n_sub) AS BIGINT) AS n_subwords FROM dtok JOIN cnts USING (word) GROUP BY 1)"))
      .mkString(",\n") +
      """
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, n_subwords,
        |  CAST(n_subwords AS DOUBLE) / CAST(n_words AS DOUBLE) AS ratio
        |FROM enc ORDER BY doc_id""".stripMargin
}
