package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every SQL-expressible query has a DuckDB oracle in OracleSql (identical
  * aliases / ordering / rounding — see the determinism contract there).
  * Rows-only queries (no oracle): ALS fit/score/recommend (not
  * SQL-expressible), IVF ANN + SemDeDup (KMeans quantizer), PQ ANN
  * (iterative Lloyd codebooks), Spark's
  * built-in approx sketches (Murmur/xxHash internals), and the stubbed
  * multimodal decode. The deterministic sketch paths — minhash, simhash
  * (incl. banding), hyperplane LSH buckets/top-k/near-dup, the
  * rolling-hash fingerprint, and the SharedHash-based count_min /
  * hll_regs (estimator included) — are all hash-checked.
  */
object SparkEntry {

  /** Flagship: the reference's collab-filtering pipeline (train → predict →
    * join actual/predicted) on the sf0.001 events table. */
  def entry(spark: SparkSession): DataFrame =
    CollabEvents.entryFrame(spark, "/root/testdata/sf0.001")

  /** Several operators cache intermediate frames (shingle passes, ALS
    * inputs) and the harness runs all ~200 queries in one session —
    * unreleased cache blocks accumulate until eviction thrash slows every
    * later query (~2× total observed). Each query therefore drops the
    * previous query's cache at construction time; its own caches are
    * created after the clear. clearCache() misses the localCheckpointed
    * results of earlier queries, which [[graft.State.releaseStrays]]
    * drops (its scaladoc and [[graft.State]]'s single-consumer contract
    * say what that costs a caller holding an earlier result); memoized
    * frames and resident artifacts survive. */
  private def fresh(fn: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame =
    (s, d) => {
      s.sqlContext.clearCache()
      State.releaseStrays(s)
      fn(s, d)
    }

  /** One entry per implemented operator from SURVEY.md §2 (+ the
    * training-data-pipeline extensions). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    queries0.map { case (k, f) => k -> fresh(f) }

  private def queries0: Map[String, (SparkSession, String) => DataFrame] = Map(
    // relational surface (SURVEY §2.2-2.8)
    "q_agg_lineitem" -> (Relational.aggLineitem _),
    "q_sql_text" -> (Relational.sqlSurface _),
    "q_collect_types" -> (Relational.collectTypes _),
    "q_conditional_agg" -> (Relational.conditionalAgg _),
    "q_argmax" -> (Relational.argmaxEvents _),
    "q_filter_prefix" -> (Relational.filterPrefix _),
    "q_split_counts" -> (Relational.splitCounts _),
    "q_hash_split" -> (Relational.hashSplit _),
    "q_rmse_events" -> (Relational.rmseEvents _),
    "q_join_revenue" -> (Relational.joinRevenue _),
    "q_star_join" -> (Relational.starJoinRevenue _),
    "q_semi_join" -> (Relational.semiJoin _),
    "q_full_outer" -> (Relational.fullOuterDaily _),
    "q_anti_join" -> (Relational.antiJoin _),
    "q_window_topk" -> (Relational.windowTopK _),
    "q_topk_agg" -> ((s: SparkSession, d: String) => Relational.topkGrouped(s, d)),
    "q_sort_limit" -> (Relational.sortLimit _),
    "q_rollup_region" -> (Relational.rollupRegion _),
    "q_cube" -> (Relational.cubeOrders _),
    "q_json" -> (Relational.jsonExtract _),
    "q_pivot" -> (Relational.pivotEvents _),
    "q_distinct" -> (Relational.distinctFlags _),
    "q_count_distinct" -> (Relational.countDistinctParts _),
    "q_percentile" -> (Relational.percentiles _),
    "q_approx_percentile" -> (Relational.approxPercentiles _),
    "q_stats_agg" -> (Relational.statsAgg _),
    "q_approx_distinct" -> (Relational.approxDistinctParts _),
    "q_setops" -> (Relational.setOps _),
    "q_case_round" -> (Relational.caseRound _),
    "q_string_funcs" -> (Relational.stringFuncs _),
    "q_date_agg" -> (Relational.dateAgg _),
    "q_report_format" -> (Relational.reportFormat _),
    "q_having" -> (Relational.having _),
    "q_join_filtered" -> (Relational.joinFiltered _),
    "q_sessionize" -> (Relational.sessionize _),
    "q_window_running" -> (Relational.windowRunning _),
    "q_quartiles" -> (Relational.quartiles _),
    "q_time_window" -> (Relational.timeWindowCounts _),
    "q_sliding_window" -> (Relational.slidingWindowCounts _),
    "q_session_window" -> (Relational.sessionWindowAgg _),
    "q_grouping_sets" -> (Relational.groupingSets _),
    "q_window_nav" -> (Relational.windowNavigation _),
    "q_array_funcs" -> (Relational.arrayFuncs _),
    "q_range_frame" -> (Relational.rangeFrame _),
    "q_unpivot" -> (Relational.unpivotMeasures _),
    "q_subquery" -> (Relational.correlatedSubqueries _),
    "q_asof_join" -> (AsOfJoin.eventsAsOf _),
    "q_asof_native" -> (AsOfJoin.eventsAsOfNative _),
    "q_cohort_retention" -> (Analytics.cohortRetention _),
    "q_scd2" -> (Analytics.scd2Documents _),
    "q_upsert" -> (Upsert.documentsUpsert _),
    "q_incr_agg" -> (ViewMaintain.incrementalAgg _),
    "q_upsert_mor" -> (Upsert.documentsUpsertMor _),
    "q_upsert_asof" -> (Upsert.documentsUpsertAsOf _),
    "q_zorder_key" -> (CorpusLayout.zorderKeys _),
    "q_zonemap_scan" -> (graft.sources.ZoneMaps.zonemapScan _),
    "q_profile" -> (Profiler.lineitemProfile _),
    "q_dq_report" -> (DataQuality.qualityReport _),
    "q_iqr_outliers" -> (DataQuality.iqrOutliers _),
    "q_histogram" -> ((s: SparkSession, d: String) => DataQuality.valueHistogram(s, d)),
    "q_funnel" -> (Analytics.funnel _),
    "q_transitions" -> (Analytics.transitions _),
    "q_attribution" -> (Analytics.lastTouchAttribution _),
    "q_checksum" -> ((s: SparkSession, d: String) => DataQuality.segmentChecksums(s, d)),
    "q_gapfill" -> (Analytics.gapFillDaily _),
    "dedup_triangles" -> (Dedup.minhashTriangles _),
    "graph_pagerank" -> (PageRank.dupGraphRank _),
    "graph_dist" -> (Bfs.dupGraphDistance _),
    "q_range_join" -> (RangeJoin.errorContext _),
    "q_range_join_native" -> (graft.plans.RangeJoinNative.errorContextNative _),
    "q_salted_agg" -> (Skew.saltedUserAgg _),
    "q_salted_join" -> (Skew.saltedJoinAgg _),
    // text analysis
    "text_tokens" -> (TextAnalysis.tokenStats _),
    "text_quality" -> (TextAnalysis.qualityScore _),
    "text_langid" -> (TextAnalysis.langId _),
    "text_fingerprint" -> (TextAnalysis.fingerprint _),
    "text_vocab" -> ((s: SparkSession, d: String) => TextAnalysis.vocabulary(s, d)),
    "text_ngrams" -> ((s: SparkSession, d: String) => TextAnalysis.ngramCounts(s, d)),
    "text_rolling_fp" -> (TextAnalysis.rollingFingerprint _),
    "q_sql_custom" -> (TextAnalysis.customSqlSurface _),
    "text_chunks" -> (TextAnalysis.chunk _),
    "text_entropy" -> (TextAnalysis.charEntropy _),
    "dedup_lexical_cosine" -> ((s: SparkSession, d: String) => TermScoring.lexicalCosinePairs(s, d)),
    "dedup_lexical_bound" -> ((s: SparkSession, d: String) =>
      TermScoring.lexicalPairBoundOf(Tables.documents(s, d))),
    "text_collapse_repeats" -> (TextAnalysis.collapseRepeats _),
    "text_segment_dedup" -> (TextAnalysis.segmentDedup _),
    "text_boilerplate" -> ((s: SparkSession, d: String) => TextAnalysis.boilerplateFilter(s, d)),
    "text_postings" -> ((s: SparkSession, d: String) => TextAnalysis.invertedIndex(s, d)),
    "text_postings_indexed" -> ((s: SparkSession, d: String) => TextAnalysis.invertedIndexIndexed(s, d)),
    "text_pmi" -> ((s: SparkSession, d: String) => TermScoring.collocationPmi(s, d)),
    "text_heavy_hitters" -> ((s: SparkSession, d: String) => TextAnalysis.heavyHitters(s, d)),
    "text_heavy_by_lang" -> ((s: SparkSession, d: String) => TextAnalysis.heavyHittersByLang(s, d)),
    "text_quality_gate" -> (TextAnalysis.qualityGateDynamic _),
    "text_gopher_rules" -> (TextAnalysis.gopherRules _),
    "text_count_min" -> (Sketches.countMinProbes _),
    "q_hll_distinct" -> (Sketches.hllDistinct _),
    "q_hll_rollup" -> (Sketches.hllRollup _),
    "q_quantile_sketch" -> ((s: SparkSession, d: String) => Sketches.quantileSketch(s, d)),
    "q_quantile_rollup" -> ((s: SparkSession, d: String) => Sketches.quantileRollup(s, d)),
    "dedup_source_cosine" -> (TermScoring.sourceCosineMatrix _),
    "text_tfidf" -> ((s: SparkSession, d: String) => TermScoring.tfidfTopTerms(s, d)),
    "text_bm25" -> ((s: SparkSession, d: String) => TermScoring.bm25(s, d)),
    "text_search" -> ((s: SparkSession, d: String) => TermScoring.searchConjunctive(s, d)),
    "text_hybrid" -> ((s: SparkSession, d: String) => TermScoring.hybridSearch(s, d)),
    "text_lm_score" -> (TermScoring.lmScore _),
    "text_lm_backoff" -> (TermScoring.lmBackoff _),
    "text_ppl_buckets" -> ((s: SparkSession, d: String) => TermScoring.pplBuckets(s, d)),
    "text_ppl_intake" -> ((s: SparkSession, d: String) => TermScoring.pplIntake(s, d)),
    "text_ppl_intake_indexed" -> (TermScoring.pplIntakeIndexed _),
    "q_pii_redact" -> (Redaction.redactDocuments _),
    "text_bpe_merges" -> (Bpe.merges _),
    "text_bpe_encode" -> (Bpe.encode _),
    "text_bpe_fertility" -> (Bpe.fertilityByLang _),
    "text_bpe_vocab" -> (Bpe.vocab _),
    // dedup
    "dedup_exact" -> (Dedup.exactGroups _),
    "dedup_exact_keep" -> (Dedup.exactKeep _),
    "dedup_exact_policy" -> (Dedup.exactKeepByPolicy _),
    "dedup_canonical" -> (Dedup.canonicalGroups _),
    "dedup_minhash" -> (Dedup.minhashSignatures _),
    "dedup_minhash_pairs" -> (Dedup.minhashPairs _),
    "dedup_containment" -> ((s: SparkSession, d: String) => Dedup.containmentPairs(s, d)),
    "text_repetition" -> (TextAnalysis.repetitionStats _),
    "text_oov" -> ((s: SparkSession, d: String) => TextAnalysis.oovRate(s, d)),
    "text_drift" -> ((s: SparkSession, d: String) => TextAnalysis.tokenDrift(s, d)),
    "dedup_source_matrix" -> (Dedup.sourceDupMatrix _),
    "text_winnow" -> ((s: SparkSession, d: String) => TextAnalysis.winnow(s, d)),
    "dedup_winnow_pairs" -> ((s: SparkSession, d: String) => TextAnalysis.winnowPairs(s, d)),
    "dedup_winnow_probe" -> ((s: SparkSession, d: String) => TextAnalysis.winnowProbe(s, d)),
    "dedup_winnow_probe_indexed" -> ((s: SparkSession, d: String) => TextAnalysis.winnowProbeIndexed(s, d)),
    "dedup_clusters" -> (Dedup.minhashClusters _),
    "dedup_clusters_policy" -> (Dedup.minhashClustersByPolicy _),
    "corpus_curate" -> (Corpus.curateQuery _),
    "corpus_pack" -> (Corpus.packBins _),
    "corpus_mixture" -> (Corpus.mixtureSample _),
    "corpus_stratified" -> (Corpus.stratifiedSample _),
    "corpus_source_cap" -> ((s: SparkSession, d: String) => Corpus.sourceCap(s, d)),
    "corpus_epochs" -> (Corpus.epochMixture _),
    "corpus_pack_offsets" -> (Corpus.packOffsets _),
    "q_kanon" -> ((s: SparkSession, d: String) => DataQuality.kAnonymityReport(s, d)),
    "corpus_curriculum" -> (Corpus.curriculumShards _),
    "corpus_contamination" -> (Corpus.contamination _),
    "corpus_contamination_fuzzy" -> (Corpus.contaminationFuzzy _),
    "corpus_contamination_fuzzy_indexed" -> (Corpus.contaminationFuzzyIndexed _),
    "corpus_dsir" -> (Corpus.dsirSelect _),
    "corpus_dsir_intake" -> (Corpus.dsirIntake _),
    "corpus_dsir_intake_indexed" -> (Corpus.dsirIntakeIndexed _),
    "corpus_front_door" -> (Corpus.frontDoor _),
    "mm_video_meta" -> (Mp4.videoMeta _),
    "mm_video_samples" -> (Mp4.videoSamples _),
    "mm_video_frames" -> (Mp4.videoFrames _),
    "quality_distill" -> (QualityModel.distill _),
    "dedup_group_histogram" -> (Dedup.dupGroupHistogram _),
    "dedup_jaccard_pairs" -> ((s: SparkSession, d: String) => Dedup.jaccardPairs(s, d)),
    "dedup_prefix_join" -> ((s: SparkSession, d: String) => Dedup.prefixJoinPairs(s, d)),
    "dedup_prefix_probe_indexed" -> (Dedup.prefixProbeIndexed _),
    "dedup_clusters_exact" -> (Dedup.exactJoinClusters _),
    "dedup_simhash" -> (Dedup.simhashSignatures _),
    "dedup_editdist" -> ((s: SparkSession, d: String) => Dedup.editDistancePairs(s, d)),
    "dedup_simhash_pairs" -> ((s: SparkSession, d: String) => Dedup.simhashPairs(s, d)),
    "dedup_simhash_lsh" -> (Dedup.simhashLshPairs _),
    "dedup_simhash_lsh64" -> (Dedup.simhashLshPairs64 _),
    "dedup_substring" -> ((s: SparkSession, d: String) => Dedup.substringGramPairs(s, d)),
    "dedup_substring_clean" -> ((s: SparkSession, d: String) => Dedup.substringSpanRemoval(s, d)),
    "dedup_incremental" -> (Dedup.incrementalDedup _),
    "dedup_incremental_indexed" -> (Dedup.incrementalDedupIndexed _),
    "dedup_bloom_gate" -> (BloomGate.incrementalExactTriage _),
    "dedup_bloom_gate_indexed" -> (BloomGate.incrementalExactTriageIndexed _),
    // similarity search
    "ann_topk" -> ((s: SparkSession, d: String) => Similarity.bruteForceTopK(s, d)),
    "ann_lsh" -> ((s: SparkSession, d: String) => Similarity.lshTopK(s, d)),
    "ann_lsh_multiprobe" -> ((s: SparkSession, d: String) => Similarity.lshTopKMultiProbe(s, d)),
    "ann_lsh_buckets" -> (Similarity.lshBuckets _),
    "ann_truncate" -> ((s: SparkSession, d: String) => Similarity.truncatedTopK(s, d)),
    "ann_ivf" -> ((s: SparkSession, d: String) => Similarity.ivfTopK(s, d)),
    "ann_ivf_indexed" -> ((s: SparkSession, d: String) => Similarity.ivfTopKIndexed(s, d)),
    "ann_pq" -> ((s: SparkSession, d: String) => Similarity.pqTopK(s, d)),
    "ann_ivfpq" -> ((s: SparkSession, d: String) => Similarity.ivfPqTopK(s, d)),
    "ann_ivfpq_indexed" -> ((s: SparkSession, d: String) => Similarity.ivfPqTopKIndexed(s, d)),
    "ann_sq8" -> ((s: SparkSession, d: String) => Similarity.sq8TopK(s, d)),
    "ann_filtered" -> ((s: SparkSession, d: String) => Similarity.filteredTopK(s, d)),
    "ann_recall" -> ((s: SparkSession, d: String) => RetrievalQuality.annRecall(s, d)),
    "dedup_pair_recall" -> ((s: SparkSession, d: String) => RetrievalQuality.dedupPairRecall(s, d)),
    "emb_dup_recall" -> ((s: SparkSession, d: String) => RetrievalQuality.embDupRecall(s, d)),
    "emb_dup_pairs" -> ((s: SparkSession, d: String) => Similarity.cosineDupPairs(s, d)),
    // THE near-dup query points at the wide+multiprobe geometry: the r12
    // ×30 A/B (BENCH.md) measured it strictly dominating the original
    // 4×4-bit geometry — 3.7× faster AND 711k vs 433k ppm recall — so the
    // default follows the data (r13 measured decision, same discipline as
    // the r4 pointer-doubling and r9 Bayardo calls). The dominated
    // geometry stays runnable as `_legacy` for the A/B record; the old
    // `emb_dup_lsh_wide_mp` NAME is retired because it would be this very
    // binding run twice (3.4 s/bench, 336 s/×30 sweep of pure
    // duplication) — emb_dup_recall still reports all three geometries.
    "emb_dup_lsh" -> ((s: SparkSession, d: String) => Similarity.cosineDupLsh(s, d, Similarity.BandGeometry.WideMultiProbe)),
    "emb_dup_lsh_legacy" -> ((s: SparkSession, d: String) => Similarity.cosineDupLsh(s, d, Similarity.BandGeometry.Legacy)),
    "emb_dup_lsh_wide" -> ((s: SparkSession, d: String) => Similarity.cosineDupLsh(s, d, Similarity.BandGeometry.Wide)),
    "emb_dup_intake" -> ((s: SparkSession, d: String) => Similarity.cosineDupIntake(s, d)),
    "emb_dup_intake_indexed" -> ((s: SparkSession, d: String) => Similarity.cosineDupIntakeIndexed(s, d)),
    "emb_semdedup" -> ((s: SparkSession, d: String) => Similarity.semDedup(s, d)),
    "emb_dim_stats" -> (EmbeddingStats.dimStats _),
    "emb_gram" -> (EmbeddingStats.gramMatrix _),
    "emb_pca" -> ((s: SparkSession, d: String) => EmbeddingStats.pcaProject(s, d)),
    "emb_whiten" -> ((s: SparkSession, d: String) => EmbeddingStats.pcaWhiten(s, d)),
    // multimodal plumbing (decode stubbed)
    "mm_features" -> (Multimodal.featuresQuery _),
    "mm_ann" -> ((s: SparkSession, d: String) => Multimodal.assetAnn(s, d)),
    "mm_phash" -> (Multimodal.phashSignatures _),
    "mm_dup_pairs" -> ((s: SparkSession, d: String) => Multimodal.mmDupPairs(s, d)),
    "mm_dup_recall" -> ((s: SparkSession, d: String) => RetrievalQuality.mmDupRecall(s, d)),
    "mm_dup_intake" -> (Multimodal.mmDupIntake _),
    "mm_dup_intake_indexed" -> (Multimodal.mmDupIntakeIndexed _),
    "mm_dup_bound" -> (Multimodal.mmDupBound _),
    // audio near-dup family (real javax.sound WAV decode; signatures are
    // exact integers so the whole family hash-checks — AudioDedup)
    "mm_audio_bound" -> (AudioDedup.audioDupBound _),
    "mm_audio_sig" -> (AudioDedup.audioSignatures _),
    "mm_audio_pairs" -> ((s: SparkSession, d: String) => AudioDedup.audioDupPairs(s, d)),
    "mm_audio_sig_anchored" -> (AudioDedup.audioSignaturesAnchored _),
    "mm_audio_pairs_anchored" -> ((s: SparkSession, d: String) => AudioDedup.audioDupPairsAnchored(s, d)),
    "mm_audio_recall" -> ((s: SparkSession, d: String) => RetrievalQuality.audioDupRecall(s, d)),
    "mm_audio_intake" -> (AudioDedup.audioDupIntake _),
    "mm_audio_intake_indexed" -> (AudioDedup.audioDupIntakeIndexed _),
    // ML (ALS — not SQL-expressible, SURVEY §7.4.6)
    "cf_als_rmse" -> ((s: SparkSession, d: String) => CollabEvents.alsRmse(s, d)),
    "cf_als_recommend" -> ((s: SparkSession, d: String) => CollabEvents.alsRecommend(s, d)),
    "cf_als_score_saved" -> ((s: SparkSession, d: String) => CollabEvents.alsScoreFromSaved(s, d))
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = OracleSql.sql

  /** Session warmup: the standing-artifact builds (text/ANN/BPE indexes,
    * curation verdicts, saved ALS model) plus one aggregate + one window
    * query for JIT/codegen. A deployment builds these once and probes
    * forever, so timed runs (Bench; Verify under SPARK_GRAFT_WARMUP=1,
    * which scalecheck sets for steady-state scale ratios) charge them to
    * warmup, not to whichever query happens to run first.
    * ann_ivfpq_indexed and text_bpe_merges are listed even though
    * siblings share their roots — their first codebook/merges parquet
    * reads otherwise land in timed pass 1 (observed 3× skew);
    * quality_distill and cf_als_score_saved pre-build the verdicts and
    * model artifacts the same way. Every `_indexed` probe belongs here:
    * omitting one inverts its measured story (r12 ×10 addendum —
    * corpus_contamination_fuzzy_indexed read 18.05 s vs the direct twin's
    * 5.04 s purely because the timed run paid the one-time standing-index
    * build). */
  val warmupQueries: Seq[String] = Seq(
    "q_agg_lineitem", "q_window_running", "q_sort_limit",
    "dedup_bloom_gate_indexed", "dedup_prefix_probe_indexed",
    "dedup_winnow_probe_indexed", "text_postings_indexed",
    "ann_ivf_indexed", "ann_ivfpq_indexed", "emb_dup_intake_indexed",
    "mm_dup_intake_indexed", "mm_audio_intake_indexed",
    "corpus_dsir_intake_indexed",
    "text_ppl_intake_indexed", "corpus_contamination_fuzzy_indexed",
    "dedup_incremental_indexed", "corpus_front_door",
    "text_bpe_merges", "quality_distill", "cf_als_score_saved")
}
