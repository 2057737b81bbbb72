package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.events.TestDataAdapter
import graft.analytics._
import graft.pipeline._

/** Driver contract — see /root/repo/SURVEY.md §2 for the key inventory.
  * Every implemented operator has a `queries` entry; every
  * SQL-expressible one has a matching DuckDB `oracleSql` entry whose
  * column names/aliases match the Spark output exactly. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Applications.appList(
      TestDataAdapter.canonical(spark, "/root/testdata/sf0.001"))

  private def canon(s: SparkSession, dir: String): DataFrame =
    TestDataAdapter.canonical(s, dir)

  /** Canonical-frame dump (parse + typed hot-field extraction).
    * `event_time` (timestamp) is excluded: the raw table is ns-precision
    * while Spark truncates to micros; `event_time_us` carries the
    * cross-engine-exact value. */
  private def eventsParse(s: SparkSession, dir: String): DataFrame =
    canon(s, dir).select(
      col("event_id"), col("app_id"), col("attempt_id"), col("event_type"),
      col("event_time_us"), col("event_date"), col("job_id"),
      col("stage_id"), col("task_id"), col("duration_ms"),
      col("executor_id"), col("host"), col("cores"), col("max_memory"),
      col("run_time_ms"), col("cpu_time_ns"), col("gc_time_ms"),
      col("input_bytes"), col("output_bytes"), col("shuffle_read_bytes"),
      col("shuffle_write_bytes"), col("memory_spilled_bytes"),
      col("disk_spilled_bytes"), col("peak_memory_bytes"),
      col("jvm_heap_bytes"), col("locality"), col("end_reason"),
      col("app_user"), col("spark_version"), col("app_name"))
      .orderBy("event_id")

  private val eventsParseOracle: String = TestDataAdapter.canonCte + """
SELECT event_id, app_id, attempt_id, event_type, event_time_us, event_date, job_id,
       stage_id, task_id, duration_ms, executor_id, host, cores,
       max_memory, run_time_ms, cpu_time_ns, gc_time_ms, input_bytes,
       output_bytes, shuffle_read_bytes, shuffle_write_bytes,
       memory_spilled_bytes, disk_spilled_bytes, peak_memory_bytes,
       jvm_heap_bytes, locality, end_reason, app_user, spark_version,
       app_name
FROM canon
ORDER BY event_id"""

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_parse" -> eventsParse _,
    "app_list" -> ((s, d) => Applications.appList(canon(s, d),
      Some("2024-01-05"), Some("2024-01-25"), 100)),
    "app_events" -> ((s, d) => Applications.appEvents(canon(s, d), "app-7")),
    "app_events_raw" -> ((s, d) => Applications.appEventsRaw(canon(s, d), "app-7")),
    "app_attempts" -> ((s, d) => Applications.appAttempts(canon(s, d))),
    "api_applications" -> ((s, d) => Applications.apiApplications(canon(s, d))),
    "api_health" -> ((s, d) => graft.api.HistoryServerApi.health(canon(s, d))),
    "store_stats" -> ((s, d) => graft.api.HistoryServerApi.storeStats(canon(s, d))),
    "app_jobs" -> ((s, d) => JobsStages.appJobs(canon(s, d))),
    "app_storage" -> ((s, d) => Storage.appStorage(canon(s, d))),
    "app_stages" -> ((s, d) => JobsStages.appStages(canon(s, d))),
    "task_quantiles" -> ((s, d) => JobsStages.taskQuantiles(canon(s, d))),
    "stage_quantiles" -> ((s, d) => JobsStages.stageQuantiles(canon(s, d))),
    "straggler_stages" -> ((s, d) => Diagnostics.stragglerStages(canon(s, d))),
    "executor_timeline" -> ((s, d) => Diagnostics.executorTimeline(canon(s, d))),
    "executor_churn" -> ((s, d) => Diagnostics.executorChurn(canon(s, d))),
    "app_duration_quantiles" -> ((s, d) =>
      CrossApp.appDurationQuantiles(canon(s, d))),
    "user_sessions" -> ((s, d) => Diagnostics.userSessions(canon(s, d))),
    "task_executor_asof" -> ((s, d) => Diagnostics.taskExecutorAsof(canon(s, d))),
    "executor_task_range" -> ((s, d) => Diagnostics.executorTaskRange(canon(s, d))),
    "critical_path" -> ((s, d) => Diagnostics.criticalPath(canon(s, d))),
    "concurrency_profile" -> ((s, d) =>
      Diagnostics.concurrencyProfile(canon(s, d))),
    "host_hotspots" -> ((s, d) => Diagnostics.hostHotspots(canon(s, d))),
    "app_idle_gaps" -> ((s, d) => Diagnostics.appIdleGaps(canon(s, d))),
    "shuffle_skew" -> ((s, d) => Diagnostics.shuffleSkew(canon(s, d))),
    "spill_stages" -> ((s, d) => Diagnostics.spillStages(canon(s, d))),
    "attempt_regression" -> ((s, d) => Diagnostics.attemptRegression(canon(s, d))),
    "failure_breakdown" -> ((s, d) => Diagnostics.failureBreakdown(canon(s, d))),
    "locality_breakdown" -> ((s, d) => Diagnostics.localityBreakdown(canon(s, d))),
    "resource_usage" -> ((s, d) => Resources.resourceUsage(canon(s, d))),
    "executor_summary" -> ((s, d) => Resources.executorSummary(canon(s, d))),
    "perf_trends" -> ((s, d) => Trends.perfTrends(canon(s, d))),
    // date-windowed analytics-route variant (AnalyticsQuery params)
    "perf_trends_window" -> ((s, d) => Trends.perfTrends(canon(s, d),
      minDate = Some("2024-01-08"), maxDate = Some("2024-01-18"))),
    "gc_trends" -> ((s, d) => Trends.gcTrends(canon(s, d))),
    "cpu_util" -> ((s, d) => Trends.cpuUtil(canon(s, d))),
    "mem_usage" -> ((s, d) => Trends.memUsage(canon(s, d))),
    "capacity_trends" -> ((s, d) => Trends.capacityTrends(canon(s, d))),
    "usage_heatmap" -> ((s, d) => Trends.usageHeatmap(canon(s, d))),
    "cross_app_summary" -> ((s, d) => CrossApp.crossAppSummary(canon(s, d))),
    "task_distribution" -> ((s, d) => CrossApp.taskDistribution(canon(s, d))),
    "executor_utilization" -> ((s, d) => CrossApp.executorUtilization(canon(s, d))),
    "app_daily_active" -> ((s, d) => CrossApp.appDailyActive(canon(s, d))),
    "app_funnel" -> ((s, d) => CrossApp.appFunnel(canon(s, d))),
    "app_retention" -> ((s, d) => CrossApp.appRetention(canon(s, d))),
    "resource_util_metrics" -> ((s, d) => CrossApp.resourceUtilMetrics(canon(s, d))),
    "resource_hogs" -> ((s, d) => Optimization.resourceHogs(canon(s, d))),
    "efficiency_analysis" -> ((s, d) => Optimization.efficiencyAnalysis(canon(s, d))),
    "cost_optimization" -> ((s, d) => Optimization.costOptimization(canon(s, d))),
    "text_stats" -> ((s, d) => TextAnalysis.textStats(docs(s, d))),
    "readability" -> ((s, d) => TextAnalysis.readability(docs(s, d))),
    "langid_margin" -> ((s, d) => TextAnalysis.langidMargin(docs(s, d))),
    "dedup_curve_by_source" -> ((s, d) => Dedup.dedupCurveBySource(docs(s, d))),
    "dedup_normalized" -> ((s, d) => Dedup.dedupNormalized(docs(s, d))),
    "drop_provenance" -> ((s, d) => Dedup.dropProvenance(docs(s, d))),
    "minhash_band_sweep" -> ((s, d) => Dedup.minhashBandSweep(docs(s, d))),
    "minhash_recall_sample" -> ((s, d) => Dedup.minhashRecallSample(docs(s, d))),
    "simhash_recall_sample" -> ((s, d) => Dedup.simhashRecallSample(docs(s, d))),
    "media_qa" -> ((s, d) => Multimodal.mediaQa(docs(s, d))),
    "sentence_dedup" -> ((s, d) => TextAnalysis.sentenceDedup(docs(s, d))),
    "dedup_transitivity" -> ((s, d) => Dedup.dedupTransitivity(docs(s, d))),
    "cluster_source_mix" -> ((s, d) => Clustering.clusterSourceMix(docs(s, d))),
    "event_rate_anomalies" -> ((s, d) => Trends.eventRateAnomalies(canon(s, d))),
    "event_mix_drift" -> ((s, d) => Trends.eventMixDrift(canon(s, d))),
    "ann_recall_sweep" -> ((s, d) =>
      Embeddings.annRecallSweep(emb(s, d), annQueries(s, d))),
    "snapshot_diff" -> ((s, d) =>
      Dedup.snapshotDiff(docs(s, d).filter(col("doc_id") % 2 === 0), docs(s, d))),
    "ann_rerank" -> ((s, d) => Embeddings.annRerank(emb(s, d), annQueries(s, d))),
    "scene_cuts" -> ((s, d) =>
      Multimodal.sceneCuts(docs(s, d), frameBytes = 64, stride = 2)),
    "length_quantiles" -> ((s, d) => TextAnalysis.lengthQuantiles(docs(s, d))),
    "length_histogram" -> ((s, d) => TextAnalysis.lengthHistogram(docs(s, d))),
    "lang_id" -> ((s, d) => TextAnalysis.langId(docs(s, d))),
    "lang_confusion" -> ((s, d) => TextAnalysis.langConfusion(docs(s, d))),
    "token_fertility" -> ((s, d) => TextAnalysis.tokenFertility(docs(s, d))),
    "context_truncation_sweep" -> ((s, d) =>
      TextAnalysis.contextTruncationSweep(docs(s, d))),
    "vocab_coverage_curve" -> ((s, d) =>
      TextAnalysis.vocabCoverageCurve(docs(s, d))),
    "length_quality_matrix" -> ((s, d) =>
      TextAnalysis.lengthQualityMatrix(docs(s, d))),
    "encoding_quality" -> ((s, d) => TextAnalysis.encodingQuality(docs(s, d))),
    "blocklist_filter" -> ((s, d) => TextAnalysis.blocklistFilter(docs(s, d))),
    "quality_drift" -> ((s, d) => TextAnalysis.qualityDrift(docs(s, d))),
    "quality_score" -> ((s, d) => TextAnalysis.qualityScore(docs(s, d))),
    "quality_sweep" -> ((s, d) => TextAnalysis.qualitySweep(docs(s, d))),
    "fingerprint" -> ((s, d) => TextAnalysis.fingerprint(docs(s, d))),
    "winnow_fingerprints" -> ((s, d) =>
      TextAnalysis.winnowFingerprints(docs(s, d)).orderBy("doc_id", "fp_pos")),
    "winnow_density" -> ((s, d) => TextAnalysis.winnowDensity(docs(s, d))),
    "winnow_overlap" -> ((s, d) => TextAnalysis.winnowOverlap(docs(s, d))),
    // Every *_incr key builds its corpus state from text with the
    // state's own builder and pins it once (localCheckpoint), the
    // stand-in for a maintained store: operators take state only.
    "winnow_overlap_incr" -> ((s, d) => TextAnalysis.winnowOverlapIncremental(
      TextAnalysis.winnowFingerprints(docs(s, d).filter(col("doc_id") < 400))
        .localCheckpoint(),
      docs(s, d).filter(col("doc_id") >= 400))),
    "tfidf_terms" -> ((s, d) => TextAnalysis.tfidfTerms(docs(s, d))),
    "template_prefixes" -> ((s, d) => TextAnalysis.templatePrefixes(docs(s, d))),
    "split_assign" -> ((s, d) => Sampling.splitAssign(docs(s, d))),
    "shard_pack" -> ((s, d) => Sampling.shardPack(docs(s, d))),
    "train_order" -> ((s, d) => Sampling.trainOrder(docs(s, d))),
    "similar_docs" -> ((s, d) => Dedup.similarDocs(docs(s, d))),
    "snapshot_chunk_diff" -> ((s, d) =>
      Dedup.snapshotChunkDiff(docs(s, d).filter(col("doc_id") % 2 === 0),
        docs(s, d))),
    "detector_semantic_pr" -> ((s, d) =>
      Dedup.detectorSemanticPr(docs(s, d), emb(s, d))),
    "bloom_fp_calibration" -> ((s, d) => Dedup.bloomFpCalibration(docs(s, d))),
    "ann_filtered" -> ((s, d) =>
      Embeddings.annFiltered(emb(s, d), annQueries(s, d))),
    "pack_stats" -> ((s, d) => Sampling.packStats(docs(s, d))),
    "seq_pack" -> ((s, d) => Sampling.seqPack(docs(s, d))),
    "pack_padding_sweep" -> ((s, d) => Sampling.packPaddingSweep(docs(s, d))),
    "source_mix" -> ((s, d) => Sampling.sourceMix(docs(s, d))),
    "source_lang_mix" -> ((s, d) => Sampling.sourceLangMix(docs(s, d))),
    "mix_resample" -> ((s, d) => Sampling.mixResample(docs(s, d))),
    "mix_temperature" -> ((s, d) => Sampling.mixTemperature(docs(s, d))),
    "mix_epochs" -> ((s, d) => Sampling.mixEpochs(docs(s, d))),
    // the synthetic corpus carries no PII, so at any SF this key
    // proves cross-engine regex parity on the no-op path; the
    // operator's redaction behavior is pinned by PipelineSpec on a
    // PII-bearing fixture
    "pii_scrub" -> ((s, d) => TextAnalysis.piiScrub(docs(s, d))),
    "chunk_passages" -> ((s, d) => TextAnalysis.chunkPassages(docs(s, d))),
    "passage_dedup" -> ((s, d) => TextAnalysis.passageDedup(docs(s, d))),
    "lexical_rarity" -> ((s, d) => TextAnalysis.lexicalRarity(docs(s, d))),
    "corpus_report" -> ((s, d) => TextAnalysis.corpusReport(docs(s, d))),
    "vocab_topk" -> ((s, d) => TextAnalysis.vocabTopk(docs(s, d))),
    "source_ngram_diversity" -> ((s, d) =>
      TextAnalysis.sourceNgramDiversity(docs(s, d))),
    "lang_purity" -> ((s, d) => TextAnalysis.langPurity(docs(s, d))),
    "source_divergence" -> ((s, d) =>
      TextAnalysis.sourceDivergence(docs(s, d))),
    "oov_rate" -> ((s, d) => TextAnalysis.oovRate(docs(s, d))),
    "bpe_pair_stats" -> ((s, d) => TextAnalysis.bpePairStats(docs(s, d))),
    "bpe_merges" -> ((s, d) => TextAnalysis.bpeMerges(docs(s, d))),
    "bpe_encode" -> ((s, d) => TextAnalysis.bpeEncode(docs(s, d))),
    "vocab_growth" -> ((s, d) => TextAnalysis.vocabGrowth(docs(s, d))),
    "zipf_points" -> ((s, d) => TextAnalysis.zipfPoints(docs(s, d))),
    "pmi_terms" -> ((s, d) => TextAnalysis.pmiTerms(docs(s, d))),
    "bm25_search" -> ((s, d) => TextAnalysis.bm25Search(docs(s, d))),
    "dup_quality_profile" -> ((s, d) => TextAnalysis.dupQualityProfile(docs(s, d))),
    "signal_correlations" -> ((s, d) => TextAnalysis.signalCorrelations(docs(s, d))),
    "quality_rules" -> ((s, d) => TextAnalysis.qualityRules(docs(s, d))),
    "rule_overlap_matrix" -> ((s, d) => TextAnalysis.ruleOverlapMatrix(docs(s, d))),
    "curation_sample" -> ((s, d) => Sampling.curationSample(docs(s, d))),
    // The composed five-stage pipeline (quality gate -> exact dedup ->
    // near-dup survivors -> split -> shard pack) as ONE dataflow; its
    // oracle composes the same factored CTE fragments end-to-end.
    "curate_corpus" -> ((s, d) => Curation.curateCorpus(docs(s, d))),
    // decontamination harness split: docs % 20 == 0 play the eval
    // benchmark, the rest are training candidates
    "contamination" -> ((s, d) => Decontamination.benchmarkOverlap(
      Dedup.shingles(docs(s, d).filter(col("doc_id") % 20 === 0))
        .localCheckpoint(),
      docs(s, d).filter(col("doc_id") % 20 =!= 0))),
    "contamination_normalized" -> ((s, d) =>
      Decontamination.benchmarkOverlapNormalized(
        docs(s, d).filter(col("doc_id") % 20 =!= 0),
        docs(s, d).filter(col("doc_id") % 20 === 0))),
    "contamination_source_rates" -> ((s, d) =>
      Decontamination.contaminationSourceRates(
        docs(s, d).filter(col("doc_id") % 20 =!= 0),
        docs(s, d).filter(col("doc_id") % 20 === 0))),
    "contamination_minhash" -> ((s, d) =>
      Decontamination.contaminationMinhash(
        docs(s, d).filter(col("doc_id") % 20 =!= 0),
        docs(s, d).filter(col("doc_id") % 20 === 0))),
    "pii_source_rates" -> ((s, d) => TextAnalysis.piiSourceRates(docs(s, d))),
    "dedup_cross_lang" -> ((s, d) => Dedup.dedupCrossLang(docs(s, d))),
    "novelty_score" -> ((s, d) => TextAnalysis.noveltyScore(docs(s, d))),
    "repetition_score" -> ((s, d) => TextAnalysis.repetitionScore(docs(s, d))),
    "span_dedup" -> ((s, d) => TextAnalysis.spanDedup(docs(s, d))),
    "lm_surprisal" -> ((s, d) => TextAnalysis.lmSurprisal(docs(s, d))),
    "dsir_weights" -> ((s, d) => TextAnalysis.dsirWeights(docs(s, d))),
    "dsir_select" -> ((s, d) => TextAnalysis.dsirSelect(docs(s, d))),
    "span_trim" -> ((s, d) => TextAnalysis.spanTrim(docs(s, d))),
    "span_dedup_incr" -> ((s, d) => TextAnalysis.spanDedupIncremental(
      TextAnalysis.spanGramCounts(docs(s, d).filter(col("doc_id") < 400))
        .localCheckpoint(),
      docs(s, d).filter(col("doc_id") >= 400))),
    "surprisal_buckets" -> ((s, d) => TextAnalysis.surprisalBuckets(docs(s, d))),
    "dedup_exact" -> ((s, d) => Dedup.dedupExact(docs(s, d))),
    "dedup_curve" -> ((s, d) => Dedup.dedupCurve(docs(s, d))),
    "cdc_chunk_dedup" -> ((s, d) => Dedup.cdcChunkDedup(docs(s, d))),
    "boilerplate_chunks" -> ((s, d) => Dedup.boilerplateChunks(docs(s, d))),
    "cdc_chunk_trim" -> ((s, d) => Dedup.cdcChunkTrim(docs(s, d))),
    "cdc_chunk_size_hist" -> ((s, d) => Dedup.cdcChunkSizeHist(docs(s, d))),
    // Incremental CDC: batch = the dedup_exact_incr harness transform
    // ([[arrivals]])
    "cdc_chunk_dedup_incr" -> ((s, d) => {
      val dd = docs(s, d)
      Dedup.cdcChunkDedupIncremental(Dedup.cdcChunkStore(dd).localCheckpoint(),
        arrivals(dd))
    }),
    "dedup_threshold_sweep" -> ((s, d) => Dedup.dedupThresholdSweep(docs(s, d))),
    "minhash_calibration" -> ((s, d) => Dedup.minhashCalibration(docs(s, d))),
    "minhash_scurve" -> ((s, _) => Dedup.minhashScurve(s)),
    "dedup_ngram_fast" -> ((s, d) => Dedup.dedupNgramFast(docs(s, d))),
    "dedup_ngram" -> ((s, d) => Dedup.dedupNgram(docs(s, d))),
    // Incremental shape: docs >= 400 are "today's batch" against the
    // older corpus; output = full-run pairs touching the batch.
    "dedup_containment" -> ((s, d) => Dedup.dedupContainment(docs(s, d))),
    "dup_source_matrix" -> ((s, d) => Dedup.dupSourceMatrix(docs(s, d))),
    "source_overlap" -> ((s, d) => Dedup.sourceOverlapSketch(docs(s, d))),
    "dedup_pair_venn" -> ((s, d) => Dedup.dedupPairVenn(docs(s, d))),
    "dedup_token_savings" -> ((s, d) => Dedup.dedupTokenSavings(docs(s, d))),
    "gram_df_spectrum" -> ((s, d) => Dedup.gramDfSpectrum(docs(s, d))),
    "dup_degree_hist" -> ((s, d) => Dedup.dupDegreeHist(docs(s, d))),
    "source_gram_overlap" -> ((s, d) => Dedup.sourceGramOverlap(docs(s, d))),
    "dedup_ngram_incr" -> ((s, d) => {
      val corpusSh = Dedup.shingles(docs(s, d).filter(col("doc_id") < 400))
        .localCheckpoint()
      Dedup.dedupNgramIncremental(corpusSh, Dedup.gramDfDelta(corpusSh),
        docs(s, d).filter(col("doc_id") >= 400))
    }),
    // Exact-dup arrival harness: batch = [[arrivals]]; corpus = the
    // full table.
    "dedup_exact_incr" -> ((s, d) => {
      val dd = docs(s, d)
      Dedup.dedupExactIncremental(Dedup.bloomWords(dd).localCheckpoint(),
        Dedup.contentHashes(dd).localCheckpoint(), arrivals(dd))
    }),
    "dedup_minhash_incr" -> ((s, d) => {
      val corpus = docs(s, d).filter(col("doc_id") < 400)
      Dedup.dedupMinhashIncremental(Dedup.shingles(corpus).localCheckpoint(),
        Dedup.minhashSignatures(corpus).localCheckpoint(),
        docs(s, d).filter(col("doc_id") >= 400))
    }),
    "dedup_minhash" -> ((s, d) => Dedup.dedupMinhash(docs(s, d))),
    // Native whole-signature expression: signatures as a pure
    // projection; same oracle as `dedup_minhash` (identical buckets).
    "dedup_minhash_expr" -> ((s, d) => Dedup.dedupMinhashExpr(docs(s, d))),
    // Wide-signature run (32 hashes / 8 bands): the r10 width
    // parameterization exercised end-to-end at a non-default split.
    "dedup_minhash_wide" -> ((s, d) =>
      Dedup.dedupMinhashExpr(docs(s, d), numHashes = 32, bands = 8)),
    // At 32 bits the fingerprint pass is the native simhash_fp
    // projection; the oracle re-derives it from poly gram ids.
    "dedup_simhash" -> ((s, d) => Dedup.dedupSimhash(docs(s, d))),
    // 64-bit scale-mode simhash through the FULL hash gate:
    // fingerprints/bands/hamming re-derived in SQL at width 64
    "dedup_simhash_wide" -> ((s, d) =>
      Dedup.dedupSimhash(docs(s, d), fpBits = 64)),
    "dedup_simhash_incr" -> ((s, d) => Dedup.dedupSimhashIncremental(
      Dedup.simhashFingerprints(docs(s, d).filter(col("doc_id") < 400))
        .localCheckpoint(),
      docs(s, d).filter(col("doc_id") >= 400))),
    // Duplicate GROUPS: connected components over the verified
    // near-dup pair graph (survivor = min doc_id per component).
    "dedup_clusters" -> ((s, d) => Clustering.dedupClusters(docs(s, d))),
    "cluster_weights" -> ((s, d) => Clustering.clusterWeights(docs(s, d))),
    "kmv_cardinality" -> ((s, d) => Dedup.kmvCardinality(docs(s, d))),
    // Incremental-cluster harness: the verified pair set splits into
    // OLD pairs (neither endpoint in the arriving residue class) whose
    // clusters are pre-built, and BATCH pairs (at least one arriving
    // endpoint) folded in incrementally — the result must be
    // bit-identical to the full run, so the oracle is dedup_clusters'
    // own closure chain verbatim.
    "dedup_clusters_incr" -> ((s, d) => {
      val all = Dedup.dedupNgram(docs(s, d)).select("doc_a", "doc_b").cache()
      val oldP = all.filter(col("doc_a") % 10 =!= 0 && col("doc_b") % 10 =!= 0)
      val batchP = all.filter(col("doc_a") % 10 === 0 || col("doc_b") % 10 === 0)
      Clustering.dedupClustersIncremental(
        Clustering.connectedComponents(oldP), batchP)
    }),
    "cluster_sizes" -> ((s, d) => Clustering.clusterSizes(docs(s, d))),
    "cluster_canonical" -> ((s, d) => Clustering.clusterCanonical(docs(s, d))),
    "dedup_embedding" -> ((s, d) => Embeddings.dedupEmbedding(emb(s, d))),
    "dedup_embedding_incr" -> ((s, d) => Embeddings.dedupEmbeddingIncremental(
      Embeddings.quantizedIndex(emb(s, d).filter(col("vec_id") < 400))
        .localCheckpoint(),
      emb(s, d).filter(col("vec_id") >= 400))),
    // The kNN/SemDeDup family defaults to AutoCentroids (sqrt-N cell
    // sizing); the harness pins 32 so the oracle's 32-cell codebook
    // CTE stays byte-stable at every scale factor.
    "knn_graph" -> ((s, d) =>
      Embeddings.knnGraph(emb(s, d), numCentroids = 32)),
    // The shipped DEFAULT (AutoCentroids = max(32, sqrt N) cells):
    // benched alongside the pinned-32 oracle shape so the committed
    // numbers cover the path a library user actually runs; the oracle
    // derives the same codebook size from COUNT(*) via a
    // scalar-subquery LIMIT.
    "knn_graph_default" -> ((s, d) => Embeddings.knnGraph(emb(s, d))),
    "semantic_clusters_default" -> ((s, d) =>
      Embeddings.semanticClusters(emb(s, d))),
    "semantic_clusters" -> ((s, d) =>
      Embeddings.semanticClusters(emb(s, d), numCentroids = 32)),
    "semantic_survivors" -> ((s, d) =>
      Embeddings.semanticSurvivors(docs(s, d), emb(s, d), numCentroids = 32)),
    "semantic_prune" -> ((s, d) =>
      Embeddings.dedupSemantic(emb(s, d), numCentroids = 32)),
    "rp_distortion" -> ((s, d) => Embeddings.rpDistortion(emb(s, d))),
    "int8_distortion" -> ((s, d) => Embeddings.int8Distortion(emb(s, d))),
    "cluster_silhouette" -> ((s, d) =>
      Embeddings.clusterSilhouette(emb(s, d), numCentroids = 32)),
    "hard_negatives" -> ((s, d) =>
      Embeddings.hardNegatives(emb(s, d), numCentroids = 32)),
    "knn_label_prop" -> ((s, d) =>
      Embeddings.knnLabelProp(emb(s, d), numCentroids = 32)),
    "source_centroid_drift" -> ((s, d) =>
      Embeddings.sourceCentroidDrift(docs(s, d), emb(s, d))),
    "knn_hubness" -> ((s, d) =>
      Embeddings.knnHubness(emb(s, d), numCentroids = 32)),
    "emb_outliers" -> ((s, d) => Embeddings.embOutliers(emb(s, d))),
    "knn_mutuality" -> ((s, d) =>
      Embeddings.knnMutuality(emb(s, d), numCentroids = 32)),
    "embedding_threshold_sweep" -> ((s, d) =>
      Embeddings.embeddingThresholdSweep(emb(s, d))),
    "knn_pagerank" -> ((s, d) =>
      Embeddings.knnPagerank(emb(s, d), numCentroids = 32)),
    "ivf_probe_sweep" -> ((s, d) =>
      Embeddings.ivfProbeSweep(emb(s, d), annQueries(s, d))),
    "emb_label_stats" -> ((s, d) => Embeddings.labelStats(emb(s, d))),
    "emb_principal" -> ((s, d) => Embeddings.principalDirection(emb(s, d))),
    "emb_dim_variance" -> ((s, d) => Embeddings.embDimVariance(emb(s, d))),
    "diversity_sample" -> ((s, d) =>
      Embeddings.diversitySample(emb(s, d), numCentroids = 32)),
    "pq_recall" -> ((s, d) => Embeddings.pqRecall(emb(s, d), annQueries(s, d))),
    "topic_purity" -> ((s, d) => Embeddings.topicPurity(docs(s, d), emb(s, d))),
    "topic_clusters" -> ((s, d) => Embeddings.topicClusters(emb(s, d))),
    "lexical_vs_embedding" -> ((s, d) =>
      Embeddings.lexicalVsEmbedding(docs(s, d), emb(s, d))),
    "split_leakage" -> ((s, d) => Sampling.splitLeakage(docs(s, d))),
    "cluster_split" -> ((s, d) => Sampling.clusterSplit(docs(s, d))),
    "embedding_coverage" -> ((s, d) =>
      Embeddings.embeddingCoverage(docs(s, d), emb(s, d))),
    "emb_norm_quantiles" -> ((s, d) => Embeddings.embNormQuantiles(emb(s, d))),
    "semantic_drift" -> ((s, d) => Embeddings.semanticDrift(emb(s, d))),
    "ann_topk" -> ((s, d) => Embeddings.annTopK(emb(s, d), annQueries(s, d))),
    "ann_lsh" -> ((s, d) => Embeddings.annLsh(emb(s, d), annQueries(s, d))),
    "ann_ivf" -> ((s, d) => Embeddings.annIvf(emb(s, d), annQueries(s, d))),
    "ann_ivf_trained" -> ((s, d) => Embeddings.annIvf(emb(s, d), annQueries(s, d),
      trainedCentroids = Some(Embeddings.trainCentroids(emb(s, d), iters = 1)))),
    "ann_pq" -> ((s, d) => Embeddings.annPq(emb(s, d), annQueries(s, d))),
    "pq_distortion" -> ((s, d) => Embeddings.pqDistortion(emb(s, d))),
    "ann_ivf_pq" -> ((s, d) => Embeddings.annIvfPq(emb(s, d), annQueries(s, d))),
    "ann_recall" -> ((s, d) => Embeddings.annRecall(emb(s, d), annQueries(s, d))),
    "matryoshka_recall" -> ((s, d) =>
      Embeddings.matryoshkaRecall(emb(s, d), annQueries(s, d))),
    "bq_recall" -> ((s, d) =>
      Embeddings.bqRecall(emb(s, d), annQueries(s, d))),
    "int8_recall" -> ((s, d) =>
      Embeddings.int8Recall(emb(s, d), annQueries(s, d))),
    // hybrid more-like-this for probe doc 0: lexical shingle-Jaccard
    // rank fused with embedding-cosine rank by reciprocal-rank fusion
    "hybrid_search" -> ((s, d) =>
      Embeddings.hybridSearch(docs(s, d), emb(s, d))),
    "multimodal_features" -> ((s, d) => Multimodal.multimodalFeatures(docs(s, d))),
    "frame_sample" -> ((s, d) =>
      Multimodal.frameSample(docs(s, d), frameBytes = 64, stride = 2)),
    "frame_dedup" -> ((s, d) =>
      Multimodal.frameDedup(docs(s, d), frameBytes = 64, stride = 2)),
    "frame_dedup_near" -> ((s, d) =>
      Multimodal.frameDedupNear(docs(s, d), frameBytes = 64, stride = 2))
  )

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")
  /** The exact/CDC arrival batch: verbatim shifted-id copies of every
    * 5th doc (true dups) + tail-perturbed copies of the next residue
    * class (non-dups), ids above the corpus so keep-first favors it. */
  private def arrivals(dd: DataFrame): DataFrame =
    dd.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .unionByName(dd.filter(col("doc_id") % 5 === 1)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" zzz")).as("text")))
  /** The harness's bounded ANN query set: every 100th vector, capped
    * at the first 2000 ids — a FIXED-SIZE (≤20) query set at any
    * corpus scale, not a fixed fraction (round-11 verdict: a
    * fraction-based set makes recall evaluation O(N·sample) grow with
    * the corpus). The ANN operators take an explicit queries frame;
    * this selector is test wiring, not operator semantics — a
    * production caller passes any fixed query frame. */
  private def annQueries(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).filter(col("vec_id") % 100 === 0 && col("vec_id") < 2000)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "events_parse" -> eventsParseOracle,
    "app_list" -> Applications.appListOracle,
    "app_events" -> Applications.appEventsOracle,
    "app_events_raw" -> Applications.appEventsRawOracle,
    "app_attempts" -> Applications.appAttemptsOracle,
    "api_applications" -> Applications.apiApplicationsOracle,
    "api_health" -> graft.api.HistoryServerApi.healthOracle,
    "length_histogram" -> TextAnalysis.lengthHistogramOracle,
    "emb_dim_variance" -> Embeddings.embDimVarianceOracle,
    "executor_churn" -> Diagnostics.executorChurnOracle,
    "app_duration_quantiles" -> CrossApp.appDurationQuantilesOracle,
    "store_stats" -> graft.api.HistoryServerApi.storeStatsOracle,
    "app_jobs" -> JobsStages.appJobsOracle,
    "app_storage" -> Storage.appStorageOracle,
    "app_stages" -> JobsStages.appStagesOracle,
    "task_quantiles" -> JobsStages.taskQuantilesOracle,
    "stage_quantiles" -> JobsStages.stageQuantilesOracle,
    "straggler_stages" -> Diagnostics.stragglerStagesOracle,
    "executor_timeline" -> Diagnostics.executorTimelineOracle,
    "user_sessions" -> Diagnostics.userSessionsOracle,
    "task_executor_asof" -> Diagnostics.taskExecutorAsofOracle,
    "executor_task_range" -> Diagnostics.executorTaskRangeOracle,
    "critical_path" -> Diagnostics.criticalPathOracle,
    "concurrency_profile" -> Diagnostics.concurrencyProfileOracle,
    "host_hotspots" -> Diagnostics.hostHotspotsOracle,
    "app_idle_gaps" -> Diagnostics.appIdleGapsOracle,
    "shuffle_skew" -> Diagnostics.shuffleSkewOracle,
    "spill_stages" -> Diagnostics.spillStagesOracle,
    "attempt_regression" -> Diagnostics.attemptRegressionOracle,
    "failure_breakdown" -> Diagnostics.failureBreakdownOracle,
    "locality_breakdown" -> Diagnostics.localityBreakdownOracle,
    "resource_usage" -> Resources.resourceUsageOracle,
    "executor_summary" -> Resources.executorSummaryOracle,
    "perf_trends" -> Trends.perfTrendsOracle,
    "perf_trends_window" -> Trends.perfTrendsWindowOracle,
    "gc_trends" -> Trends.gcTrendsOracle,
    "cpu_util" -> Trends.cpuUtilOracle,
    "mem_usage" -> Trends.memUsageOracle,
    "capacity_trends" -> Trends.capacityTrendsOracle,
    "usage_heatmap" -> Trends.usageHeatmapOracle,
    "cross_app_summary" -> CrossApp.crossAppSummaryOracle,
    "task_distribution" -> CrossApp.taskDistributionOracle,
    "executor_utilization" -> CrossApp.executorUtilizationOracle,
    "app_daily_active" -> CrossApp.appDailyActiveOracle,
    "app_funnel" -> CrossApp.appFunnelOracle,
    "app_retention" -> CrossApp.appRetentionOracle,
    "resource_util_metrics" -> CrossApp.resourceUtilMetricsOracle,
    "resource_hogs" -> Optimization.resourceHogsOracle,
    "efficiency_analysis" -> Optimization.efficiencyAnalysisOracle,
    "cost_optimization" -> Optimization.costOptimizationOracle,
    "text_stats" -> TextAnalysis.textStatsOracle,
    "length_quantiles" -> TextAnalysis.lengthQuantilesOracle,
    "lang_id" -> TextAnalysis.langIdOracle,
    "lang_confusion" -> TextAnalysis.langConfusionOracle,
    "token_fertility" -> TextAnalysis.tokenFertilityOracle,
    "context_truncation_sweep" -> TextAnalysis.contextTruncationSweepOracle,
    "vocab_coverage_curve" -> TextAnalysis.vocabCoverageCurveOracle,
    "length_quality_matrix" -> TextAnalysis.lengthQualityMatrixOracle,
    "encoding_quality" -> TextAnalysis.encodingQualityOracle,
    "blocklist_filter" -> TextAnalysis.blocklistFilterOracle,
    "quality_drift" -> TextAnalysis.qualityDriftOracle,
    "quality_score" -> TextAnalysis.qualityScoreOracle,
    "quality_sweep" -> TextAnalysis.qualitySweepOracle,
    "fingerprint" -> TextAnalysis.fingerprintOracle,
    "winnow_fingerprints" -> TextAnalysis.winnowFingerprintsOracle,
    "winnow_density" -> TextAnalysis.winnowDensityOracle,
    "winnow_overlap" -> TextAnalysis.winnowOverlapOracle,
    "winnow_overlap_incr" -> TextAnalysis.winnowOverlapIncrementalOracle,
    "tfidf_terms" -> TextAnalysis.tfidfTermsOracle,
    "template_prefixes" -> TextAnalysis.templatePrefixesOracle,
    "split_assign" -> Sampling.splitAssignOracle,
    "shard_pack" -> Sampling.shardPackOracle,
    "train_order" -> Sampling.trainOrderOracle,
    "similar_docs" -> Dedup.similarDocsOracle,
    "snapshot_chunk_diff" -> Dedup.snapshotChunkDiffOracle,
    "detector_semantic_pr" -> Dedup.detectorSemanticPrOracle,
    "bloom_fp_calibration" -> Dedup.bloomFpCalibrationOracle,
    "ann_filtered" -> Embeddings.annFilteredOracle,
    "pack_stats" -> Sampling.packStatsOracle,
    "seq_pack" -> Sampling.seqPackOracle,
    "pack_padding_sweep" -> Sampling.packPaddingSweepOracle,
    "source_mix" -> Sampling.sourceMixOracle,
    "source_lang_mix" -> Sampling.sourceLangMixOracle,
    "mix_resample" -> Sampling.mixResampleOracle,
    "mix_temperature" -> Sampling.mixTemperatureOracle,
    "mix_epochs" -> Sampling.mixEpochsOracle,
    "pii_scrub" -> TextAnalysis.piiScrubOracle,
    "chunk_passages" -> TextAnalysis.chunkPassagesOracle,
    "passage_dedup" -> TextAnalysis.passageDedupOracle,
    "lexical_rarity" -> TextAnalysis.lexicalRarityOracle,
    "corpus_report" -> TextAnalysis.corpusReportOracle,
    "vocab_topk" -> TextAnalysis.vocabTopkOracle,
    "source_ngram_diversity" -> TextAnalysis.sourceNgramDiversityOracle,
    "lang_purity" -> TextAnalysis.langPurityOracle,
    "source_divergence" -> TextAnalysis.sourceDivergenceOracle,
    "oov_rate" -> TextAnalysis.oovRateOracle,
    "bpe_pair_stats" -> TextAnalysis.bpePairStatsOracle,
    "bpe_merges" -> TextAnalysis.bpeMergesOracle,
    "bpe_encode" -> TextAnalysis.bpeEncodeOracle,
    "vocab_growth" -> TextAnalysis.vocabGrowthOracle,
    "zipf_points" -> TextAnalysis.zipfPointsOracle,
    "pmi_terms" -> TextAnalysis.pmiTermsOracle,
    "bm25_search" -> TextAnalysis.bm25SearchOracle,
    "dup_quality_profile" -> TextAnalysis.dupQualityProfileOracle,
    "signal_correlations" -> TextAnalysis.signalCorrelationsOracle,
    "quality_rules" -> TextAnalysis.qualityRulesOracle,
    "rule_overlap_matrix" -> TextAnalysis.ruleOverlapMatrixOracle,
    "curation_sample" -> Sampling.curationSampleOracle,
    "curate_corpus" -> Curation.curateCorpusOracle,
    "contamination" -> Decontamination.benchmarkOverlapOracle,
    "contamination_source_rates" -> Decontamination.contaminationSourceRatesOracle,
    "contamination_normalized" -> Decontamination.benchmarkOverlapNormalizedOracle,
    "contamination_minhash" -> Decontamination.contaminationMinhashOracle,
    "pii_source_rates" -> TextAnalysis.piiSourceRatesOracle,
    "dedup_cross_lang" -> Dedup.dedupCrossLangOracle,
    "novelty_score" -> TextAnalysis.noveltyScoreOracle,
    "repetition_score" -> TextAnalysis.repetitionScoreOracle,
    "span_dedup" -> TextAnalysis.spanDedupOracle,
    "lm_surprisal" -> TextAnalysis.lmSurprisalOracle,
    "dsir_weights" -> TextAnalysis.dsirWeightsOracle,
    "dsir_select" -> TextAnalysis.dsirSelectOracle,
    "span_trim" -> TextAnalysis.spanTrimOracle,
    "span_dedup_incr" -> TextAnalysis.spanDedupIncrementalOracle,
    "surprisal_buckets" -> TextAnalysis.surprisalBucketsOracle,
    "dedup_exact" -> Dedup.dedupExactOracle,
    "dedup_curve" -> Dedup.dedupCurveOracle,
    "cdc_chunk_dedup" -> Dedup.cdcChunkDedupOracle,
    "boilerplate_chunks" -> Dedup.boilerplateChunksOracle,
    "cdc_chunk_trim" -> Dedup.cdcChunkTrimOracle,
    "cdc_chunk_size_hist" -> Dedup.cdcChunkSizeHistOracle,
    "cdc_chunk_dedup_incr" -> Dedup.cdcChunkDedupIncrementalOracle,
    "minhash_calibration" -> Dedup.minhashCalibrationOracle,
    "minhash_scurve" -> Dedup.minhashScurveOracle,
    "dedup_ngram_fast" -> Dedup.dedupNgramFastOracle,
    "dedup_ngram" -> Dedup.dedupNgramOracle,
    "dedup_containment" -> Dedup.dedupContainmentOracle,
    "dup_source_matrix" -> Dedup.dupSourceMatrixOracle,
    "source_overlap" -> Dedup.sourceOverlapSketchOracle,
    "dedup_pair_venn" -> Dedup.dedupPairVennOracle,
    "dedup_token_savings" -> Dedup.dedupTokenSavingsOracle,
    "gram_df_spectrum" -> Dedup.gramDfSpectrumOracle,
    "dup_degree_hist" -> Dedup.dupDegreeHistOracle,
    "source_gram_overlap" -> Dedup.sourceGramOverlapOracle,
    "dedup_ngram_incr" -> Dedup.dedupNgramIncrementalOracle,
    "dedup_exact_incr" -> Dedup.dedupExactIncrementalOracle,
    "dedup_threshold_sweep" -> Dedup.dedupThresholdSweepOracle,
    "dedup_minhash_incr" -> Dedup.dedupMinhashIncrementalOracle,
    "dedup_simhash_incr" -> Dedup.dedupSimhashIncrementalOracle,
    "dedup_minhash" -> Dedup.dedupMinhashOracle,
    "dedup_minhash_expr" -> Dedup.dedupMinhashOracle,
    "dedup_minhash_wide" -> Dedup.dedupMinhashWideOracle,
    "dedup_simhash" -> Dedup.dedupSimhashOracle,
    "dedup_simhash_wide" -> Dedup.dedupSimhashWideOracle,
    "dedup_clusters" -> Clustering.dedupClustersOracle,
    "cluster_weights" -> Clustering.clusterWeightsOracle,
    "kmv_cardinality" -> Dedup.kmvCardinalityOracle,
    "dedup_clusters_incr" -> Clustering.dedupClustersOracle,
    "cluster_sizes" -> Clustering.clusterSizesOracle,
    "cluster_canonical" -> Clustering.clusterCanonicalOracle,
    "knn_graph" -> Embeddings.knnGraphOracle,
    "knn_graph_default" -> Embeddings.knnGraphDefaultOracle,
    "semantic_clusters_default" -> Embeddings.semanticClustersDefaultOracle,
    "semantic_clusters" -> Embeddings.semanticClustersOracle,
    "semantic_survivors" -> Embeddings.semanticSurvivorsOracle,
    "semantic_prune" -> Embeddings.dedupSemanticOracle,
    "rp_distortion" -> Embeddings.rpDistortionOracle,
    "int8_distortion" -> Embeddings.int8DistortionOracle,
    "cluster_silhouette" -> Embeddings.clusterSilhouetteOracle,
    "hard_negatives" -> Embeddings.hardNegativesOracle,
    "readability" -> TextAnalysis.readabilityOracle,
    "langid_margin" -> TextAnalysis.langidMarginOracle,
    "dedup_curve_by_source" -> Dedup.dedupCurveBySourceOracle,
    "dedup_normalized" -> Dedup.dedupNormalizedOracle,
    "drop_provenance" -> Dedup.dropProvenanceOracle,
    "minhash_band_sweep" -> Dedup.minhashBandSweepOracle,
    "minhash_recall_sample" -> Dedup.minhashRecallSampleOracle,
    "simhash_recall_sample" -> Dedup.simhashRecallSampleOracle,
    "media_qa" -> Multimodal.mediaQaOracle,
    "sentence_dedup" -> TextAnalysis.sentenceDedupOracle,
    "dedup_transitivity" -> Dedup.dedupTransitivityOracle,
    "cluster_source_mix" -> Clustering.clusterSourceMixOracle,
    "event_rate_anomalies" -> Trends.eventRateAnomaliesOracle,
    "event_mix_drift" -> Trends.eventMixDriftOracle,
    "ann_recall_sweep" -> Embeddings.annRecallSweepOracle,
    "snapshot_diff" -> Dedup.snapshotDiffOracle,
    "ann_rerank" -> Embeddings.annRerankOracle,
    "scene_cuts" -> Multimodal.sceneCutsOracle,
    "knn_label_prop" -> Embeddings.knnLabelPropOracle,
    "source_centroid_drift" -> Embeddings.sourceCentroidDriftOracle,
    "knn_hubness" -> Embeddings.knnHubnessOracle,
    "emb_outliers" -> Embeddings.embOutliersOracle,
    "knn_mutuality" -> Embeddings.knnMutualityOracle,
    "embedding_threshold_sweep" -> Embeddings.embeddingThresholdSweepOracle,
    "knn_pagerank" -> Embeddings.knnPagerankOracle,
    "ivf_probe_sweep" -> Embeddings.ivfProbeSweepOracle,
    "dedup_embedding" -> Embeddings.dedupEmbeddingOracle,
    "dedup_embedding_incr" -> Embeddings.dedupEmbeddingIncrementalOracle,
    "emb_label_stats" -> Embeddings.labelStatsOracle,
    "emb_principal" -> Embeddings.principalDirectionOracle,
    "diversity_sample" -> Embeddings.diversitySampleOracle,
    "pq_recall" -> Embeddings.pqRecallOracle,
    "topic_purity" -> Embeddings.topicPurityOracle,
    "topic_clusters" -> Embeddings.topicClustersOracle,
    "lexical_vs_embedding" -> Embeddings.lexicalVsEmbeddingOracle,
    "split_leakage" -> Sampling.splitLeakageOracle,
    "cluster_split" -> Sampling.clusterSplitOracle,
    "embedding_coverage" -> Embeddings.embeddingCoverageOracle,
    "emb_norm_quantiles" -> Embeddings.embNormQuantilesOracle,
    "semantic_drift" -> Embeddings.semanticDriftOracle,
    "ann_ivf_trained" -> Embeddings.annIvfTrainedOracle,
    "ann_pq" -> Embeddings.annPqOracle,
    "pq_distortion" -> Embeddings.pqDistortionOracle,
    "ann_ivf_pq" -> Embeddings.annIvfPqOracle,
    "ann_topk" -> Embeddings.annTopKOracle,
    "ann_lsh" -> Embeddings.annLshOracle,
    "ann_ivf" -> Embeddings.annIvfOracle,
    "ann_recall" -> Embeddings.annRecallOracle,
    "matryoshka_recall" -> Embeddings.matryoshkaRecallOracle,
    "bq_recall" -> Embeddings.bqRecallOracle,
    "int8_recall" -> Embeddings.int8RecallOracle,
    "hybrid_search" -> Embeddings.hybridSearchOracle,
    "multimodal_features" -> Multimodal.multimodalFeaturesOracle,
    "frame_sample" -> Multimodal.frameSampleOracle,
    "frame_dedup" -> Multimodal.frameDedupOracle,
    "frame_dedup_near" -> Multimodal.frameDedupNearOracle
  )
}
