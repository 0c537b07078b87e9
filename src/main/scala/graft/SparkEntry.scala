package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every SURVEY.md §2 key appears in `queries`; SQL-expressible ones also
  * appear in `oracleSql` with IDENTICAL column names (the driver sorts
  * columns by name before hashing).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The whole reference pipeline (scan -> clean -> analyze -> dedup ->
    * render) as one Catalyst-optimized plan.
    */
  def entry(spark: SparkSession): DataFrame =
    EndToEnd.corpusPipeline(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A. Relational core
    "q01_agg_pricing"     -> (Relational.aggPricing _),
    "q02_filter_pushdown" -> (Relational.filterPushdown _),
    "q03_join_broadcast"  -> (Relational.joinBroadcast _),
    "q04_join_shuffle"    -> (Relational.joinShuffle _),
    "q05_topk"            -> (Relational.topK _),
    "q06_distinct"        -> (Relational.distinctPairs _),
    "q07_window_latest"   -> (Relational.windowLatest _),
    "q08_semi_join"       -> (Relational.semiJoin _),
    "q09_anti_join"       -> (Relational.antiJoin _),
    "q10_set_ops"         -> (Relational.setOps _),
    "q11_rollup"          -> (Relational.rollupAgg _),
    "q12_conditional_agg" -> (Relational.conditionalAgg _),
    "q13_scalar_subquery" -> (Relational.scalarSubquery _),
    "q14_time_bucket"     -> (Relational.timeBucket _),
    "q15_string_suite"    -> (Relational.stringSuite _),
    "q16_json_extract"    -> (Relational.jsonExtract _),
    "q17_salted_join"     -> ((s, d) => Relational.saltedJoin(s, d)),
    "q18_window_suite"    -> (Relational.windowSuite _),
    "q19_percentiles"     -> (Relational.percentiles _),
    "q20_cube"            -> (Relational.cubeAgg _),
    "q21_range_join"      -> (Relational.rangeJoin _),
    "q22_correlated_max"  -> (Relational.correlatedMax _),
    "q23_grouping_sets"   -> (Relational.groupingSetsAgg _),
    "q24_approx_distinct" -> (Relational.approxDistinct _),
    "q25_det_sample"      -> (Relational.deterministicSample _),
    "q26_range_frame"     -> (Relational.rangeFrameWindow _),
    "q27_exists_composition" -> (Relational.existsComposition _),
    "q28_pivot"           -> (Relational.pivotAgg _),
    "q29_unpivot"         -> (Relational.unpivotMeasures _),
    "q30_approx_quantiles" -> (Relational.approxQuantiles _),
    "q31_topk_agg"        -> (Relational.topkAggQuery _),
    "q32_outer_join"      -> (Relational.outerJoinSuite _),
    "q33_nested_topk"     -> (Relational.nestedTopKJson _),
    "q34_window_dist"     -> (Relational.windowSuite2 _),
    "q35_multiset_ops"    -> (Relational.multisetOps _),
    "q36_map_result"      -> (Relational.mapResultJson _),
    "q37_null_semantics"  -> (Relational.nullSemantics _),
    "q38_interval_sweep"  -> (Relational.intervalSweep _),
    "q39_funnel"          -> (Relational.funnel _),
    "q40_retention"       -> (Relational.retentionCohorts _),
    "q41_transitions"     -> (Relational.transitions _),
    "q42_sketch_reagg"    -> (Relational.sketchReagg _),
    "q43_rfm_segments"    -> (Relational.rfmSegments _),
    "q44_zorder"          -> (Relational.zorderLayout _),
    "q45_mv_maintenance"  -> (Relational.mvMaintenance _),
    "q46_gap_fill"        -> (Relational.gapFill _),
    "q47_array_suite"     -> (Relational.arraySuite _),
    "q49_anomaly_mad"     -> (Relational.anomalyMad _),
    "q50_variant_json"    -> (Relational.variantJson _),
    "q48_skyline"         -> (Relational.skyline _),
    "d18_quota_sample"    -> (Dedup.quotaSample _),
    "d19_weighted_mix"    -> (Dedup.weightedQuotaMix _),
    "p23_cdc_merge"       -> (PipelineOps.cdcMerge _),
    // B. Reference-pipeline semantics
    "p01_pages_in_space"        -> (PipelineOps.pagesInSpace _),
    "p02_updated_last_n_days"   -> (PipelineOps.updatedLastNDays _),
    "p03_page_lookup"           -> (PipelineOps.pageLookup _),
    "p04_hierarchy_descendants" -> ((s, d) => PipelineOps.hierarchyDescendants(s, d)),
    "p05_incremental_diff"      -> (PipelineOps.incrementalDiff _),
    "p06_state_upsert"          -> (PipelineOps.stateUpsert _),
    "p07_missing_from_state"    -> (PipelineOps.missingFromState _),
    "p08_dedup_latest"          -> (PipelineOps.dedupLatest _),
    "p09_run_summary"           -> (PipelineOps.runSummary _),
    "p10_partition_stats"       -> (PipelineOps.partitionStats _),
    "p11_html_render"           -> ((s, d) => Render.htmlRender(s, d).orderBy("doc_id")),
    "p12_attachment_embed"      -> (Render.attachmentEmbed _),
    "p13_asof_join"             -> (AsOf.asofJoin _),
    "p15_asof_native"           -> (AsOf.asofJoinNative _),
    "p14_corpus_pipeline"       -> (EndToEnd.corpusPipeline _),
    "p16_render_manifest"       -> (Render.renderManifest _),
    "p19_training_mix"          -> (EndToEnd.trainingMix _),
    "p20_indexed_search"        -> (PipelineOps.indexedSearch _),
    "p38_bm25_rank"             -> (PipelineOps.bm25Rank _),
    "p39_bm25_fold"             -> (PipelineOps.bm25Fold _),
    "p17_render_stats"          -> (Render.renderStats _),
    "p18_text_search"           -> (PipelineOps.textSearch _),
    "p21_tolerant_ingest"       -> (PipelineOps.tolerantIngest _),
    // C. Text / markup processing
    "t01_html_clean"        -> (TextOps.htmlClean _),
    "t02_sanitize_filename" -> (TextOps.sanitizeFilename _),
    "t03_mime_from_extension" -> (TextOps.mimeFromExtension _),
    "t04_token_count"       -> (TextOps.tokenCount _),
    "t05_lang_id"           -> (TextOps.langId _),
    "t06_quality_score"     -> (TextOps.qualityScore _),
    "t07_fingerprint"       -> (TextOps.fingerprint _),
    "t08_ngram_topk"        -> ((s, d) => TextOps.ngramTopK(s, d)),
    "t10_stopword_filter"   -> (TextOps.stopwordFilter _),
    "t11_image_normalize"   -> (TextOps.imageNormalize _),
    "t12_code_extract"      -> (TextOps.codeExtract _),
    "t09_pii_redact"        -> (TextOps.piiRedact _),
    "t13_repetition"        -> (TextOps.repetition _),
    "t14_unicode_normalize" -> (TextOps.unicodeNormalize _),
    "t15_tfidf"             -> ((s, d) => TextOps.tfidfTopTerms(s, d)),
    "t16_token_spectrum"    -> (TextOps.tokenSpectrum _),
    "t17_edit_distance"     -> (TextOps.editDistancePairs _),
    "t18_entropy_score"     -> (TextOps.entropyScore _),
    "t19_chunk_overlap"     -> (TextOps.chunkOverlap _),
    "t20_cms_heavy_hitters" -> (TextOps.cmsHeavyHitters _),
    "t21_contamination_score" -> (TextOps.contaminationScore _),
    "t22_cross_doc_repetition" -> (TextOps.crossDocRepetition _),
    "t23_bpe_pairs"         -> (TextOps.bpePairs _),
    "t24_exact_substr"      -> (TextOps.exactSubstrSpans _),
    "t25_substr_removal"    -> (TextOps.substrRemoval _),
    "t26_bpe_encode"        -> (TextOps.bpeEncode _),
    "t27_rule_gate"         -> (TextOps.ruleGate _),
    "t33_classifier_gate"   -> (TextOps.classifierGate _),
    "t34_dsir_weights"      -> (TextOps.dsirWeights _),
    "t35_script_mix"        -> (TextOps.scriptMix _),
    "t28_cdc_chunks"        -> (TextOps.cdcChunks _),
    "t29_chunk_boilerplate" -> (TextOps.chunkBoilerplate _),
    "t30_surprisal"         -> (TextOps.surprisalScore _),
    "t31_html_sections"     -> (TextOps.htmlSections _),
    "t32_markdown_export"   -> (TextOps.markdownExport _),
    "p22_state_history"     -> (PipelineOps.stateHistory _),
    "p24_asof_forward"      -> (AsOf.asofJoinForward _),
    "p29_asof_nearest"      -> (AsOf.asofJoinNearest _),
    "p30_global_index"      -> (PipelineOps.globalIndex _),
    "p31_point_in_time"     -> (PipelineOps.pointInTime _),
    "p32_pagerank"          -> ((s, d) => PipelineOps.pageRank(s, d)),
    "p37_publish_diff"      -> (PipelineOps.publishDiff _),
    "p25_subtree_rollup"    -> (PipelineOps.subtreeRollup _),
    "p26_sequence_packing"  -> (PipelineOps.sequencePacking _),
    "p27_curated_packing"   -> (EndToEnd.curatedPacking _),
    "p28_freshness_report"  -> (PipelineOps.freshnessReport _),
    "p33_attrition_funnel"  -> (EndToEnd.attritionFunnel _),
    "p34_dataset_card"      -> (PipelineOps.datasetCard _),
    "p35_retention_policy"  -> (PipelineOps.retentionPolicy _),
    "p36_erasure_impact"    -> (EndToEnd.erasureImpact _),
    // D. Dedup / similarity / multimodal
    "d01_exact_dedup"   -> (Dedup.exactDedup _),
    "d02_minhash_lsh"   -> ((s, d) => Dedup.minhashLsh(s, d)),
    "d03_simhash"       -> ((s, d) => Dedup.simhashDedup(s, d).orderBy("doc_a", "doc_b")),
    "d43_simhash_wide"  -> ((s, d) => Dedup.simhashWide(s, d).orderBy("doc_a", "doc_b")),
    "d44_neardup_clusters_wide" -> ((s, d) => Dedup.neardupClustersWide(s, d)),
    "d04_ngram_jaccard" -> (Dedup.ngramJaccard _),
    "d09_decontaminate" -> (Dedup.decontaminate _),
    "d10_neardup_clusters" -> ((s, d) => Dedup.neardupClusters(s, d)),
    "d11_fuzzy_decontaminate" -> ((s, d) => Dedup.fuzzyDecontaminate(s, d)),
    "d05_cosine_topk"   -> (Similarity.cosineTopK _),
    "d06_ann_lsh"       -> (Similarity.annLsh _),
    "d07_embed_neardup" -> (Similarity.embedNearDup _),
    "d08_ann_ivf"       -> (Similarity.annIvf _),
    "d12_ann_pq"        -> (Similarity.annPq _),
    "d13_ann_recall"    -> (Similarity.annRecall _),
    "d14_stratified_mix" -> (Dedup.stratifiedMix _),
    "d15_ann_ivf_trained" -> (Similarity.annIvfTrained _),
    "d16_bloom_decontaminate" -> (Dedup.bloomDecontaminate _),
    "d17_cluster_quality" -> (Similarity.clusterQuality _),
    "d20_incremental_dedup" -> ((s, d) => Dedup.incrementalDedup(s, d)),
    "d21_adaptive_quality_gate" -> (Dedup.adaptiveQualityGate _),
    "d22_dedup_survivorship" -> ((s, d) => Dedup.dedupSurvivorship(s, d)),
    "d23_sketch_quality_gate" -> (Dedup.sketchQualityGate _),
    "d24_histogram_quality_gate" -> (Dedup.histogramQualityGate _),
    "d25_token_budget_mix" -> (Dedup.tokenBudgetMix _),
    "d26_cluster_split" -> (Dedup.clusterSplit _),
    "d27_semantic_decontaminate" -> (Similarity.semanticDecontaminate _),
    "d28_semdedup"        -> (Similarity.semDedup _),
    "d29_quality_survivor" -> ((s, d) => Dedup.qualitySurvivor(s, d)),
    "d30_knn_label_purity" -> (Similarity.knnLabelPurity _),
    "d31_containment"     -> (Dedup.containmentPairs _),
    "d32_soft_dedup"      -> ((s, d) => Dedup.softDedupWeights(s, d)),
    "d33_priority_sample" -> (Dedup.prioritySample _),
    "d34_int8_quantize"   -> (Similarity.int8Quantize _),
    "d35_corpus_map"      -> (Similarity.corpusMap _),
    "d36_corpus_overlap"  -> (Dedup.corpusOverlap _),
    "d37_drift_monitor"   -> (Dedup.driftMonitor _),
    "d38_sketch_overlap"  -> (Dedup.sketchOverlap _),
    "d39_bottomk_containment" -> (Dedup.bottomkContainment _),
    "d40_hard_negatives"  -> (Similarity.hardNegatives _),
    "d41_lsh_quality"     -> (Dedup.lshQuality _),
    "d42_containment_recall" -> (Dedup.containmentRecall _),
    "m01_multimodal_meta" -> (Multimodal.mediaMeta _),
    "m02_frame_sample"    -> (Multimodal.frameSample _),
    "m03_binary_ingest"   -> (Multimodal.binaryIngest _),
    "m04_attachment_dedup" -> (Multimodal.attachmentDedup _),
    "m05_blob_chunks"      -> (Multimodal.blobChunks _),
    "m06_shard_manifest"   -> (Multimodal.shardManifest _),
    "m07_feature_extract"  -> (Multimodal.featureExtract _),
    "m08_resize"           -> (Multimodal.resizeBlobs _),
    "m09_phash_neardup"    -> ((s, d) => Multimodal.phashNeardup(s, d)),
    "m10_modality_route"   -> (Multimodal.modalityRoute _),
    "m11_header_parse"     -> (Multimodal.headerParse _),
    "m12_align_gate"       -> (Multimodal.alignGate _),
    "m13_scene_cuts"       -> (Multimodal.sceneCuts _),
    // E. Streaming (batch-equivalent transforms; streaming paths in specs)
    "s01_window_agg"   -> (graft.streaming.Streams.windowAggBatch _),
    "s02_sessionize"   -> (graft.streaming.Streams.sessionizeBatch _),
    "s11_session_native" -> (graft.streaming.Streams.sessionizeNative _),
    "s03_stream_dedup" -> (graft.streaming.Streams.dedupBatch _),
    "s06_stream_distinct" -> (graft.streaming.Streams.distinctUsersBatch _),
    "s09_stream_topk"     -> (graft.streaming.Streams.topkBatch _),
    "s12_session_topk"    -> (graft.streaming.Streams.sessionTopkBatch _),
    "s13_stream_decontaminate" -> (graft.streaming.Streams.streamDeconBatch _),
    "s16_stream_quality_gate" -> (graft.streaming.Streams.streamQualityBatch _),
    "s15_window_heavy_hitters" -> (graft.streaming.Streams.windowHeavyHittersBatch _),
    "s17_cdc_replay"   -> (graft.streaming.Streams.cdcReplayBatch _),
    "s18_budget_admission" -> (graft.streaming.Streams.budgetAdmissionBatch _),
    "s19_shard_assign" -> (graft.streaming.Streams.shardAssignBatch _),
    "s20_sketch_fold"  -> (graft.streaming.Streams.sketchFoldBatch _),
    "s21_stream_join"  -> (graft.streaming.Streams.attributionJoinBatch _),
    "s22_stream_index" -> (graft.streaming.Streams.indexReplayBatch _),
    "s23_chunk_ingest" -> (graft.streaming.Streams.chunkIngestBatch _),
    "s24_drift_fold"   -> (graft.streaming.Streams.driftFoldBatch _),
    "s25_erasure_fold" -> (graft.streaming.Streams.erasureFoldBatch _),
    "s26_census_fold"  -> (graft.streaming.Streams.censusFoldBatch _),
    "s27_watermark_audit" -> (graft.streaming.Streams.watermarkAudit _),
    "s28_fill_fold"    -> (graft.streaming.Streams.fillFoldBatch _),
    "s29_census_tws"   -> (graft.streaming.Streams.censusTwsBatch _),
    "s30_anomaly_fold" -> (graft.streaming.Streams.anomalyFoldBatch _),
  )

  /** DuckDB oracle SQL, same column names/order semantics as the Spark side. */

  /** Shared by s02 (lag+cumsum composition) and s11 (native session_window):
    * one semantic contract, two physical strategies, both hash-checked.
    */
  private val SessionizeOracle: String =
    """WITH e AS (
      |  SELECT user_id, ts, event_id, value,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                                   ROWS UNBOUNDED PRECEDING) AS session_seq
      |  FROM e)
      |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
      |       MIN(ts) AS session_start, MAX(ts) AS session_end,
      |       COUNT(*) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      |FROM s GROUP BY user_id, session_seq
      |ORDER BY user_id, session_seq""".stripMargin

  /** Shared by p18 (scan plan) and p20 (inverted-postings plan): one
    * semantic contract, two physical strategies, both hash-checked.
    */
  private val TextSearchOracle: String =
    """WITH t AS (SELECT doc_id, source, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
      |c AS (SELECT doc_id, source,
      |        len(list_filter(toks, x -> x = 'spark')) AS tf_spark,
      |        len(list_filter(toks, x -> x = 'vector')) AS tf_vector,
      |        len(list_filter(toks, x -> x = 'stream')) AS tf_stream
      |      FROM t)
      |SELECT doc_id, source, tf_spark, tf_vector, tf_stream,
      |       tf_spark + tf_vector + tf_stream AS score
      |FROM c WHERE tf_spark > 0 AND tf_vector > 0 AND tf_stream > 0
      |ORDER BY score DESC, doc_id""".stripMargin

  /** The d10 connected-component closure (simhash edges → min-label
    * clusters) as a WITH RECURSIVE body — shared by every oracle that
    * replays the cluster artifact (d22, d26, d29) so the closure semantics
    * can never drift between them. Yields `cl(doc_id, cluster_id)` over
    * ALL docs (singletons carry their own id).
    */
  private val ClusterClosureCtes: String =
    s"""${CrossHashSql.simhashCtes},
       |e AS (SELECT doc_a AS ea, doc_b AS eb FROM cand WHERE hamming <= 3
       |      UNION ALL
       |      SELECT doc_b AS ea, doc_a AS eb FROM cand WHERE hamming <= 3),
       |reach AS (SELECT doc_id AS src, doc_id AS dst FROM documents
       |          UNION
       |          SELECT r.src, e.eb FROM reach r JOIN e ON r.dst = e.ea),
       |cl AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src)""".stripMargin

  /** The t06 quality formula (see TextOps.qualityCol) — shared so t06 and
    * d21 can never drift apart.
    */
  private val QualitySql: String =
    """FLOOR((0.5 * LEAST(1.0, LENGTH(text) / 500.0)
      |     + 0.25 * (1.0 - (LEN(REGEXP_EXTRACT_ALL(text, '[^A-Za-z0-9\s]')) / (LENGTH(text) + 1.0)))
      |     + 0.25 * (LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\b(the|a|and|of|to|in|is)\b')) / (LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')) + 1.0))) * 10000.0 + 0.5) / 10000.0""".stripMargin

  /** The CDC decomposition (t28) as a reusable CTE chain ending at `cr`
    * (doc_id, chunk_idx, start_tok, n_toks, chunk_hash) — shared with
    * s23's ingest-fold oracle so the chunk law can never drift between
    * the corpus report and the store.
    */
  private val CdcChunkCtes: String =
    s"""w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
       |      FROM documents),
       |g AS (SELECT doc_id, t, CASE WHEN len(t) < ${operators.TextOps.CdcW}
       |        THEN CAST([] AS VARCHAR[])
       |        ELSE list_transform(range(1, len(t) - ${operators.TextOps.CdcW - 2}),
       |               gi -> t[gi] || ' ' || t[gi+1] || ' ' || t[gi+2] || ' ' || t[gi+3])
       |        END AS grams
       |      FROM w),
       |hx AS (SELECT doc_id, t, list_transform(grams,
       |                gx -> ${CrossHashSql.poly31("gx", 0)}) AS hv FROM g),
       |cu AS (SELECT doc_id, t, len(t) AS n,
       |              list_transform(list_filter(range(1, len(hv) + 1),
       |                  i -> hv[i] % ${operators.TextOps.CdcD} = 0),
       |                i -> i + ${operators.TextOps.CdcW - 1}) AS cuts
       |       FROM hx),
       |en AS (SELECT doc_id, t, n,
       |              CASE WHEN len(cuts) = 0 OR cuts[-1] <> n
       |                   THEN list_append(cuts, n) ELSE cuts END AS ends
       |       FROM cu),
       |st AS (SELECT doc_id, t, ends,
       |              list_prepend(1, list_transform(list_slice(ends, 1, len(ends) - 1),
       |                                             e -> e + 1)) AS starts
       |       FROM en),
       |ch AS (SELECT doc_id, t, starts, ends,
       |              unnest(range(1, len(ends) + 1)) AS k FROM st),
       |cr AS (SELECT doc_id, CAST(k AS BIGINT) AS chunk_idx,
       |              CAST(starts[k] AS BIGINT) AS start_tok,
       |              CAST(ends[k] - starts[k] + 1 AS BIGINT) AS n_toks,
       |              ${CrossHashSql.poly31("array_to_string(list_slice(t, starts[k], ends[k]), ' ')", 0)} AS chunk_hash
       |       FROM ch)""".stripMargin

  /** Shared by d37 (one-shot report) and s24 (ingest fold): the fold must
    * reach the report bit-for-bit, so both keys verify against this text.
    * Baseline = doc_id%3<>0; truncated ppm; quality decile = e4 // 1000.
    */
  private lazy val DriftOracle: String =
    s"""WITH b AS (SELECT doc_id, lang, source,
       |             CAST(FLOOR(($QualitySql) * 10000 + 0.5) AS BIGINT) // 1000 AS q_dec,
       |             doc_id % ${operators.Dedup.DriftBaselineMod} <> 0 AS in_base
       |           FROM documents),
       |st AS (SELECT in_base, 'lang' AS dim, lang AS bucket FROM b
       |       UNION ALL SELECT in_base, 'source', source FROM b
       |       UNION ALL SELECT in_base, 'quality_decile', CAST(q_dec AS VARCHAR) FROM b),
       |c AS (SELECT dim, bucket,
       |             SUM(CASE WHEN in_base THEN 1 ELSE 0 END) AS n_a,
       |             COUNT(*) AS n_b
       |      FROM st GROUP BY 1, 2),
       |t AS (SELECT SUM(CASE WHEN in_base THEN 1 ELSE 0 END) AS t_a,
       |             COUNT(*) AS t_b FROM b)
       |SELECT dim, bucket,
       |       CAST(n_a * 1000000 // GREATEST(t_a, 1) AS BIGINT) AS a_ppm,
       |       CAST(n_b * 1000000 // GREATEST(t_b, 1) AS BIGINT) AS b_ppm,
       |       CAST(ABS(n_a * 1000000 // GREATEST(t_a, 1)
       |              - n_b * 1000000 // GREATEST(t_b, 1)) AS BIGINT)
       |         AS abs_diff_ppm
       |FROM c CROSS JOIN t ORDER BY dim, bucket""".stripMargin

  /** Shared by d09 (broadcast anti-join) and d16 (Bloom-prefilter plan). */
  private val DecontaminateOracle: String =
    """WITH d AS (SELECT doc_id, source,
      |             MD5(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')) AS content_md5
      |           FROM documents),
      |e AS (SELECT DISTINCT content_md5 FROM d WHERE doc_id % 7 = 3)
      |SELECT doc_id, source, content_md5 FROM d
      |WHERE content_md5 NOT IN (SELECT content_md5 FROM e)
      |ORDER BY doc_id""".stripMargin

  /** t23 oracle: replays TextOps.bpePairs level by level — the vocab →
    * chr(31) symbol-stream encoding, each level's per-occurrence pair
    * census (SUM weighted by word count), and the greedy left-to-right fuse
    * of the level winner via list_reduce (the DuckDB twin of
    * TextOps.bpeMergeFold: merging appends x undelimited so trailing `a`
    * becomes a||b, and a fresh a||b can never re-match `a`). Built by loop
    * so the level count can never drift from TextOps.BpeLevels.
    */
  private def bpeCensusCte(i: Int): String =
    s"""p$i AS (
       |  SELECT l[i] || chr(31) || l[i+1] AS pair, wc FROM (
       |    SELECT string_split(s, chr(31)) AS l, wc FROM v${i - 1}),
       |    unnest(generate_series(1, len(l) - 1)) AS t(i)),
       |a$i AS (SELECT pair, CAST(SUM(wc) AS BIGINT) AS freq FROM p$i GROUP BY pair),
       |r$i AS (SELECT $i AS level,
       |          CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, pair ASC) AS BIGINT) AS rank,
       |          pair, freq
       |        FROM a$i ORDER BY freq DESC, pair ASC LIMIT ${TextOps.BpeTopK})""".stripMargin

  private def bpeFuseCte(i: Int): String =
    s"""b$i AS (SELECT string_split(pair, chr(31))[1] AS a,
       |               string_split(pair, chr(31))[2] AS b FROM r$i WHERE rank = 1),
       |v$i AS (
       |  SELECT list_reduce(string_split(s, chr(31)), (acc, x) ->
       |           CASE WHEN (acc = a OR ends_with(acc, chr(31) || a)) AND x = b
       |                THEN acc || x ELSE acc || chr(31) || x END) AS s, wc
       |  FROM v${i - 1}, b$i)""".stripMargin

  private val BpeBaseCtes: Seq[String] = Seq(
    """vocab AS (
      |  SELECT term, COUNT(*) AS wc FROM (
      |    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term FROM documents)
      |  WHERE term <> '' GROUP BY term)""".stripMargin,
    """v0 AS (
      |  SELECT array_to_string(list_transform(generate_series(1, length(term)),
      |           i -> substring(term, CAST(i AS INTEGER), 1)), chr(31)) AS s, wc
      |  FROM vocab)""".stripMargin)

  private val BpeOracle: String = {
    val levels = TextOps.BpeLevels
    val ctes = BpeBaseCtes ++
      (1 to levels).flatMap(i => Seq(bpeCensusCte(i)) ++ (if (i < levels) Seq(bpeFuseCte(i)) else Nil))
    val union = (1 to levels).map(i => s"SELECT * FROM r$i").mkString(" UNION ALL ")
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT CAST(level AS BIGINT) AS level, rank, replace(pair, chr(31), '+') AS pair, freq
       |FROM ($union) ORDER BY level, rank""".stripMargin
  }

  /** t26: the same learned merges (b1..bN from the shared census/fuse
    * chain) applied per TERM, then doc word occurrences join the encoded
    * vocabulary — replaying bpeEncode's vocabulary-level application.
    */
  private val BpeEncodeOracle: String = {
    val levels = TextOps.BpeLevels
    def encCte(i: Int) =
      s"""e$i AS (
         |  SELECT term, list_reduce(string_split(s, chr(31)), (acc, x) ->
         |           CASE WHEN (acc = a OR ends_with(acc, chr(31) || a)) AND x = b
         |                THEN acc || x ELSE acc || chr(31) || x END) AS s
         |  FROM e${i - 1}, b$i)""".stripMargin
    val ctes = BpeBaseCtes ++
      (1 to levels).flatMap(i => Seq(bpeCensusCte(i), bpeFuseCte(i))) ++
      Seq("""e0 AS (
            |  SELECT term, array_to_string(list_transform(generate_series(1, length(term)),
            |           i -> substring(term, CAST(i AS INTEGER), 1)), chr(31)) AS s
            |  FROM vocab)""".stripMargin) ++
      (1 to levels).map(encCte)
    s"""WITH ${ctes.mkString(",\n")},
       |et AS (SELECT term, CAST(length(term) AS BIGINT) AS n_chr,
       |              CAST(len(string_split(s, chr(31))) AS BIGINT) AS n_sym
       |       FROM e$levels),
       |dw AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
       |       FROM documents)
       |SELECT doc_id, COUNT(*) AS n_words,
       |       CAST(SUM(n_chr) AS BIGINT) AS n_char_symbols,
       |       CAST(SUM(n_sym) AS BIGINT) AS n_bpe_tokens,
       |       FLOOR(CAST(SUM(n_chr) AS DOUBLE) / CAST(SUM(n_sym) AS DOUBLE)
       |             * 10000 + 0.5) / 10000 AS compression
       |FROM dw JOIN et USING (term) WHERE term <> ''
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Shared by q46 (one-shot resample) and s28 (the ingest fold): dense
    * hourly axis per type via range off the |types|-row min/max agg;
    * LAST_VALUE IGNORE NULLS is the carry-forward on both engines; value
    * sums DECIMAL-then-double (s01 law).
    */
  private val GapFillOracle: String =
    """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hb,
      |             CAST(value AS DECIMAL(18,6)) AS v FROM events),
      |h AS (SELECT event_type, hb, COUNT(*) AS n_events,
      |             CAST(SUM(v) AS DOUBLE) AS sum_value
      |      FROM e GROUP BY 1, 2),
      |mm AS (SELECT event_type, MIN(hb) AS lo, MAX(hb) AS hi
      |       FROM h GROUP BY 1),
      |ax AS (SELECT event_type, unnest(range(lo, hi + 1)) AS hb FROM mm),
      |j AS (SELECT ax.event_type, ax.hb, h.n_events, h.sum_value
      |      FROM ax LEFT JOIN h ON h.event_type = ax.event_type AND h.hb = ax.hb),
      |f AS (SELECT event_type, hb, n_events, sum_value,
      |        n_events IS NULL AS is_gap,
      |        LAST_VALUE(n_events IGNORE NULLS) OVER w AS filled_events,
      |        LAST_VALUE(sum_value IGNORE NULLS) OVER w AS filled_value,
      |        MAX(CASE WHEN n_events IS NOT NULL THEN hb END) OVER w AS last_obs_hb
      |      FROM j
      |      WINDOW w AS (PARTITION BY event_type ORDER BY hb
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT event_type, make_timestamp(hb * 3600000000) AS bucket_ts,
      |       COALESCE(n_events, 0) AS n_events, is_gap,
      |       filled_events, filled_value,
      |       CAST(hb - last_obs_hb AS BIGINT) AS hours_since_obs
      |FROM f ORDER BY event_type, bucket_ts""".stripMargin

  /** p38: the exact-integer BM25 law regenerated per query term (one
    * source of truth for the Scala side's SearchTerms), half-bit idf via
    * printf('%b') of squares, the cross-multiplied tf rational with its
    * single final div, HUGEINT-safe casts on every output.
    */
  private val Bm25Oracle: String = {
    val ts = operators.PipelineOps.SearchTerms
    val tfCols = ts.map(t =>
      s"        CAST(len(list_filter(toks, x -> x = '$t')) AS BIGINT) AS tf_$t")
      .mkString(",\n")
    val dfCols = ts.map(t =>
      s"        CAST(SUM((tf_$t > 0)::INT) AS BIGINT) AS df_$t").mkString(",\n")
    val scoreTerms = ts.map { t =>
      s"(length(printf('%b', (2*n_docs + 2)*(2*n_docs + 2)))" +
        s" - length(printf('%b', (2*df_$t + 1)*(2*df_$t + 1))))" +
        s" * (44 * total_toks * tf_$t * 1000" +
        s" // (20 * total_toks * tf_$t + 6 * total_toks + 18 * n_docs * dl))"
    }.mkString("\n           + ")
    val anyMatch = ts.map(t => s"tf_$t > 0").mkString(" OR ")
    val tfList = ts.map(t => s"tf_$t").mkString(", ")
    s"""WITH t AS (SELECT doc_id, source,
       |            regexp_split_to_array(lower(text), '\\s+') AS toks FROM documents),
       |c AS (SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS dl,
       |$tfCols
       |      FROM t),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |              CAST(SUM(dl) AS BIGINT) AS total_toks,
       |$dfCols
       |       FROM c),
       |sc AS (SELECT doc_id, source, dl, $tfList,
       |         CAST($scoreTerms AS BIGINT) AS score_milli
       |       FROM c, st WHERE $anyMatch)
       |SELECT * FROM sc
       |ORDER BY score_milli DESC, doc_id
       |LIMIT ${operators.PipelineOps.Bm25K}""".stripMargin
  }

  /** Shared by q49 (one-shot) and s30 (the ingest fold): exact lower
    * medians selected from sorted lists, cross-multiplied k·MAD verdict.
    */
  private val AnomalyMadOracle: String =
    """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hb FROM events),
      |h AS (SELECT event_type, hb, CAST(COUNT(*) AS BIGINT) AS n_events
      |      FROM e GROUP BY 1, 2),
      |m1 AS (SELECT event_type, list_sort(list(n_events)) AS ls FROM h GROUP BY 1),
      |md AS (SELECT event_type, ls[(len(ls) + 1) // 2] AS med FROM m1),
      |d AS (SELECT h.event_type, h.hb, h.n_events, md.med,
      |             abs(h.n_events - md.med) AS dev
      |      FROM h JOIN md USING (event_type)),
      |m2 AS (SELECT event_type, list_sort(list(dev)) AS ls FROM d GROUP BY 1),
      |ma AS (SELECT event_type, ls[(len(ls) + 1) // 2] AS mad FROM m2)
      |SELECT d.event_type, make_timestamp(hb * 3600000000) AS bucket_ts,
      |       n_events, med, ma.mad, dev,
      |       dev * 1000 > 4500 * greatest(ma.mad, 1) AS is_anomaly
      |FROM d JOIN ma USING (event_type)
      |ORDER BY event_type, bucket_ts""".stripMargin

  private val SurprisalOracle: String =
    """WITH tk AS (SELECT doc_id,
      |              unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      |            FROM documents),
      |tk2 AS (SELECT doc_id, term FROM tk WHERE term <> ''),
      |c AS (SELECT term, COUNT(*) AS cnt FROM tk2 GROUP BY 1),
      |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_toks FROM c)
      |SELECT doc_id, COUNT(*) AS n_toks,
      |       CAST(SUM(length(printf('%b', total_toks)) -
      |                length(printf('%b', cnt))) AS BIGINT) AS sum_surprisal_bits,
      |       CAST(SUM(length(printf('%b', total_toks)) -
      |                length(printf('%b', cnt))) * 1000
      |            // COUNT(*) AS BIGINT) AS mean_surprisal_millibits
      |FROM tk2 JOIN c USING (term) CROSS JOIN t
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Shared t31/t32 markup CTE: DuckDB mirror of TextOps.SectionedMarkup
    * (h1 = source, intro quarter with <b>/<a> spans, two h2 sections —
    * three for even doc_ids — headed by the doc's leading words). Ends at
    * the `m` CTE without a trailing comma.
    */
  private val SectionedMarkupCtes: String =
    """d AS (SELECT doc_id, text, source, length(text) AS L, length(text) // 4 AS q,
      |             regexp_split_to_array(trim(text), '\s+') AS w
      |      FROM documents),
      |m AS (SELECT doc_id,
      |        '<h1>' || source || '</h1><p><b>' || w[1] || '</b> ' ||
      |        substr(text, 1, q) ||
      |        ' <a href="https://docs.example/' || CAST(doc_id AS VARCHAR) ||
      |        '">ref</a></p>' ||
      |        '<h2>' || w[2] || '</h2><p>' || substr(text, q + 1, q) || '</p>' ||
      |        '<h2>' || w[3] || '</h2><p>' ||
      |        CASE WHEN doc_id % 2 = 0
      |             THEN substr(text, 2*q + 1, q) || '</p><h2>' || w[4] ||
      |                  '</h2><p>' || substr(text, 3*q + 1, L - 3*q)
      |             ELSE substr(text, 2*q + 1, L - 2*q) END ||
      |        '</p>' AS markup
      |      FROM d)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // t31: heading-path sectioning — markup split on <h2>, per-element
    // capture-group extraction, tag-strip + whitespace-collapse (t01 law)
    "t31_html_sections" ->
      s"""WITH $SectionedMarkupCtes,
        |p AS (SELECT doc_id, regexp_extract(markup, '<h1>(.*?)</h1>', 1) AS h1,
        |             regexp_split_to_array(markup, '<h2>') AS parts FROM m),
        |x AS (SELECT doc_id, h1, gi AS sec_idx, parts[gi + 1] AS part
        |      FROM p, UNNEST(range(0, len(parts))) t(gi)),
        |y AS (SELECT doc_id, sec_idx,
        |        CASE WHEN sec_idx = 0 THEN h1
        |             ELSE h1 || ' > ' || regexp_extract(part, '^(.*?)</h2>', 1)
        |        END AS heading_path,
        |        trim(regexp_replace(regexp_replace(
        |          regexp_extract(part, '<p>(.*?)</p>', 1),
        |          '<[^>]+>', ' ', 'g'), '\\s+', ' ', 'g')) AS sec_text
        |      FROM x)
        |SELECT doc_id, sec_idx, heading_path, sec_text,
        |       CAST(CASE WHEN length(sec_text) = 0 THEN 0
        |            ELSE len(regexp_split_to_array(sec_text, '\\s+'))
        |            END AS BIGINT) AS n_tokens
        |FROM y ORDER BY doc_id, sec_idx""".stripMargin,
    // t32: markdown conversion — the same capture-group rewrite chain, \\1
    // refs + 'g' flag (t11 convention), literal newlines via chr(10)
    "t32_markdown_export" ->
      s"""WITH $SectionedMarkupCtes,
        |md AS (SELECT doc_id, markup,
        |         trim(regexp_replace(regexp_replace(
        |           regexp_replace(regexp_replace(regexp_replace(regexp_replace(markup,
        |             '<h1>(.*?)</h1>', '# \\1' || chr(10) || chr(10), 'g'),
        |             '<h2>(.*?)</h2>', '## \\1' || chr(10) || chr(10), 'g'),
        |             '<a href="(.*?)">(.*?)</a>', '[\\2](\\1)', 'g'),
        |             '<b>(.*?)</b>', '**\\1**', 'g'),
        |             '</p>', chr(10) || chr(10), 'g'),
        |           '<p>', '', 'g')) AS markdown
        |       FROM m)
        |SELECT doc_id, markdown,
        |       CAST(len(regexp_extract_all(markup, '<h[12]>')) AS BIGINT) AS n_headings,
        |       CAST(len(regexp_extract_all(markup, '<a href=')) AS BIGINT) AS n_links,
        |       CAST(len(regexp_extract_all(markup, '<b>')) AS BIGINT) AS n_bold,
        |       CAST(length(markdown) AS BIGINT) AS md_len
        |FROM md ORDER BY doc_id""".stripMargin,
    "t23_bpe_pairs" -> BpeOracle,
    "t26_bpe_encode" -> BpeEncodeOracle,
    // t27: all-integer rule arithmetic; regexp_replace needs the 'g' flag
    // to match Spark's replace-all (verify-skill gotcha)
    "t27_rule_gate" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |         string_split_regex(trim(lower(text)), '\\s+') AS toks,
         |         CAST(len(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS w_chars
         |  FROM documents),
         |s AS (SELECT doc_id, source, w_chars,
         |        CAST(len(toks) AS BIGINT) AS n_words,
         |        CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
         |        CAST(list_contains(toks, 'the')::INT + list_contains(toks, 'a')::INT
         |           + list_contains(toks, 'and')::INT + list_contains(toks, 'of')::INT
         |           + list_contains(toks, 'to')::INT + list_contains(toks, 'in')::INT
         |           + list_contains(toks, 'is')::INT AS BIGINT) AS n_stop_types
         |      FROM t)
         |SELECT doc_id, source, n_words, w_chars, n_distinct, n_stop_types,
         |       (n_words BETWEEN ${operators.TextOps.RuleMinWords}
         |                    AND ${operators.TextOps.RuleMaxWords}) AS rule_word_count,
         |       (w_chars >= n_words * 3 AND w_chars <= n_words * 10) AS rule_mean_len,
         |       (n_stop_types >= 2) AS rule_stopwords,
         |       (n_distinct * 2 >= n_words) AS rule_diversity,
         |       ((n_words BETWEEN ${operators.TextOps.RuleMinWords}
         |                     AND ${operators.TextOps.RuleMaxWords})
         |        AND (w_chars >= n_words * 3 AND w_chars <= n_words * 10)
         |        AND (n_stop_types >= 2)
         |        AND (n_distinct * 2 >= n_words)) AS pass
         |FROM s ORDER BY doc_id""".stripMargin,
    // t33: the linear-classifier score replayed feature by feature — all
    // integer ppm arithmetic (// ≡ div, greatest-guarded denominators),
    // weights inlined from the shared Scala constants
    "t33_classifier_gate" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |         string_split_regex(trim(lower(text)), '\\s+') AS toks,
         |         CAST(len(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS w_chars
         |  FROM documents),
         |f AS (SELECT doc_id, source, w_chars,
         |        CAST(len(toks) AS BIGINT) AS n_words,
         |        CAST(len(list_filter(toks, x -> list_contains(
         |          ['the','a','and','of','to','in','is'], x))) AS BIGINT) AS n_stop,
         |        CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
         |      FROM t),
         |g AS (SELECT doc_id, source, n_words,
         |        1000000 * n_stop // greatest(n_words, 1) AS f_stop_ppm,
         |        1000000 * n_distinct // greatest(n_words, 1) AS f_div_ppm,
         |        1000 * w_chars // greatest(n_words, 1) AS f_len_x1000
         |      FROM f),
         |sc AS (SELECT *,
         |         4 * f_stop_ppm + f_div_ppm - 150 * abs(f_len_x1000 - 4500)
         |           + 2000 * least(n_words, 100) - ${operators.TextOps.ClfBias} AS score
         |       FROM g)
         |SELECT doc_id, source, n_words, f_stop_ppm, f_div_ppm, f_len_x1000,
         |       score, score >= 0 AS keep, abs(score) AS margin
         |FROM sc ORDER BY doc_id""".stripMargin,
    // t35: the script-suffix rebuild + codepoint-range counts replayed —
    // identical literal char-class ranges in Java regex and RE2, DESC
    // list sort for the second-script readout
    "t35_script_mix" ->
      """WITH p AS (SELECT doc_id,
        |             text || repeat(CASE CAST(doc_id % 4 AS INT)
        |                 WHEN 1 THEN ' привет мир'
        |                 WHEN 2 THEN ' 你好世界天地人和'
        |                 WHEN 3 THEN ' مرحبا بالعالم'
        |                 ELSE '' END,
        |               CAST(n_chars // 8 AS INT)) AS txt
        |           FROM documents),
        |c AS (SELECT doc_id,
        |        CAST(length(txt) - len(regexp_extract_all(txt, '\s')) AS BIGINT) AS n_all,
        |        CAST(len(regexp_extract_all(txt, '[A-Za-z]')) AS BIGINT) AS c_latin,
        |        CAST(len(regexp_extract_all(txt, '[Ѐ-ӿ]')) AS BIGINT) AS c_cyr,
        |        CAST(len(regexp_extract_all(txt, '[一-鿿]')) AS BIGINT) AS c_cjk,
        |        CAST(len(regexp_extract_all(txt, '[؀-ۿ]')) AS BIGINT) AS c_arab,
        |        CAST(len(regexp_extract_all(txt, '[0-9]')) AS BIGINT) AS c_digit
        |      FROM p),
        |m AS (SELECT doc_id, n_all,
        |        c_latin * 1000000 // greatest(n_all, 1) AS latin_ppm,
        |        c_cyr * 1000000 // greatest(n_all, 1) AS cyr_ppm,
        |        c_cjk * 1000000 // greatest(n_all, 1) AS cjk_ppm,
        |        c_arab * 1000000 // greatest(n_all, 1) AS arab_ppm,
        |        c_digit * 1000000 // greatest(n_all, 1) AS digit_ppm
        |      FROM c)
        |SELECT doc_id, n_all,
        |       CAST(latin_ppm AS BIGINT) AS latin_ppm,
        |       CAST(cyr_ppm AS BIGINT) AS cyr_ppm,
        |       CAST(cjk_ppm AS BIGINT) AS cjk_ppm,
        |       CAST(arab_ppm AS BIGINT) AS arab_ppm,
        |       CAST(digit_ppm AS BIGINT) AS digit_ppm,
        |       CASE WHEN latin_ppm >= cyr_ppm AND latin_ppm >= cjk_ppm
        |                 AND latin_ppm >= arab_ppm THEN 'latin'
        |            WHEN cyr_ppm >= cjk_ppm AND cyr_ppm >= arab_ppm THEN 'cyrillic'
        |            WHEN cjk_ppm >= arab_ppm THEN 'cjk'
        |            ELSE 'arabic' END AS dominant,
        |       list_sort([latin_ppm, cyr_ppm, cjk_ppm, arab_ppm], 'DESC')[2]
        |         > 100000 AS is_mixed
        |FROM m ORDER BY doc_id""".stripMargin,
    // t34: the importance-ratio law replayed — HALF-bit logs via
    // printf('%b') of the SQUARE (t30's rendering-length law, one digit
    // finer), add-one target smoothing as +1/vocab-mass integers, negative
    // milli division truncates toward zero on both engines, and the
    // top-quarter histogram cutoff keeps the boundary tie block
    "t34_dsir_weights" ->
      s"""WITH tk AS (SELECT doc_id, source,
         |              unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
         |            FROM documents),
         |tk2 AS (SELECT doc_id, source, term FROM tk WHERE term <> ''),
         |raw AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt_raw,
         |               CAST(SUM(CASE WHEN source = '${operators.TextOps.DsirTarget}'
         |                             THEN 1 ELSE 0 END) AS BIGINT) AS cnt_t
         |        FROM tk2 GROUP BY 1),
         |model AS (SELECT term, cnt_raw, cnt_t + 1 AS cnt_tgt FROM raw),
         |tot AS (SELECT CAST(SUM(cnt_raw) AS BIGINT) AS total_raw,
         |               CAST(SUM(cnt_tgt) AS BIGINT) AS total_tgt FROM model),
         |sc AS (SELECT doc_id, source,
         |         CAST((length(printf('%b', total_raw * total_raw))
         |             - length(printf('%b', cnt_raw * cnt_raw)))
         |            - (length(printf('%b', total_tgt * total_tgt))
         |             - length(printf('%b', cnt_tgt * cnt_tgt)))
         |           AS BIGINT) AS imp
         |       FROM tk2 JOIN model USING (term), tot),
         |agg AS (SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_toks,
         |               CAST(SUM(imp) AS BIGINT) AS imp_halfbits_total,
         |               CAST(SUM(imp) * 1000 // COUNT(*) AS BIGINT) AS mean_imp_milli
         |        FROM sc GROUP BY doc_id, source),
         |pool AS (SELECT * FROM agg
         |         WHERE source <> '${operators.TextOps.DsirTarget}'),
         |q AS (SELECT (COUNT(*) + 3) // 4 AS quota FROM pool),
         |hist AS (SELECT mean_imp_milli AS v, COUNT(*) AS c
         |         FROM pool GROUP BY 1),
         |cum AS (SELECT v, SUM(c) OVER (ORDER BY v DESC
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |        FROM hist),
         |cut AS (SELECT MAX(CASE WHEN cum >= quota THEN v END) AS cutoff
         |        FROM cum, q)
         |SELECT doc_id, source, n_toks, imp_halfbits_total, mean_imp_milli,
         |       (source <> '${operators.TextOps.DsirTarget}'
         |        AND mean_imp_milli >= cutoff) AS selected
         |FROM agg, cut ORDER BY doc_id""".stripMargin,
    // t28: the full CDC law replayed — W-token window poly31 hashes
    // (d02's gram CTE shape at k=4), cut ends where hash ≡ 0 mod D,
    // boundary lists rebuilt with list ops (DuckDB arrays 1-based like
    // Spark element_at; cuts[-1] = last on both), chunk digest = poly31
    // of the space-joined chunk (the kernel's composition is
    // value-identical — the gram_hashes31 property spec pins it)
    "t28_cdc_chunks" ->
      s"""WITH $CdcChunkCtes
         |SELECT doc_id, chunk_idx, start_tok, n_toks, chunk_hash,
         |       CAST(COUNT(*) OVER (PARTITION BY chunk_hash) AS BIGINT) AS n_copies,
         |       COUNT(*) OVER (PARTITION BY chunk_hash) > 1 AS is_dup
         |FROM cr ORDER BY doc_id, chunk_idx""".stripMargin,
    // s25: the oracle is a from-scratch rebuild over SURVIVING docs —
    // hash-equality against Spark's build-then-decrement fold proves the
    // tombstone merge is the group inverse of ingest (erasure-exactly-once)
    "s25_erasure_fold" ->
      s"""WITH $CdcChunkCtes
         |SELECT chunk_hash, CAST(COUNT(*) AS BIGINT) AS n_copies,
         |       COUNT(*) > 1 AS is_dup
         |FROM cr
         |WHERE doc_id % ${operators.EndToEnd.ErasureMod} <> ${operators.EndToEnd.ErasureResidue}
         |GROUP BY chunk_hash
         |ORDER BY chunk_hash""".stripMargin,
    // t29: the shared CDC CTEs, a copy-count window, flagged spans per
    // doc, t25's token-filter excision (empty array_to_string is NULL in
    // DuckDB — COALESCE, the t25 lesson); chunks never overlap so
    // removed = plain SUM
    "t29_chunk_boilerplate" ->
      s"""WITH $CdcChunkCtes,
         |fl AS (SELECT doc_id, start_tok, n_toks,
         |              COUNT(*) OVER (PARTITION BY chunk_hash) AS n_copies
         |       FROM cr),
         |spl AS (SELECT doc_id,
         |               list(struct_pack(s := start_tok, n := n_toks)) AS sps,
         |               CAST(SUM(n_toks) AS BIGINT) AS removed
         |        FROM fl WHERE n_copies >= ${operators.TextOps.BoilerplateCopies}
         |        GROUP BY doc_id)
         |SELECT w.doc_id, CAST(len(w.t) AS BIGINT) AS n_tokens,
         |       COALESCE(sl.removed, 0) AS removed_tokens,
         |       COALESCE(array_to_string(list_filter(w.t, (x, j) ->
         |         sl.sps IS NULL OR
         |         len(list_filter(sl.sps, sp -> j >= sp.s AND j < sp.s + sp.n)) = 0),
         |         ' '), '') AS clean_text
         |FROM w LEFT JOIN spl sl USING (doc_id)
         |ORDER BY w.doc_id""".stripMargin,
    // t30 + s26: whole-bit surprisal — bits(x) = length of x's binary
    // rendering on both engines (no floating log in the hash); BIGINT div
    // truncates like Spark's div (operands positive). s26's 3-batch
    // additive census fold must reach t30's one-shot scores bit-for-bit
    // (associativity), so the two keys SHARE the oracle text
    "t30_surprisal" -> SurprisalOracle,
    "s26_census_fold" -> SurprisalOracle,
    // s29 drives the SAME census contract through the transformWithState
    // StatefulProcessor (batch mode), so it shares the oracle too — an
    // API-migration regression fails the hash gate
    "s29_census_tws" -> SurprisalOracle,
    // s27: lateness vs the per-type event-time high-water mark in arrival
    // (event_id) order — exactly the quantity a Spark watermark compares
    // against; ppm loss at 1m/10m/1h candidate delays, all-integer
    "s27_watermark_audit" ->
      """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us FROM events),
        |hw AS (SELECT event_type, ts_us,
        |         MAX(ts_us) OVER (PARTITION BY event_type ORDER BY event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm_us
        |       FROM e),
        |l AS (SELECT event_type,
        |        GREATEST(0, COALESCE(hwm_us - ts_us, 0)) AS late_us FROM hw),
        |a AS (SELECT event_type, COUNT(*) AS n_events,
        |        CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS late_events,
        |        MAX(late_us) // 1000000 AS max_late_sec,
        |        CAST(SUM(CASE WHEN late_us > 60000000 THEN 1 ELSE 0 END) AS BIGINT) AS d1m,
        |        CAST(SUM(CASE WHEN late_us > 600000000 THEN 1 ELSE 0 END) AS BIGINT) AS d10m,
        |        CAST(SUM(CASE WHEN late_us > 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS d1h
        |      FROM l GROUP BY event_type)
        |SELECT event_type, n_events, late_events,
        |       late_events * 1000000 // n_events AS late_ppm,
        |       max_late_sec,
        |       d1m * 1000000 // n_events AS drop_ppm_1m,
        |       d10m * 1000000 // n_events AS drop_ppm_10m,
        |       d1h * 1000000 // n_events AS drop_ppm_1h
        |FROM a ORDER BY event_type""".stripMargin,
    // s23: the oracle rebuilds the chunk store GLOBALLY in one shot from
    // the shared CDC CTEs — hash-equality against Spark's 3-batch
    // incremental fold proves the merge is associative (fold ≡ rebuild,
    // the s17 exactly-once contract); arrival-first owner under the total
    // order (batch, doc_id, chunk_idx) = Spark's least-struct
    "s23_chunk_ingest" ->
      s"""WITH $CdcChunkCtes,
         |r AS (SELECT doc_id, chunk_idx, chunk_hash,
         |             doc_id % ${graft.streaming.Streams.ChunkReplayBatches} AS batch
         |      FROM cr),
         |agg AS (SELECT chunk_hash, CAST(COUNT(*) AS BIGINT) AS n_copies
         |        FROM r GROUP BY 1),
         |fst AS (SELECT chunk_hash, CAST(batch AS BIGINT) AS first_batch,
         |               doc_id AS first_doc
         |        FROM r QUALIFY ROW_NUMBER() OVER (PARTITION BY chunk_hash
         |               ORDER BY batch, doc_id, chunk_idx) = 1)
         |SELECT a.chunk_hash, a.n_copies, f.first_batch, f.first_doc,
         |       a.n_copies > 1 AS is_dup
         |FROM agg a JOIN fst f USING (chunk_hash)
         |ORDER BY a.chunk_hash""".stripMargin,
    // s17: the oracle is the GLOBAL latest-wins winner per key under the
    // total order (ts, version, event_id) — hash-equality against Spark's
    // 3-batch incremental fold proves the sink merge is associative
    // (exactly-once: incremental state == from-scratch rebuild), and the
    // `live` column pins tombstone retention.
    "s17_cdc_replay" ->
      """WITH w AS (SELECT user_id AS key, event_type AS op, value AS version, ts,
        |             ROW_NUMBER() OVER (PARTITION BY user_id
        |               ORDER BY ts DESC, value DESC, event_id DESC) AS rn
        |           FROM events)
        |SELECT key, op, version, ts, (op <> 'error') AS live
        |FROM w WHERE rn = 1 ORDER BY key""".stripMargin,
    // s20: the folded sketch estimate is engine-specific; the oracle pins
    // the exact distinct count and asserts the fold's error-bound claim
    // TRUE (q24/q42 pattern) — a broken merge (double-count or drop) lands
    // far outside max(5%, 2) and fails the hash.
    "s20_sketch_fold" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
        |       TRUE AS fold_within_bound
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // s22: one global window rebuilds the arrival-order numbering the fold
    // assigns incrementally — hash equality proves gap-free + batch-monotone
    "s22_stream_index" ->
      """SELECT doc_id, source, CAST(doc_id % 3 AS BIGINT) AS batch_idx,
        |       CAST(ROW_NUMBER() OVER (ORDER BY doc_id % 3, source, doc_id) - 1
        |            AS BIGINT) AS global_idx
        |FROM documents ORDER BY doc_id""".stripMargin,
    // s21: the co-partitioned interval join replayed; lag in whole seconds
    // via integer division (both engines truncate positive operands alike)
    "s21_stream_join" ->
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
        |       CAST((epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS BIGINT) AS lag_s
        |FROM events c JOIN events p ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |ORDER BY click_id, purchase_id""".stripMargin,
    // s18: soft-cap admission — admitted from the ALL-previous cumsum,
    // spent_before re-summed over admitted-only rows (the streaming fold's
    // frozen counter); budget constant mirrors Streams.SourceTokenBudget
    "s18_budget_admission" ->
      s"""WITH t AS (SELECT doc_id, source,
         |             CAST(LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+')) AS BIGINT)
         |               AS n_tokens
         |           FROM documents),
         |a AS (SELECT *,
         |        COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          < ${graft.streaming.Streams.SourceTokenBudget} AS admitted
         |      FROM t)
         |SELECT doc_id, source, n_tokens,
         |       CAST(COALESCE(SUM(CASE WHEN admitted THEN n_tokens END)
         |         OVER (PARTITION BY source ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |         AS spent_before,
         |       admitted
         |FROM a ORDER BY doc_id""".stripMargin,
    // s19: m06's fixed-boundary rule per blob — exclusive byte cumsum over
    // (source, doc_id) floor-divided by the shard budget
    "s19_shard_assign" ->
      s"""WITH b AS (SELECT doc_id, source,
         |             CAST(4 + OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS byte_len
         |           FROM documents)
         |SELECT doc_id, source, byte_len,
         |       CAST(COALESCE(SUM(byte_len) OVER (PARTITION BY source ORDER BY doc_id
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |         // ${graft.operators.Multimodal.ShardBytes} AS BIGINT) AS shard_idx
         |FROM b ORDER BY doc_id""".stripMargin,
    "q01_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        | FLOOR(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6 AS avg_qty,
        | COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    // q45: the oracle IS the full rebuild (q01's exact-decimal convention,
    // identical derivations) — hash-equality against the 3-batch partial
    // fold proves incremental MV refresh reaches the rebuild bit-for-bit
    // q46: dense hourly axis per type via range off the |types|-row
    // min/max agg; LAST_VALUE IGNORE NULLS is the carry-forward on both
    // engines; value sums DECIMAL-then-double (s01 law). SHARED with s28:
    // the fold's readout must hash-equal the one-shot resample.
    "q46_gap_fill" -> GapFillOracle,
    "s28_fill_fold" -> GapFillOracle,
    // m12: the two-tower alignment replayed — hash-trick text vector via
    // the shared poly31 (d = h % dims, sign = (h // dims) % 2), cosine on
    // DOUBLE[] (the d40 float32-return lesson), keep from the ROUNDED value
    "m12_align_gate" ->
      s"""WITH w AS (SELECT doc_id, source,
         |            regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
         |          FROM documents),
         |hs AS (SELECT doc_id, source,
         |         list_transform(toks, t -> ${CrossHashSql.poly31("t", 0)}) AS hs
         |       FROM w),
         |tv AS (SELECT doc_id, source, list_transform(range(0, ${operators.Multimodal.AlignDims}), d ->
         |         CAST(COALESCE(list_sum(list_transform(
         |           list_filter(hs, hh -> hh % ${operators.Multimodal.AlignDims} = d),
         |           hh -> CASE WHEN (hh // ${operators.Multimodal.AlignDims}) % 2 = 1
         |                      THEN 1 ELSE -1 END)), 0) AS DOUBLE)) AS tvec
         |       FROM hs),
         |j AS (SELECT tv.doc_id, tv.source,
         |        CASE WHEN list_sum(list_transform(tv.tvec, x -> abs(x))) = 0 THEN 0.0
         |             ELSE list_cosine_similarity(tv.tvec, CAST(e.embedding AS DOUBLE[]))
         |        END AS c
         |      FROM tv JOIN embeddings e ON e.vec_id = tv.doc_id)
         |SELECT doc_id, source,
         |       FLOOR(c * 1000000 + 0.5) / 1000000 AS align,
         |       FLOOR(c * 1000000 + 0.5) / 1000000 >= 0 AS keep
         |FROM j ORDER BY doc_id""".stripMargin,
    // q50: the oracle recomputes the expected rollup from the RAW columns
    // (never re-parsing the document) — any variant coercion/misroute on
    // the Spark side splits the hash
    "q50_variant_json" ->
      """WITH e AS (SELECT event_type, user_id,
        |             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS micros,
        |             CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |           FROM events)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(k) AS BIGINT) AS sum_k,
        |       CAST(SUM(micros) AS BIGINT) AS sum_micros,
        |       CAST(MAX(user_id) AS BIGINT) AS max_user,
        |       CAST(COUNT(*) AS BIGINT) AS n_absent
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q49: exact lower medians selected from sorted lists (1-based index
    // on both engines), cross-multiplied k·MAD verdict — all integer.
    // SHARED with s30: the fold's readout must hash-equal the one-shot.
    "q49_anomaly_mad" -> AnomalyMadOracle,
    "s30_anomaly_fold" -> AnomalyMadOracle,
    // q47: the per-order fold with every array op replaced by a plain or
    // windowed aggregate — list()-typed aggregates buffer whole per-group
    // lists in untracked DuckDB memory (150M orders at x1000 blew a 60GB
    // cap; the x1000 gate's q47 failure class). `flags` is a DISTINCT
    // ordered string_agg (list-free, same memory profile as bool_or flags
    // but with NO domain assumption — a generator adding a fourth
    // returnflag changes the value on both sides instead of surfacing as
    // an opaque hash mismatch); the top-3 quantities come from a
    // ROW_NUMBER window (spill-tracked) and a ≤3-element ordered
    // string_agg. Value-identical: equal qty ties render the same joined
    // string under either tie order.
    "q47_array_suite" ->
      """WITH l AS (SELECT l_orderkey, l_linenumber,
        |             CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS qty_c,
        |             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c,
        |             l_returnflag AS flag
        |           FROM lineitem),
        |a AS (SELECT l_orderkey,
        |        CAST(COUNT(*) AS BIGINT) AS n_lines,
        |        CAST(SUM(qty_c) AS BIGINT) AS qty_cents,
        |        CAST(SUM(qty_c * price_c) AS BIGINT) AS weighted_cents,
        |        CAST(SUM((qty_c >= 3000)::INT) AS BIGINT) AS n_heavy,
        |        string_agg(DISTINCT flag, '' ORDER BY flag) AS flags
        |      FROM l GROUP BY l_orderkey),
        |r AS (SELECT l_orderkey, qty_c,
        |        ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY qty_c DESC) AS rn
        |      FROM l),
        |t AS (SELECT l_orderkey,
        |        string_agg(CAST(qty_c AS VARCHAR), ',' ORDER BY rn) AS top3_qty
        |      FROM r WHERE rn <= 3 GROUP BY l_orderkey)
        |SELECT a.l_orderkey, a.n_lines, a.qty_cents, a.weighted_cents,
        |       a.n_heavy, a.flags, t.top3_qty
        |FROM a JOIN t USING (l_orderkey) ORDER BY l_orderkey""".stripMargin,
    // q48: the window law replayed on DuckDB's window engine (an
    // independent RANGE-frame implementation); the spec additionally pins
    // the law against brute-force NOT EXISTS dominance on small data
    "q48_skyline" ->
      """WITH o AS (SELECT o_orderpriority AS pri, o_orderkey, o_totalprice,
        |             o_orderdate,
        |             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c,
        |             epoch_us(o_orderdate) AS date_us
        |           FROM orders),
        |w AS (SELECT *,
        |        MIN(date_us) OVER (PARTITION BY pri ORDER BY price_c DESC
        |          RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmin,
        |        MIN(date_us) OVER (PARTITION BY pri, price_c) AS eqmin
        |      FROM o)
        |SELECT pri, o_orderkey, o_totalprice, o_orderdate
        |FROM w
        |WHERE (runmin IS NULL OR runmin > date_us) AND date_us = eqmin
        |ORDER BY pri, o_totalprice DESC, o_orderkey""".stripMargin,
    "q45_mv_maintenance" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        | FLOOR(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6 AS avg_qty,
        | COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1996-12-31 00:00:00'
        |  AND l_quantity < 10
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q03_join_broadcast" ->
      """SELECT n_name,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        | COUNT(*) AS line_count
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "q04_join_shuffle" ->
      """SELECT o_orderkey, o_orderdate, o_orderstatus,
        | COUNT(*) AS line_count,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey, o_orderdate, o_orderstatus
        |HAVING COUNT(*) >= 5
        |ORDER BY o_orderkey""".stripMargin,
    "q05_topk" ->
      """SELECT o_orderkey, o_totalprice, o_orderdate, o_orderpriority
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 20""".stripMargin,
    "q06_distinct" ->
      """SELECT DISTINCT c_mktsegment, c_nationkey
        |FROM customer
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin,
    "q07_window_latest" ->
      """SELECT user_id, event_id, ts, event_type FROM (
        |  SELECT user_id, event_id, ts, event_type,
        |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1
        |ORDER BY user_id""".stripMargin,
    "q08_semi_join" ->
      """SELECT o_orderkey, o_totalprice
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
        |ORDER BY o_orderkey""".stripMargin,
    "q09_anti_join" ->
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q10_set_ops" ->
      """SELECT nk FROM (
        |  (SELECT DISTINCT c_nationkey AS nk FROM customer)
        |  UNION
        |  (SELECT DISTINCT s_nationkey FROM supplier)
        |  EXCEPT
        |  (SELECT n_nationkey FROM nation WHERE n_regionkey = 0)
        |) t ORDER BY nk""".stripMargin,
    "q11_rollup" ->
      """SELECT COALESCE(c_mktsegment, 'ALL') AS segment,
        |       COALESCE(c_nationkey, -1) AS nationkey,
        |       COUNT(*) AS cust_count,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer
        |GROUP BY ROLLUP (c_mktsegment, c_nationkey)
        |ORDER BY segment, nationkey""".stripMargin,
    "q12_conditional_agg" ->
      """SELECT n_name,
        | CAST(SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS BIGINT) AS automobile,
        | CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING'   THEN 1 ELSE 0 END) AS BIGINT) AS building,
        | CAST(SUM(CASE WHEN c_mktsegment = 'FURNITURE'  THEN 1 ELSE 0 END) AS BIGINT) AS furniture,
        | CAST(SUM(CASE WHEN c_mktsegment = 'HOUSEHOLD'  THEN 1 ELSE 0 END) AS BIGINT) AS household,
        | CAST(SUM(CASE WHEN c_mktsegment = 'MACHINERY'  THEN 1 ELSE 0 END) AS BIGINT) AS machinery,
        | COUNT(*) AS total
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "q13_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice
        |FROM orders
        |WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,
    "q14_time_bucket" ->
      """SELECT DATE_TRUNC('hour', ts) AS bucket, event_type,
        |       COUNT(*) AS event_count,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY bucket, event_type""".stripMargin,
    "q15_string_suite" ->
      """SELECT p_partkey,
        |       UPPER(SUBSTRING(p_name, 1, 8)) AS name_prefix,
        |       LENGTH(p_name) AS name_len,
        |       REGEXP_REPLACE(p_type, '[aeiou]', '', 'g') AS type_novowel,
        |       CONCAT_WS('|', p_brand, p_type) AS brand_type
        |FROM part
        |WHERE p_name LIKE '%ol%'
        |ORDER BY p_partkey""".stripMargin,
    "q16_json_extract" ->
      """SELECT event_type, COUNT(*) AS n,
        |       MIN(CAST(props->>'k' AS BIGINT)) AS min_k,
        |       MAX(CAST(props->>'k' AS BIGINT)) AS max_k,
        |       CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events WHERE props->>'k' IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q17_salted_join" ->
      """SELECT o_orderstatus, COUNT(*) AS line_count,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q18_window_suite" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        | ROW_NUMBER() OVER w AS seq,
        | LAG(o_totalprice, 1) OVER w AS prev_price,
        | LEAD(o_totalprice, 1) OVER w AS next_price,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing3_total
        |FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q19_percentiles" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        | FLOOR(quantile_cont(o_totalprice, 0.25) * 1e4 + 0.5) / 1e4 AS p25,
        | FLOOR(quantile_cont(o_totalprice, 0.5)  * 1e4 + 0.5) / 1e4 AS p50,
        | FLOOR(quantile_cont(o_totalprice, 0.75) * 1e4 + 0.5) / 1e4 AS p75,
        | FLOOR(quantile_cont(o_totalprice, 0.9)  * 1e4 + 0.5) / 1e4 AS p90
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q20_cube" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |       COALESCE(o_orderpriority, 'ALL') AS priority,
        |       COUNT(*) AS order_count,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    "q21_range_join" ->
      """WITH e AS (SELECT event_id AS anchor_id, user_id, ts AS a_ts
        |           FROM events WHERE event_type = 'error')
        |SELECT e.anchor_id, CAST(COUNT(x.event_id) AS BIGINT) AS n_follow
        |FROM e LEFT JOIN events x
        |  ON x.user_id = e.user_id AND x.ts >= e.a_ts
        | AND x.ts < e.a_ts + INTERVAL 1 HOUR AND x.event_id <> e.anchor_id
        |GROUP BY e.anchor_id ORDER BY anchor_id""".stripMargin,
    "q22_correlated_max" ->
      """SELECT o_custkey, o_orderkey, o_totalprice
        |FROM orders o
        |WHERE o_totalprice = (SELECT MAX(o2.o_totalprice) FROM orders o2
        |                      WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q23_grouping_sets" ->
      """SELECT COALESCE(c_mktsegment, 'ALL') AS segment,
        |       COALESCE(c_nationkey, -1) AS nationkey,
        |       COUNT(*) AS cust_count,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer
        |GROUP BY GROUPING SETS ((c_mktsegment, c_nationkey), (c_mktsegment), (c_nationkey))
        |ORDER BY segment, nationkey""".stripMargin,
    "q28_pivot" ->
      """SELECT user_id,
        |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
        |  COUNT(*) FILTER (WHERE event_type = 'error') AS error,
        |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  COUNT(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q29_unpivot" ->
      """SELECT l_orderkey, l_linenumber, m.measure, m.value
        |FROM lineitem, LATERAL (VALUES ('quantity', l_quantity),
        |                               ('extendedprice', l_extendedprice),
        |                               ('discount', l_discount)) AS m(measure, value)
        |WHERE l_orderkey % 10 = 0
        |ORDER BY l_orderkey, l_linenumber, m.measure""".stripMargin,
    "q32_outer_join" ->
      """WITH pu AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id)
        |SELECT COALESCE(c_custkey, user_id) AS key,
        |       (c_custkey IS NOT NULL) AS has_customer,
        |       (user_id IS NOT NULL) AS has_events,
        |       COALESCE(c_mktsegment, 'NONE') AS segment,
        |       COALESCE(n_events, 0) AS n_events
        |FROM customer FULL OUTER JOIN pu ON c_custkey = user_id
        |ORDER BY key""".stripMargin,
    "q31_topk_agg" ->
      """SELECT event_type, rank, value FROM (
        |  SELECT event_type, value,
        |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value DESC) AS rank
        |  FROM events)
        |WHERE rank <= 5 ORDER BY event_type, rank""".stripMargin,
    // q30: the quantile sketch is engine-specific; the oracle checks the
    // exact median (round-4) and asserts the rank-error claim TRUE
    "q30_approx_quantiles" ->
      """SELECT event_type,
        |       FLOOR(quantile_cont(value, 0.5) * 10000 + 0.5) / 10000 AS p50_exact,
        |       TRUE AS approx_within_bound
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q24: the HLL estimate itself is engine-specific; the checkable contract
    // is the exact count plus the error-bound claim as a boolean the oracle
    // asserts TRUE — Spark sketch drift outside max(5%, 2) fails the hash.
    "q24_approx_distinct" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
        |       TRUE AS approx_within_bound
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q25_det_sample" ->
      s"""SELECT doc_id, source, lang FROM documents
        |WHERE ${SampleHash.sql("doc_id")} % 1000 < 100
        |ORDER BY doc_id""".stripMargin,
    "q27_exists_composition" ->
      """SELECT o_orderkey, o_orderdate, o_totalprice
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem
        |                  WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
        |ORDER BY o_orderkey""".stripMargin,
    "q26_range_frame" ->
      """SELECT event_id, user_id, ts,
        |  COUNT(*) OVER w AS n_trailing_1h,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_trailing_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    // B. Reference-pipeline semantics
    "p01_pages_in_space" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE source = 'src3' ORDER BY doc_id""".stripMargin,
    "p02_updated_last_n_days" ->
      """SELECT event_id, ts, user_id, event_type FROM events
        |WHERE ts >= (SELECT MAX(ts) FROM events) - INTERVAL 7 DAY
        |ORDER BY event_id""".stripMargin,
    "p03_page_lookup" ->
      """SELECT doc_id, source, lang, n_chars FROM documents
        |WHERE doc_id = 42 OR (source = 'src1' AND text LIKE 'key%')
        |ORDER BY doc_id""".stripMargin,
    "p04_hierarchy_descendants" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id FROM documents WHERE doc_id = 5
        |  UNION ALL
        |  SELECT c.doc_id FROM documents c JOIN d ON c.doc_id >= 1 AND (c.doc_id - 1) // 2 = d.doc_id
        |)
        |SELECT x.doc_id, x.source, x.n_chars
        |FROM documents x WHERE x.doc_id IN (SELECT doc_id FROM d)
        |ORDER BY x.doc_id""".stripMargin,
    "p05_incremental_diff" ->
      """WITH state AS (SELECT doc_id, 2 AS state_version FROM documents WHERE doc_id % 5 <> 4),
        |cur AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 2 END AS version FROM documents)
        |SELECT COALESCE(cur.doc_id, state.doc_id) AS doc_id,
        |  CASE WHEN state.doc_id IS NULL THEN 'new'
        |       WHEN cur.version > state.state_version THEN 'updated'
        |       ELSE 'unchanged' END AS status,
        |  CAST(COALESCE(cur.version, -1) AS BIGINT) AS current_version,
        |  CAST(COALESCE(state.state_version, -1) AS BIGINT) AS state_version
        |FROM cur FULL OUTER JOIN state ON cur.doc_id = state.doc_id
        |ORDER BY doc_id""".stripMargin,
    "p06_state_upsert" ->
      """WITH state AS (SELECT doc_id, 2 AS version, source FROM documents WHERE doc_id % 5 <> 4),
        |upd AS (SELECT doc_id, 3 AS version, source FROM documents WHERE doc_id % 3 = 0),
        |m AS (SELECT * FROM state UNION ALL SELECT * FROM upd)
        |SELECT doc_id, CAST(MAX(version) AS BIGINT) AS version, MAX(source) AS source
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "p07_missing_from_state" ->
      """SELECT doc_id, source, lang FROM documents
        |WHERE doc_id % 5 = 4 ORDER BY doc_id""".stripMargin,
    "p08_dedup_latest" ->
      """SELECT user_id, event_type, event_id, ts FROM (
        |  SELECT user_id, event_type, event_id, ts,
        |         ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "p09_run_summary" ->
      """SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
        | CAST(SUM(CASE WHEN event_type IN ('purchase','signup') THEN 1 ELSE 0 END) AS BIGINT) AS processed,
        | CAST(SUM(CASE WHEN event_type IN ('view','click') THEN 1 ELSE 0 END) AS BIGINT) AS skipped,
        | CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS failed,
        | COUNT(*) AS total
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,
    "p10_partition_stats" ->
      """SELECT source, COUNT(*) AS doc_count,
        |       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |       CAST(COUNT(DISTINCT lang) AS BIGINT) AS lang_count
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "p19_training_mix" ->
      raw"""WITH c AS (SELECT doc_id, source, TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g')) AS cleaned
        |           FROM documents WHERE doc_id % 7 <> 3),
        |w AS (SELECT doc_id, source, cleaned, regexp_split_to_array(lower(cleaned), ' ') AS toks FROM c),
        |e AS (SELECT doc_id, source,
        |        CAST(len(toks) AS BIGINT) AS tokens,
        |        MD5(LOWER(cleaned)) AS content_md5,
        |        FLOOR((1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) * 10000 + 0.5) / 10000 AS rep_ratio,
        |        LEAST(1.0, LENGTH(cleaned) / 500.0) * 0.6 +
        |          (LEN(REGEXP_EXTRACT_ALL(LOWER(cleaned), '\b(the|a|and|of|to|in|is)\b')) /
        |           (CAST(len(toks) AS DOUBLE) + 1.0)) * 0.4 AS quality
        |      FROM w),
        |ut AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |       FROM documents),
        |upd AS (SELECT doc_id, term, COUNT(*) AS uk FROM ut WHERE term <> '' GROUP BY 1, 2),
        |uv AS (SELECT term, CAST(SUM(uk) AS BIGINT) AS uc FROM upd GROUP BY 1),
        |un AS (SELECT CAST(SUM(uc) AS BIGINT) AS u_total FROM uv),
        |ue AS (SELECT doc_id,
        |              CAST(SUM(uk * LENGTH(FORMAT('{:b}', u_total // uc))) AS BIGINT)
        |                / CAST(SUM(uk) AS BIGINT) AS bits_per_token
        |       FROM upd JOIN uv USING (term), un GROUP BY doc_id),
        |g AS (SELECT e.* FROM e JOIN ue USING (doc_id)
        |      WHERE quality >= 0.3 AND rep_ratio <= 0.6
        |        AND bits_per_token BETWEEN 1.0 AND 5.4),
        |k AS (SELECT *, MIN(doc_id) OVER (PARTITION BY content_md5) AS keeper_id FROM g),
        |ev AS (SELECT DISTINCT MD5(LOWER(TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g')))) AS eval_md5
        |       FROM documents WHERE doc_id % 7 = 3),
        |m AS (SELECT *, CASE WHEN source IN ('src0','src1') THEN 200 ELSE 50 END AS permille
        |      FROM k WHERE doc_id = keeper_id
        |        AND content_md5 NOT IN (SELECT eval_md5 FROM ev))
        |SELECT source, COUNT(*) AS docs_kept,
        |       CAST(SUM(tokens) AS BIGINT) AS tokens_kept,
        |       SUM(tokens * (1000.0 / permille)) AS weighted_tokens
        |FROM m WHERE ${SampleHash.sql("doc_id")} % 1000 < permille
        |GROUP BY source ORDER BY source""".stripMargin,
    "p16_render_manifest" ->
      ("""WITH m AS (
        |  SELECT doc_id, source, n_chars,
        |    LENGTH('<!DOCTYPE html>' || chr(10) || '<html>' || chr(10) || '<head>' || chr(10) ||
        |      '<meta charset="UTF-8">' || chr(10) ||
        |      '<meta name="viewport" content="width=device-width, initial-scale=1.0">' || chr(10) ||
        |      '<title>' || source || '/doc-' || doc_id || '</title>' || chr(10) ||
        |      '<style>body { font-family: Arial, sans-serif; line-height: 1.6; """ +
       """max-width: 1200px; margin: 0 auto; padding: 20px; }</style>' || chr(10) ||
        |      '</head>' || chr(10) || '<body>' || chr(10) ||
        |      '<h1>' || source || '/doc-' || doc_id || '</h1>' || chr(10) ||
        |      '<div class="content">' || chr(10) || text || chr(10) ||
        |      '</div>' || chr(10) || '</body>' || chr(10) || '</html>') AS html_len,
        |    CASE WHEN doc_id % 5 = 4 THEN 'new'
        |         WHEN doc_id % 3 = 0 THEN 'updated'
        |         ELSE 'unchanged' END AS content_type
        |  FROM documents)
        |SELECT doc_id, content_type,
        |  CASE WHEN content_type <> 'unchanged' THEN 'processed' ELSE 'skipped' END AS html_status,
        |  CASE WHEN content_type = 'unchanged' THEN 'skipped'
        |       WHEN n_chars >= 400 THEN 'failed'
        |       ELSE 'processed' END AS pdf_status,
        |  CASE WHEN content_type <> 'unchanged'
        |       THEN 'output/html/' || source || '/' || content_type || '/doc_' || doc_id || '.html' END AS html_path,
        |  CASE WHEN content_type <> 'unchanged' AND n_chars < 400
        |       THEN 'output/pdf/' || source || '/' || content_type || '/doc_' || doc_id || '.pdf' END AS pdf_path,
        |  CASE WHEN content_type <> 'unchanged' AND n_chars < 400
        |       THEN 1024 + 2 * html_len END AS pdf_bytes
        |FROM m ORDER BY doc_id""").stripMargin,
    "p17_render_stats" ->
      """WITH m AS (
        |  SELECT source,
        |    CASE WHEN doc_id % 5 = 4 OR doc_id % 3 = 0 THEN 'processed' ELSE 'skipped' END AS html_status,
        |    CASE WHEN doc_id % 5 <> 4 AND doc_id % 3 <> 0 THEN 'skipped'
        |         WHEN n_chars >= 400 THEN 'failed'
        |         ELSE 'processed' END AS pdf_status
        |  FROM documents)
        |SELECT source,
        |  COUNT(*) FILTER (WHERE html_status = 'processed') AS html_processed,
        |  COUNT(*) FILTER (WHERE html_status = 'skipped') AS html_skipped,
        |  COUNT(*) FILTER (WHERE html_status = 'failed') AS html_failed,
        |  COUNT(*) FILTER (WHERE pdf_status = 'processed') AS pdf_processed,
        |  COUNT(*) FILTER (WHERE pdf_status = 'skipped') AS pdf_skipped,
        |  COUNT(*) FILTER (WHERE pdf_status = 'failed') AS pdf_failed
        |FROM m GROUP BY source ORDER BY source""".stripMargin,
    "p18_text_search" -> TextSearchOracle,
    // p20 executes the same search through an inverted-postings plan; the
    // semantic contract (and so the oracle) is identical to p18
    "p20_indexed_search" -> TextSearchOracle,
    "p38_bm25_rank" -> Bm25Oracle,
    "p39_bm25_fold" -> Bm25Oracle,
    // t16: exact bit-length binning (no floating log at bin boundaries)
    "t16_token_spectrum" ->
      """WITH toks AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |              FROM documents),
        |f AS (SELECT term, COUNT(*) AS f FROM toks WHERE term <> '' GROUP BY 1)
        |SELECT CAST(LENGTH(FORMAT('{:b}', f)) AS BIGINT) AS bucket_bits,
        |       COUNT(*) AS n_terms, CAST(SUM(f) AS BIGINT) AS total_occurrences
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    "t17_edit_distance" ->
      """WITH h AS (SELECT doc_id, source, substr(text, 1, 40) AS head FROM documents),
        |p AS (SELECT source, doc_id, head,
        |             LEAD(doc_id) OVER w AS next_id, LEAD(head) OVER w AS next_head
        |      FROM h WINDOW w AS (PARTITION BY source ORDER BY doc_id))
        |SELECT source, doc_id, next_id,
        |       CAST(levenshtein(head, next_head) AS BIGINT) AS edit_dist
        |FROM p WHERE next_id IS NOT NULL ORDER BY source, doc_id""".stripMargin,
    // t18: quantized-log2 surprisal (binary-string bit length, the t16
    // trick) keeps the cross-entropy score all-integer until one final IEEE
    // long/long division — bit-exact on both engines where ln() would wobble
    "t18_entropy_score" ->
      """WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |              FROM documents),
        |pd AS (SELECT doc_id, term, COUNT(*) AS k FROM toks WHERE term <> '' GROUP BY 1, 2),
        |v AS (SELECT term, CAST(SUM(k) AS BIGINT) AS c FROM pd GROUP BY 1),
        |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM v),
        |d AS (SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_tokens,
        |             CAST(SUM(k * LENGTH(FORMAT('{:b}', n_total // c))) AS BIGINT) AS surprisal_bits
        |      FROM pd JOIN v USING (term), n GROUP BY doc_id)
        |SELECT doc_id, n_tokens, surprisal_bits,
        |       surprisal_bits / n_tokens AS bits_per_token
        |FROM d ORDER BY doc_id""".stripMargin,
    // t21: distinct 8-gram overlap vs the eval set; short docs excluded
    "t21_contamination_score" -> {
      val gram8 = (0 until 8).map(j => s"toks[gi+$j]").mkString(" || ' ' || ")
      s"""WITH w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
         |           FROM documents),
         |g AS (SELECT doc_id,
         |             unnest(list_distinct(CASE WHEN len(toks) < 8 THEN CAST([] AS VARCHAR[])
         |               ELSE list_transform(range(1, len(toks) - 6), gi -> $gram8) END)) AS g
         |      FROM w),
         |ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 7 = 3),
         |ne AS (SELECT doc_id, g.g,
         |              CASE WHEN g.g IN (SELECT g FROM ev) THEN 1 ELSE 0 END AS hit
         |       FROM g WHERE doc_id % 7 <> 3)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         |       CAST(SUM(hit) AS BIGINT) AS n_hits,
         |       CAST(SUM(hit) * 1000 // COUNT(*) AS BIGINT) AS contam_permille
         |FROM ne GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // t22: per-doc share of distinct 3-grams appearing in >= BoilerMinDf
    // docs of the same source (cross-doc boilerplate, not t13's intra-doc)
    "t22_cross_doc_repetition" ->
      s"""WITH w AS (SELECT doc_id, source,
         |             regexp_split_to_array(lower(trim(text)), '\\s+') AS toks FROM documents),
         |g AS (SELECT doc_id, source,
         |        list_distinct(CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
         |          ELSE list_transform(range(1, len(toks) - 1),
         |                 gi -> toks[gi] || ' ' || toks[gi+1] || ' ' || toks[gi+2]) END) AS grams
         |      FROM w),
         |e AS (SELECT doc_id, source, unnest(grams) AS gr FROM g),
         |f AS (SELECT source, gr FROM e GROUP BY source, gr
         |      HAVING COUNT(*) >= ${TextOps.BoilerMinDf}),
         |p AS (SELECT e.doc_id, COUNT(*) AS n_grams,
         |             SUM(CASE WHEN f.gr IS NOT NULL THEN 1 ELSE 0 END) AS flagged
         |      FROM e LEFT JOIN f ON e.source = f.source AND e.gr = f.gr
         |      GROUP BY e.doc_id)
         |SELECT g.doc_id,
         |       CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
         |       CAST(COALESCE(p.flagged, 0) AS BIGINT) AS flagged_grams,
         |       CAST(CASE WHEN COALESCE(p.n_grams, 0) = 0 THEN 0
         |            ELSE p.flagged * 1000 // p.n_grams END AS BIGINT) AS boiler_permille
         |FROM g LEFT JOIN p ON g.doc_id = p.doc_id ORDER BY g.doc_id""".stripMargin,
    // t24: maximal cross-doc exact duplicate spans — K-token windows,
    // duplicated when >= 2 distinct docs share one, islands merged while
    // consecutive starts are <= K apart (contiguous/overlapping coverage).
    // Replays the Spark plan: same 1-based slice, same lag-based islands.
    "t24_exact_substr" -> {
      val k = TextOps.SubstrK
      s"""WITH toks AS (SELECT doc_id,
         |                regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM documents),
         |win AS (SELECT doc_id, i, array_to_string(t[i:i+${k - 1}], ' ') AS w
         |        FROM toks, unnest(range(1, len(t) - ${k - 2})) AS u(i)
         |        WHERE len(t) >= $k),
         |dupw AS (SELECT w FROM win GROUP BY w HAVING COUNT(DISTINCT doc_id) >= 2),
         |hits AS (SELECT doc_id, i FROM win WHERE w IN (SELECT w FROM dupw)),
         |brks AS (SELECT doc_id, i,
         |           CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= $k
         |                THEN 0 ELSE 1 END AS brk FROM hits),
         |isl AS (SELECT doc_id, i,
         |          SUM(brk) OVER (PARTITION BY doc_id ORDER BY i) AS g FROM brks)
         |SELECT doc_id, CAST(MIN(i) AS BIGINT) AS span_start,
         |       CAST(MAX(i) - MIN(i) + $k AS BIGINT) AS span_tokens
         |FROM isl GROUP BY doc_id, g ORDER BY doc_id, span_start""".stripMargin
    },
    // t25: t24's span chain, then the excision — 1-based lambda index in
    // DuckDB matches Spark's 0-based j via j+1 on the Spark side.
    "t25_substr_removal" -> {
      val k = TextOps.SubstrK
      s"""WITH toks AS (SELECT doc_id,
         |                regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM documents),
         |win AS (SELECT doc_id, i, array_to_string(t[i:i+${k - 1}], ' ') AS w
         |        FROM toks, unnest(range(1, len(t) - ${k - 2})) AS u(i)
         |        WHERE len(t) >= $k),
         |dupw AS (SELECT w FROM win GROUP BY w HAVING COUNT(DISTINCT doc_id) >= 2),
         |hits AS (SELECT doc_id, i FROM win WHERE w IN (SELECT w FROM dupw)),
         |brks AS (SELECT doc_id, i,
         |           CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= $k
         |                THEN 0 ELSE 1 END AS brk FROM hits),
         |isl AS (SELECT doc_id, i,
         |          SUM(brk) OVER (PARTITION BY doc_id ORDER BY i) AS g FROM brks),
         |spn AS (SELECT doc_id, CAST(MIN(i) AS BIGINT) AS s,
         |               CAST(MAX(i) - MIN(i) + $k AS BIGINT) AS n
         |        FROM isl GROUP BY doc_id, g),
         |spl AS (SELECT doc_id, list(struct_pack(s := s, n := n)) AS sps,
         |               CAST(SUM(n) AS BIGINT) AS removed
         |        FROM spn GROUP BY doc_id)
         |SELECT tk.doc_id, CAST(len(tk.t) AS BIGINT) AS n_tokens,
         |       COALESCE(sl.removed, 0) AS removed_tokens,
         |       COALESCE(array_to_string(list_filter(tk.t, (x, j) ->
         |         sl.sps IS NULL OR
         |         len(list_filter(sl.sps, sp -> j >= sp.s AND j < sp.s + sp.n)) = 0),
         |         ' '), '') AS clean_text
         |FROM toks tk LEFT JOIN spl sl USING (doc_id)
         |ORDER BY tk.doc_id""".stripMargin
    },
    // t19: chunking — chunk 64 / overlap 16 / stride 48; chunk count
    // 1 + (max(n-17,0) // 48) mirrors the Spark sequence() bound exactly
    "t19_chunk_overlap" ->
      """WITH w AS (SELECT doc_id,
        |                  list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                              t -> t <> '') AS toks
        |           FROM documents),
        |c AS (SELECT doc_id, toks,
        |             unnest(range(0, greatest(len(toks) - 16 - 1, 0) // 48 + 1)) AS chunk_id
        |      FROM w)
        |SELECT doc_id, chunk_id, chunk_id * 48 AS start_tok,
        |       CAST(len(list_slice(toks, chunk_id*48 + 1, chunk_id*48 + 64)) AS BIGINT)
        |         AS n_chunk_tokens,
        |       array_to_string(list_slice(toks, chunk_id*48 + 1, chunk_id*48 + 64), ' ')
        |         AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    // t20: the oracle rebuilds the 4x1024 CMS counter-by-counter with the
    // shared poly31/affine constants — sketch estimates hash-compare exactly
    "t20_cms_heavy_hitters" ->
      s"""WITH toks AS (SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
         |                                        t -> t <> '')) AS term
         |              FROM documents),
         |tc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS true_n FROM toks GROUP BY 1),
         |th AS (SELECT term, true_n, ${CrossHashSql.poly31("term", 0)} AS h FROM tc),
         |buck AS (SELECT term, true_n, i,
         |                (((${CrossHashSql.AList})[i+1] * h + (${CrossHashSql.BList})[i+1])
         |                 % ${graft.functions.CrossHash.P}) % 1024 AS bucket
         |         FROM th, UNNEST(range(0, 4)) r(i)),
         |cnt AS (SELECT i, bucket, SUM(true_n) AS c FROM buck GROUP BY 1, 2),
         |top AS (SELECT term, true_n FROM tc ORDER BY true_n DESC, term LIMIT 20),
         |est AS (SELECT b.term, CAST(MIN(c.c) AS BIGINT) AS cms_n
         |        FROM buck b JOIN cnt c ON b.i = c.i AND b.bucket = c.bucket
         |        WHERE b.term IN (SELECT term FROM top)
         |        GROUP BY 1)
         |SELECT t.term, t.true_n, e.cms_n, e.cms_n >= t.true_n AS is_overestimate
         |FROM top t JOIN est e USING (term)
         |ORDER BY t.true_n DESC, t.term""".stripMargin,
    // p24: forward as-of — DuckDB ASOF with the inequality flipped
    "p24_asof_forward" ->
      """WITH p AS (SELECT user_id, ts AS p_ts, MAX(event_id) AS p_id
        |           FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |e AS (SELECT user_id, ts AS e_ts, event_id AS e_id
        |      FROM events WHERE event_type = 'error')
        |SELECT e.e_id, e.user_id, e.e_ts, p.p_id, p.p_ts
        |FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.e_ts <= p.p_ts
        |ORDER BY e_id""".stripMargin,
    // p29: both one-sided ASOF joins composed, verdict by microsecond
    // distance with ties to backward — mirrors asofJoinNearest's pickBack
    "p29_asof_nearest" ->
      """WITH p AS (SELECT user_id, ts AS p_ts, MAX(event_id) AS p_id
        |           FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |e AS (SELECT user_id, ts AS e_ts, event_id AS e_id
        |      FROM events WHERE event_type = 'error'),
        |b AS (SELECT e.e_id, e.user_id, e.e_ts, p.p_id AS b_id, p.p_ts AS b_ts
        |      FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.e_ts >= p.p_ts),
        |f AS (SELECT e.e_id, p.p_id AS f_id, p.p_ts AS f_ts
        |      FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.e_ts <= p.p_ts),
        |j AS (SELECT b.*, f.f_id, f.f_ts,
        |        (f_id IS NULL OR (b_id IS NOT NULL AND
        |           epoch_us(e_ts) - epoch_us(b_ts) <= epoch_us(f_ts) - epoch_us(e_ts)))
        |          AS pick_back
        |      FROM b JOIN f USING (e_id))
        |SELECT e_id, user_id, e_ts,
        |       CASE WHEN pick_back THEN b_id ELSE f_id END AS p_id,
        |       CASE WHEN pick_back THEN b_ts ELSE f_ts END AS p_ts,
        |       CASE WHEN b_id IS NULL AND f_id IS NULL THEN NULL
        |            WHEN pick_back THEN 'backward' ELSE 'forward' END AS direction
        |FROM j ORDER BY e_id""".stripMargin,
    "q35_multiset_ops" ->
      """WITH e AS (SELECT user_id, event_type, event_id % 2 = 0 AS even FROM events),
        |a AS (SELECT user_id, event_type FROM e WHERE even),
        |b AS (SELECT user_id, event_type FROM e WHERE NOT even),
        |c AS (SELECT user_id, COUNT(*) AS n_common
        |      FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY 1),
        |o AS (SELECT user_id, COUNT(*) AS n_only_even
        |      FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY 1)
        |SELECT COALESCE(c.user_id, o.user_id) AS user_id,
        |       COALESCE(n_common, 0) AS n_common,
        |       COALESCE(n_only_even, 0) AS n_only_even
        |FROM c FULL OUTER JOIN o ON c.user_id = o.user_id
        |ORDER BY user_id""".stripMargin,
    // q36: MAP-typed result serialized to canonical JSON at the gate (entry
    // order pinned by ORDER BY lang on both sides; the driver's comparator
    // hashes flat values only, so both engines emit the identical compact
    // to_json string)
    "q36_map_result" ->
      """SELECT source,
        |       to_json(map_from_entries(list(struct_pack(k := lang, v := n) ORDER BY lang))) AS lang_counts
        |FROM (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY 1, 2)
        |GROUP BY source ORDER BY source""".stripMargin,
    // q37: IS NOT DISTINCT FROM is DuckDB's null-safe `<=>`
    "q37_null_semantics" ->
      """WITH a AS (SELECT CASE WHEN user_id % 7 = 0 THEN NULL ELSE user_id END AS k
        |           FROM events),
        |g AS (SELECT k, COUNT(*) AS n FROM a GROUP BY k)
        |SELECT g.k, g.n, g2.n AS n2
        |FROM g JOIN g g2 ON g.k IS NOT DISTINCT FROM g2.k
        |ORDER BY g.k NULLS FIRST""".stripMargin,
    // q38: the oracle is the NAIVE one-window-per-type sweep — same result
    // as the engine's two-level bucketed formulation, different plan
    "q38_interval_sweep" ->
      """WITH iv AS (SELECT event_id, event_type, ts AS t0,
        |                   ts + to_seconds(60 + event_id % 240) AS t1
        |            FROM events),
        |pts AS (SELECT event_type, t0 AS t, 1 AS delta, event_id FROM iv
        |        UNION ALL
        |        SELECT event_type, t1, -1, event_id FROM iv),
        |run AS (SELECT event_type, t, delta, event_id,
        |               CAST(SUM(delta) OVER (PARTITION BY event_type
        |                                     ORDER BY t, delta, event_id
        |                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conc
        |        FROM pts)
        |SELECT event_type, date_trunc('hour', t) AS bucket,
        |       COUNT(*) AS n_points, MAX(conc) AS peak_concurrency
        |FROM run GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // p28: staleness in whole hours vs the freshest feed; 7d window is
    // anchored to the global max so the report is reproducible
    // p30: the two-phase enumeration must equal the one-reducer ROW_NUMBER
    // it replaces, exactly and gap-free
    "p30_global_index" ->
      """SELECT CAST(ROW_NUMBER() OVER (ORDER BY source, doc_id) - 1 AS BIGINT)
        |         AS global_idx,
        |       doc_id, source
        |FROM documents ORDER BY global_idx""".stripMargin,
    "p28_freshness_report" ->
      """WITH pt AS (SELECT event_type, MAX(ts) AS last_seen, COUNT(*) AS n_events
        |            FROM events GROUP BY 1),
        |g AS (SELECT MAX(last_seen) AS global_max FROM pt),
        |r AS (SELECT event_type, COUNT(*) AS n_last_7d
        |      FROM events, g WHERE ts >= global_max - INTERVAL 7 DAY GROUP BY 1)
        |SELECT pt.event_type, pt.last_seen, pt.n_events,
        |       CAST(COALESCE(r.n_last_7d, 0) AS BIGINT) AS n_last_7d,
        |       (CAST(FLOOR(epoch(g.global_max)) AS BIGINT)
        |        - CAST(FLOOR(epoch(pt.last_seen)) AS BIGINT)) // 3600 AS staleness_hours
        |FROM pt LEFT JOIN r USING (event_type), g
        |ORDER BY pt.event_type""".stripMargin,
    // q39: exact integer permille + second sums — no floating averages
    "q39_funnel" ->
      """WITH su AS (SELECT user_id, MIN(ts) AS signup_ts FROM events
        |            WHERE event_type = 'signup' GROUP BY 1),
        |cv AS (SELECT e.user_id, MIN(e.ts) AS purchase_ts
        |       FROM events e JOIN su USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts >= su.signup_ts
        |       GROUP BY 1)
        |SELECT CAST(date_trunc('week', signup_ts) AS TIMESTAMP) AS cohort_week,
        |       COUNT(*) AS n_signups,
        |       CAST(COUNT(purchase_ts) AS BIGINT) AS n_converted,
        |       CAST(SUM(CASE WHEN purchase_ts IS NOT NULL
        |                     THEN CAST(FLOOR(epoch(purchase_ts)) AS BIGINT)
        |                        - CAST(FLOOR(epoch(signup_ts)) AS BIGINT)
        |                     ELSE 0 END) AS BIGINT) AS total_latency_s,
        |       COUNT(purchase_ts) * 1000 // COUNT(*) AS conv_permille
        |FROM su LEFT JOIN cv USING (user_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q40: day-based integer offsets (datediff // 7 from each user's
    // anchor DAY) keep the offset math engine-neutral; cohort label is the
    // shared ISO date_trunc week
    "q40_retention" ->
      """WITH a AS (SELECT user_id, MIN(ts) AS anchor_ts FROM events
        |           WHERE event_type = 'signup' GROUP BY 1),
        |an AS (SELECT user_id, CAST(date_trunc('week', anchor_ts) AS DATE) AS cohort,
        |              CAST(anchor_ts AS DATE) AS anchor_day FROM a),
        |sz AS (SELECT cohort, COUNT(*) AS cohort_size FROM an GROUP BY 1),
        |r AS (SELECT an.cohort,
        |             date_diff('day', an.anchor_day, CAST(e.ts AS DATE)) // 7 AS week_offset,
        |             COUNT(DISTINCT e.user_id) AS n_active
        |      FROM events e JOIN an USING (user_id)
        |      WHERE CAST(e.ts AS DATE) >= an.anchor_day
        |        AND date_diff('day', an.anchor_day, CAST(e.ts AS DATE)) // 7 <= 3
        |      GROUP BY 1, 2)
        |SELECT r.cohort, CAST(r.week_offset AS BIGINT) AS week_offset,
        |       CAST(r.n_active AS BIGINT) AS n_active,
        |       CAST(sz.cohort_size AS BIGINT) AS cohort_size,
        |       r.n_active * 1000 // sz.cohort_size AS retention_permille
        |FROM r JOIN sz USING (cohort) ORDER BY 1, 2""".stripMargin,
    // q41: lead() under the same (ts, event_id) timeline tiebreak, permille
    // via integer division (q40 convention); row-total SUM window is
    // HUGEINT in DuckDB -> cast the divided result
    "q41_transitions" ->
      """WITH t AS (SELECT event_type,
        |             LEAD(event_type) OVER (PARTITION BY user_id
        |                                    ORDER BY ts, event_id) AS next_type
        |           FROM events),
        |m AS (SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
        |      FROM t WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |       CAST(n * 1000 // SUM(n) OVER (PARTITION BY from_type) AS BIGINT)
        |         AS p_permille
        |FROM m ORDER BY from_type, to_type""".stripMargin,
    // q42: the sketch estimate is engine-specific; the checkable contract is
    // the cube geometry (n_days = distinct daily cells merged per type), the
    // exact count, and the re-agg error-bound claim asserted TRUE (q24
    // pattern) — Spark sketch drift outside max(5%, 2) fails the hash.
    "q42_sketch_reagg" ->
      """SELECT event_type,
        |       COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
        |       COUNT(DISTINCT user_id) AS exact_users,
        |       TRUE AS reagg_within_bound
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q43: value-based quartiles (ties share a score — deterministic where
    // ntile is not); cutoff rank all-integer ((N*t+3)//4), monetary through
    // exact DECIMAL then floored to whole units (q14's value convention)
    "q43_rfm_segments" ->
      """WITH u AS (
        |  SELECT user_id, MAX(CAST(ts AS DATE)) AS last_day, COUNT(*) AS frequency,
        |         CAST(FLOOR(SUM(CAST(value AS DECIMAL(18,6)))) AS BIGINT) AS monetary_units
        |  FROM events GROUP BY 1),
        |g AS (SELECT MAX(last_day) AS gmax FROM u),
        |s AS (SELECT user_id,
        |             CAST(date_diff('day', last_day, g.gmax) AS BIGINT) AS recency_days,
        |             frequency, monetary_units FROM u, g),
        |cr AS (SELECT MIN(CASE WHEN cum >= (nu*1+3)//4 THEN v END) AS r1,
        |              MIN(CASE WHEN cum >= (nu*2+3)//4 THEN v END) AS r2,
        |              MIN(CASE WHEN cum >= (nu*3+3)//4 THEN v END) AS r3
        |       FROM (SELECT v, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS nu
        |             FROM (SELECT recency_days AS v, COUNT(*) AS c FROM s GROUP BY 1))),
        |cf AS (SELECT MIN(CASE WHEN cum >= (nu*1+3)//4 THEN v END) AS f1,
        |              MIN(CASE WHEN cum >= (nu*2+3)//4 THEN v END) AS f2,
        |              MIN(CASE WHEN cum >= (nu*3+3)//4 THEN v END) AS f3
        |       FROM (SELECT v, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS nu
        |             FROM (SELECT frequency AS v, COUNT(*) AS c FROM s GROUP BY 1))),
        |cm AS (SELECT MIN(CASE WHEN cum >= (nu*1+3)//4 THEN v END) AS m1,
        |              MIN(CASE WHEN cum >= (nu*2+3)//4 THEN v END) AS m2,
        |              MIN(CASE WHEN cum >= (nu*3+3)//4 THEN v END) AS m3
        |       FROM (SELECT v, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS nu
        |             FROM (SELECT monetary_units AS v, COUNT(*) AS c FROM s GROUP BY 1))),
        |q AS (SELECT user_id, recency_days, frequency, monetary_units,
        |        CAST(1 + (recency_days > r1)::INT + (recency_days > r2)::INT
        |               + (recency_days > r3)::INT AS BIGINT) AS r_quartile,
        |        CAST(1 + (frequency > f1)::INT + (frequency > f2)::INT
        |               + (frequency > f3)::INT AS BIGINT) AS f_quartile,
        |        CAST(1 + (monetary_units > m1)::INT + (monetary_units > m2)::INT
        |               + (monetary_units > m3)::INT AS BIGINT) AS m_quartile
        |      FROM s, cr, cf, cm)
        |SELECT user_id, recency_days, frequency, monetary_units,
        |       r_quartile, f_quartile, m_quartile,
        |       r_quartile * 100 + f_quartile * 10 + m_quartile AS segment
        |FROM q ORDER BY user_id""".stripMargin,
    // m10: the engine classifies FROM the blob's magic bytes; the oracle
    // replays the fixture law (magic chosen by doc_id mod 3) and the
    // payload digest over the UTF-8 bytes of text (the engine md5s the raw
    // payload binary, which for UTF-8-encoded fixtures equals DuckDB's
    // VARCHAR md5); strlen = BYTES in DuckDB, matching length(blob) - 4
    "m10_modality_route" ->
      """SELECT doc_id,
        |       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |            ELSE 'video' END AS modality,
        |       CAST(4 + strlen(text) AS BIGINT) AS byte_len,
        |       md5(text) AS payload_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    // m11: the oracle rebuilds the header string and replays the GRAMMAR —
    // fixed-offset substr fields, '0x'-cast hex decode, declared-vs-actual
    // verdict — rather than shortcutting from the fixture law; header is
    // ASCII so char offsets are byte offsets, and strlen (BYTES) mirrors
    // the engine's length(blob) - 14 on the payload
    // p37: the fixed side replays BOTH snapshots' shard assignments from
    // one window (current cumsum + a conditional cumsum that skips new
    // docs), manifests digest member md5s in doc_id order (m06's
    // string_agg law); the CDC side reuses the shared chunk CTEs and
    // classifies each (source, digest) by old-occurrence presence
    "p37_publish_diff" ->
      s"""WITH $CdcChunkCtes,
        |fb AS (SELECT doc_id, source, doc_id % 3 = 0 AS is_new,
        |         CAST(4 + OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS byte_len,
        |         md5('IMG0' || text) AS blob_md5
        |       FROM documents),
        |fc AS (SELECT *,
        |         COALESCE(SUM(byte_len) OVER wp, 0)
        |           // ${operators.Multimodal.ShardBytes} AS shard_cur,
        |         COALESCE(SUM(CASE WHEN NOT is_new THEN byte_len END) OVER wp, 0)
        |           // ${operators.Multimodal.ShardBytes} AS shard_base
        |       FROM fb
        |       WINDOW wp AS (PARTITION BY source ORDER BY doc_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |mc AS (SELECT source, shard_cur AS shard_idx,
        |         md5(string_agg(blob_md5, ',' ORDER BY doc_id)) AS cur_md5
        |       FROM fc GROUP BY 1, 2),
        |mb AS (SELECT source, shard_base AS shard_idx,
        |         md5(string_agg(blob_md5, ',' ORDER BY doc_id)) AS base_md5
        |       FROM fc WHERE NOT is_new GROUP BY 1, 2),
        |fx AS (SELECT mc.source, COUNT(*) AS fixed_total,
        |         CAST(SUM(CASE WHEN mb.base_md5 IS NULL OR mb.base_md5 <> mc.cur_md5
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS fixed_changed
        |       FROM mc LEFT JOIN mb
        |         ON mb.source = mc.source AND mb.shard_idx = mc.shard_idx
        |       GROUP BY 1),
        |cds AS (SELECT d.source, cr.chunk_hash,
        |          MAX(CASE WHEN d.doc_id % 3 <> 0 THEN 1 ELSE 0 END) AS in_base
        |        FROM cr JOIN documents d USING (doc_id) GROUP BY 1, 2),
        |cdt AS (SELECT source, COUNT(*) AS cdc_total,
        |          CAST(SUM(CASE WHEN in_base = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cdc_new
        |        FROM cds GROUP BY 1)
        |SELECT fx.source, fixed_total, fixed_changed,
        |       fixed_changed * 1000000 // fixed_total AS fixed_changed_ppm,
        |       cdc_total, cdc_new,
        |       cdc_new * 1000000 // cdc_total AS cdc_new_ppm
        |FROM fx JOIN cdt ON cdt.source = fx.source ORDER BY fx.source""".stripMargin,
    "m11_header_parse" ->
      """WITH b AS (SELECT doc_id, text,
        |        (CASE WHEN doc_id % 101 = 5 THEN 'XXXX' ELSE 'BLB1' END) ||
        |        lpad(upper(to_hex(doc_id % 256)), 2, '0') ||
        |        lpad(CAST(length(text) + CASE WHEN doc_id % 7 = 0 THEN 3 ELSE 0 END
        |                  AS VARCHAR), 8, '0') ||
        |        text AS s FROM documents),
        |p AS (SELECT doc_id, substr(s, 1, 4) AS magic,
        |        CAST('0x' || substr(s, 5, 2) AS BIGINT) AS version,
        |        CAST(substr(s, 7, 8) AS BIGINT) AS declared_len,
        |        CAST(strlen(s) - 14 AS BIGINT) AS actual_len,
        |        substr(s, 15) AS payload FROM b),
        |q AS (SELECT *, CASE WHEN magic <> 'BLB1' THEN 'bad_magic'
        |                     WHEN declared_len <> actual_len THEN 'length_mismatch'
        |                     ELSE 'ok' END AS status FROM p)
        |SELECT doc_id, magic, version, declared_len, actual_len, status,
        |       CASE WHEN status = 'ok' THEN md5(payload) END AS payload_md5
        |FROM q ORDER BY doc_id""".stripMargin,
    // q44: bit-by-bit interleave replay; 1::BIGINT forces 64-bit shifts
    // (a 32-bit `1 << 31` would overflow); epoch_us//1e6 ≡ unix_timestamp
    // for positive timestamps (s21 precedent)
    "q44_zorder" ->
      """WITH b AS (
        |  SELECT event_id,
        |         CAST(user_id % 256 AS BIGINT) AS x,
        |         CAST((epoch_us(ts) // 1000000 // 3600) % 256 AS BIGINT) AS y
        |  FROM events)
        |SELECT event_id, x, y,
        |       CAST(list_sum(list_transform(range(0, 16),
        |              i -> ((x >> i) & 1) * (1::BIGINT << (2*i))
        |                 + ((y >> i) & 1) * (1::BIGINT << (2*i+1))))
        |            AS BIGINT) AS zval
        |FROM b ORDER BY event_id""".stripMargin,
    // d18: same Knuth-hash ordering convention as d14's rate sampler
    "d18_quota_sample" ->
      s"""SELECT source, CAST(pick AS BIGINT) AS pick, doc_id, lang FROM (
        |  SELECT source, doc_id, lang,
        |         ROW_NUMBER() OVER (PARTITION BY source
        |                            ORDER BY ${SampleHash.sql("doc_id")}, doc_id) AS pick
        |  FROM documents)
        |WHERE pick <= 20 ORDER BY source, pick""".stripMargin,
    // d19: weighted quota mix — the config VALUES interpolate
    // Dedup.MixQuotaConfig so the engine and oracle budgets can never drift
    "d19_weighted_mix" ->
      s"""WITH cfg(source, cfg_quota) AS (VALUES ${operators.Dedup.MixQuotaConfig
            .map { case (src, q) => s"('$src', $q)" }.mkString(", ")}),
        |c AS (SELECT source, COUNT(*) AS n_source FROM documents GROUP BY 1),
        |r AS (SELECT source, doc_id, lang,
        |        ROW_NUMBER() OVER (PARTITION BY source
        |                           ORDER BY ${SampleHash.sql("doc_id")}, doc_id) AS pick
        |      FROM documents),
        |q AS (SELECT r.source, r.doc_id, r.lang, r.pick,
        |             CAST(COALESCE(cfg_quota, ${operators.Dedup.MixDefaultQuota}) AS BIGINT) AS quota
        |      FROM r LEFT JOIN cfg ON r.source = cfg.source)
        |SELECT q.source, CAST(pick AS BIGINT) AS pick, doc_id, lang,
        |       n_source / LEAST(quota, n_source) AS weight
        |FROM q JOIN c ON q.source = c.source
        |WHERE pick <= quota
        |ORDER BY q.source, pick""".stripMargin,
    // p25: the oracle walks ancestry recursively; the engine enumerates it
    // arithmetically per row (tree_ancestors kernel) — same pairs
    "p25_subtree_rollup" ->
      """WITH RECURSIVE anc AS (
        |  SELECT doc_id AS node, doc_id AS ancestor_id FROM documents
        |  UNION ALL
        |  SELECT node, (ancestor_id - 1) // 2 FROM anc WHERE ancestor_id >= 1
        |)
        |SELECT a.ancestor_id, COUNT(*) AS n_docs,
        |       CAST(SUM(d.n_chars) AS BIGINT) AS subtree_chars
        |FROM anc a JOIN documents d ON a.node = d.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // p26: concat-and-chunk packing manifest — budget 128 tokens, 2 shards;
    // a doc explodes into every sequence its [start, start+n) span overlaps
    "p26_sequence_packing" ->
      """WITH w AS (SELECT doc_id, source, doc_id % 2 AS shard,
        |                  len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                                  t -> t <> '')) AS n_toks
        |           FROM documents),
        |o AS (SELECT *, CAST(SUM(n_toks) OVER (PARTITION BY source, shard ORDER BY doc_id
        |                                       ROWS UNBOUNDED PRECEDING) - n_toks AS BIGINT)
        |                  AS start_off
        |      FROM w WHERE n_toks > 0),
        |e AS (SELECT source, shard, doc_id, n_toks, start_off,
        |             unnest(range(start_off // 128, (start_off + n_toks - 1) // 128 + 1)) AS seq_id
        |      FROM o)
        |SELECT source, shard, seq_id,
        |       COUNT(*) AS n_docs,
        |       CAST(SUM(LEAST((seq_id+1)*128, start_off + n_toks)
        |              - GREATEST(seq_id*128, start_off)) AS BIGINT) AS n_tokens,
        |       CAST(SUM(CASE WHEN start_off >= seq_id*128 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_starting,
        |       CAST(SUM(CASE WHEN start_off + n_toks > (seq_id+1)*128 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_straddling
        |FROM e GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // p27: d21 gate -> d09 decontaminate -> d01 dedup -> p26 packing, with
    // the stages replayed in the same order (WHERE before QUALIFY = the
    // anti-join before the dedup window)
    "p27_curated_packing" ->
      s"""WITH qx AS (SELECT doc_id, source, text, $QualitySql AS quality FROM documents),
        |h AS (SELECT source, quality, COUNT(*) AS c FROM qx GROUP BY 1, 2),
        |nn AS (SELECT source, COUNT(*) AS n FROM qx GROUP BY 1),
        |cum AS (SELECT h.source, h.quality,
        |               SUM(c) OVER (PARTITION BY h.source ORDER BY h.quality
        |                            ROWS UNBOUNDED PRECEDING) AS cum, nn.n
        |        FROM h JOIN nn USING (source)),
        |cut AS (SELECT source, MIN(quality) AS cutoff FROM cum
        |        WHERE cum >= CAST(CEIL(0.25 * n) AS BIGINT) GROUP BY 1),
        |tl AS (SELECT qx.doc_id, qx.source, qx.text
        |       FROM qx JOIN cut USING (source) WHERE qx.quality > cut.cutoff),
        |ev AS (SELECT DISTINCT MD5(REGEXP_REPLACE(LOWER(text), '\\s+', ' ', 'g')) AS fp
        |       FROM documents WHERE doc_id % 7 = 3),
        |fx AS (SELECT doc_id, source, text,
        |              MD5(REGEXP_REPLACE(LOWER(text), '\\s+', ' ', 'g')) AS fp
        |       FROM tl),
        |dd AS (SELECT doc_id, source, text FROM fx
        |       WHERE fp NOT IN (SELECT fp FROM ev)
        |       QUALIFY ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) = 1),
        |w AS (SELECT doc_id, source, doc_id % 2 AS shard,
        |             len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
        |                             t -> t <> '')) AS n_toks
        |      FROM dd),
        |o AS (SELECT *, CAST(SUM(n_toks) OVER (PARTITION BY source, shard ORDER BY doc_id
        |                                       ROWS UNBOUNDED PRECEDING) - n_toks AS BIGINT)
        |                  AS start_off
        |      FROM w WHERE n_toks > 0),
        |e AS (SELECT source, shard, doc_id, n_toks, start_off,
        |             unnest(range(start_off // 128, (start_off + n_toks - 1) // 128 + 1)) AS seq_id
        |      FROM o)
        |SELECT source, shard, seq_id,
        |       COUNT(*) AS n_docs,
        |       CAST(SUM(LEAST((seq_id+1)*128, start_off + n_toks)
        |              - GREATEST(seq_id*128, start_off)) AS BIGINT) AS n_tokens,
        |       CAST(SUM(CASE WHEN start_off >= seq_id*128 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_starting,
        |       CAST(SUM(CASE WHEN start_off + n_toks > (seq_id+1)*128 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_straddling
        |FROM e GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // p34: every card row replayed as exact integer arithmetic; quartiles
    // = smallest histogram value whose cumsum reaches CEIL(q·n) (d24's
    // convention); composition keyed into the metric name so the schema
    // is domain-independent
    "p34_dataset_card" ->
      s"""WITH b AS (SELECT lang, source, n_chars,
         |             CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT) AS n_toks,
         |             MD5(REGEXP_REPLACE(LOWER(text), '\\s+', ' ', 'g')) AS fp,
         |             CAST(FLOOR(($QualitySql) * 10000 + 0.5) AS BIGINT) AS q_e4
         |           FROM documents),
         |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |             CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
         |             CAST(SUM(n_chars) AS BIGINT) AS n_chars,
         |             CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct FROM b),
         |h AS (SELECT q_e4, COUNT(*) AS c FROM b GROUP BY 1),
         |hc AS (SELECT q_e4, SUM(c) OVER (ORDER BY q_e4 ROWS UNBOUNDED PRECEDING) AS cum FROM h)
         |SELECT metric, value FROM (
         |  SELECT 'n_docs' AS metric, n_docs AS value FROM g
         |  UNION ALL SELECT 'n_tokens', n_tokens FROM g
         |  UNION ALL SELECT 'n_chars', n_chars FROM g
         |  UNION ALL SELECT 'dup_ppm',
         |    CAST((n_docs - n_distinct) * 1000000 // n_docs AS BIGINT) FROM g
         |  UNION ALL SELECT 'mean_doc_tokens', CAST(n_tokens // n_docs AS BIGINT) FROM g
         |  UNION ALL SELECT 'lang_ppm:' || lang,
         |    CAST(COUNT(*) * 1000000 // (SELECT n_docs FROM g) AS BIGINT)
         |  FROM b GROUP BY lang
         |  UNION ALL SELECT 'source_ppm:' || source,
         |    CAST(COUNT(*) * 1000000 // (SELECT n_docs FROM g) AS BIGINT)
         |  FROM b GROUP BY source
         |  UNION ALL SELECT 'quality_q1_e4', CAST(MIN(q_e4) AS BIGINT) FROM hc
         |    WHERE cum >= CEIL(0.25 * (SELECT n_docs FROM g))
         |  UNION ALL SELECT 'quality_q2_e4', CAST(MIN(q_e4) AS BIGINT) FROM hc
         |    WHERE cum >= CEIL(0.50 * (SELECT n_docs FROM g))
         |  UNION ALL SELECT 'quality_q3_e4', CAST(MIN(q_e4) AS BIGINT) FROM hc
         |    WHERE cum >= CEIL(0.75 * (SELECT n_docs FROM g)))
         |ORDER BY metric""".stripMargin,
    // p36: each artifact section replays its operator's law (p26
    // placement, t28 CDC chain via the shared CTEs, d01 md5 groups) with
    // a max-deleted flag per unit; deletion law doc_id % 101 = 13
    "p36_erasure_impact" ->
      s"""WITH $CdcChunkCtes,
         |w2 AS (SELECT doc_id, source, doc_id % 2 AS shard,
         |              len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
         |                              tk -> tk <> '')) AS n_toks
         |       FROM documents),
         |o2 AS (SELECT *, CAST(SUM(n_toks) OVER (PARTITION BY source, shard ORDER BY doc_id
         |                                        ROWS UNBOUNDED PRECEDING) - n_toks AS BIGINT)
         |                   AS start_off
         |       FROM w2 WHERE n_toks > 0),
         |e2 AS (SELECT source, shard, doc_id,
         |              unnest(range(start_off // 128, (start_off + n_toks - 1) // 128 + 1)) AS seq_id
         |       FROM o2),
         |sq AS (SELECT source, shard, seq_id,
         |              MAX(CASE WHEN doc_id % ${EndToEnd.ErasureMod} = ${EndToEnd.ErasureResidue}
         |                       THEN 1 ELSE 0 END) AS hit
         |       FROM e2 GROUP BY 1, 2, 3),
         |cx AS (SELECT chunk_hash,
         |              MAX(CASE WHEN doc_id % ${EndToEnd.ErasureMod} = ${EndToEnd.ErasureResidue}
         |                       THEN 1 ELSE 0 END) AS hit
         |       FROM cr GROUP BY 1),
         |fpd AS (SELECT doc_id, MD5(REGEXP_REPLACE(LOWER(text), '\\s+', ' ', 'g')) AS fp
         |        FROM documents),
         |dg AS (SELECT fp, COUNT(*) AS n,
         |              MAX(CASE WHEN doc_id % ${EndToEnd.ErasureMod} = ${EndToEnd.ErasureResidue}
         |                       THEN 1 ELSE 0 END) AS hit
         |       FROM fpd GROUP BY 1),
         |u AS (
         |  SELECT 'documents' AS artifact,
         |         CAST(SUM(CASE WHEN doc_id % ${EndToEnd.ErasureMod} = ${EndToEnd.ErasureResidue}
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS impacted_units,
         |         CAST(COUNT(*) AS BIGINT) AS total_units FROM documents
         |  UNION ALL SELECT 'sequences', CAST(SUM(hit) AS BIGINT),
         |         CAST(COUNT(*) AS BIGINT) FROM sq
         |  UNION ALL SELECT 'chunks', CAST(SUM(hit) AS BIGINT),
         |         CAST(COUNT(*) AS BIGINT) FROM cx
         |  UNION ALL SELECT 'dup_groups', CAST(COALESCE(SUM(hit), 0) AS BIGINT),
         |         CAST(COUNT(*) AS BIGINT) FROM dg WHERE n >= 2)
         |SELECT artifact, impacted_units, total_units,
         |       CAST(impacted_units * 1000000 // GREATEST(total_units, 1) AS BIGINT)
         |         AS impact_ppm
         |FROM u ORDER BY artifact""".stripMargin,
    // p33: p27's stage predicates replayed with ORDERED attribution —
    // same cutoff CTEs, same fingerprint, same eval law; the dedup keeper
    // is a min-over-CASE window scoped to stage-1/2 survivors, so
    // 'kept' rows are provably p27's pre-packing corpus
    "p33_attrition_funnel" ->
      s"""WITH qx AS (SELECT doc_id, source, text, $QualitySql AS quality FROM documents),
        |h AS (SELECT source, quality, COUNT(*) AS c FROM qx GROUP BY 1, 2),
        |nn AS (SELECT source, COUNT(*) AS n FROM qx GROUP BY 1),
        |cum AS (SELECT h.source, h.quality,
        |               SUM(c) OVER (PARTITION BY h.source ORDER BY h.quality
        |                            ROWS UNBOUNDED PRECEDING) AS cum, nn.n
        |        FROM h JOIN nn USING (source)),
        |cut AS (SELECT source, MIN(quality) AS cutoff FROM cum
        |        WHERE cum >= CAST(CEIL(0.25 * n) AS BIGINT) GROUP BY 1),
        |ev AS (SELECT DISTINCT MD5(REGEXP_REPLACE(LOWER(text), '\\s+', ' ', 'g')) AS fp
        |       FROM documents WHERE doc_id % 7 = 3),
        |fl AS (SELECT qx.doc_id, qx.source, qx.quality,
        |              qx.quality <= cut.cutoff AS q_fail,
        |              MD5(REGEXP_REPLACE(LOWER(qx.text), '\\s+', ' ', 'g')) AS fp
        |       FROM qx JOIN cut USING (source)),
        |fl2 AS (SELECT *, fp IN (SELECT fp FROM ev) AS contam FROM fl),
        |k AS (SELECT *, MIN(CASE WHEN NOT q_fail AND NOT contam THEN doc_id END)
        |                  OVER (PARTITION BY fp) AS keeper_id
        |      FROM fl2)
        |SELECT doc_id, source, quality,
        |       CASE WHEN q_fail THEN 'quality'
        |            WHEN contam THEN 'contaminated'
        |            WHEN doc_id <> keeper_id THEN 'exact_dup'
        |            ELSE 'kept' END AS stage
        |FROM k ORDER BY doc_id""".stripMargin,
    // q34: total ordering via the o_orderkey tiebreaker makes the rank
    // fractions exact IEEE divisions on both engines
    "q34_window_dist" ->
      """SELECT o_orderkey, o_orderpriority,
        |       CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        |       PERCENT_RANK() OVER w AS pct_rank,
        |       CUME_DIST() OVER w AS cdist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "p23_cdc_merge" ->
      """SELECT user_id, event_type AS last_op, value, ts AS updated_at FROM (
        |  SELECT user_id, event_type, value, ts,
        |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE event_type IN ('signup', 'purchase', 'error'))
        |WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,
    // t15: linear-idf (N/df) keeps the score a single integer multiply +
    // IEEE division, bit-exact across engines where ln() would not be
    "t15_tfidf" ->
      """WITH toks AS (SELECT doc_id, source,
        |                     unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |              FROM documents),
        |t AS (SELECT * FROM toks WHERE term <> ''),
        |tf AS (SELECT source, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df
        |       FROM (SELECT DISTINCT doc_id, term FROM t) GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |sc AS (SELECT source, term, tf, df,
        |              CAST(tf * n_docs AS DOUBLE) / df AS score
        |       FROM tf JOIN df USING (term) CROSS JOIN n),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
        |                                   ORDER BY score DESC, term) AS rank FROM sc)
        |SELECT source, CAST(rank AS BIGINT) AS rank, term,
        |       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
        |FROM r WHERE rank <= 5 ORDER BY source, rank""".stripMargin,
    // p32: 3 unrolled iterations mirror the engine's lazy chain; damping at
    // contribution time ((rank*850000 // 1e6) // 3) keeps the integer
    // truncation identical on both engines; HUGEINT sums cast at each rank
    "p32_pagerank" ->
      """WITH d AS (SELECT doc_id FROM documents),
        |nn AS (SELECT MAX(doc_id) + 1 AS n FROM d),
        |e AS (SELECT doc_id AS src, ((doc_id % n) * 3 + 17) % n AS dst FROM d, nn
        |      UNION ALL SELECT doc_id, ((doc_id % n) * 5 + 34) % n FROM d, nn
        |      UNION ALL SELECT doc_id, ((doc_id % n) * 7 + 51) % n FROM d, nn),
        |r0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS rank_ppm FROM d),
        |c1 AS (SELECT dst, SUM(rank_ppm * 850000 // 1000000 // 3) AS m
        |       FROM e JOIN r0 ON e.src = r0.doc_id GROUP BY dst),
        |r1 AS (SELECT d.doc_id, CAST(150000 + COALESCE(m, 0) AS BIGINT) AS rank_ppm
        |       FROM d LEFT JOIN c1 ON d.doc_id = c1.dst),
        |c2 AS (SELECT dst, SUM(rank_ppm * 850000 // 1000000 // 3) AS m
        |       FROM e JOIN r1 ON e.src = r1.doc_id GROUP BY dst),
        |r2 AS (SELECT d.doc_id, CAST(150000 + COALESCE(m, 0) AS BIGINT) AS rank_ppm
        |       FROM d LEFT JOIN c2 ON d.doc_id = c2.dst),
        |c3 AS (SELECT dst, SUM(rank_ppm * 850000 // 1000000 // 3) AS m
        |       FROM e JOIN r2 ON e.src = r2.doc_id GROUP BY dst),
        |r3 AS (SELECT d.doc_id, CAST(150000 + COALESCE(m, 0) AS BIGINT) AS rank_ppm
        |       FROM d LEFT JOIN c3 ON d.doc_id = c3.dst)
        |SELECT doc_id, rank_ppm FROM r3 ORDER BY doc_id""".stripMargin,
    // p31: closed-open validity intervals mean at most one row per key at
    // any instant; anchor = global max ts − 15 days on both engines
    "p31_point_in_time" ->
      """WITH g AS (SELECT MAX(ts) - INTERVAL 15 DAY AS t0 FROM events),
        |h AS (SELECT user_id, event_id, value, ts AS valid_from,
        |             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
        |      FROM events WHERE event_type IN ('purchase', 'signup'))
        |SELECT user_id, event_id AS version_event_id, value, valid_from,
        |       g.t0 AS as_of
        |FROM h, g
        |WHERE valid_from <= g.t0 AND (valid_to IS NULL OR valid_to > g.t0)
        |ORDER BY user_id""".stripMargin,
    "p22_state_history" ->
      """SELECT user_id, event_id, value, ts AS valid_from,
        |       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        |       (LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL) AS is_current
        |FROM events WHERE event_type IN ('purchase', 'signup')
        |ORDER BY user_id, valid_from, event_id""".stripMargin,
    // p35: the retention verdict replayed — p22's history CTE, a second
    // rank window (desc, event_id tiebreak = Spark's total order), the
    // 7-day horizon off the global max, ordered CASE on valid_to (the
    // Delta-vacuum rule: an interval reaching past the horizon stays)
    "p35_retention_policy" ->
      s"""WITH h AS (SELECT user_id, event_id, ts AS valid_from,
         |             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
         |             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current,
         |             ROW_NUMBER() OVER (PARTITION BY user_id
         |               ORDER BY ts DESC, event_id DESC) AS version_rank
         |      FROM events WHERE event_type IN ('purchase', 'signup')),
         |a AS (SELECT MAX(ts) - INTERVAL 7 DAY AS horizon FROM events)
         |SELECT user_id, event_id, valid_from,
         |       CAST(version_rank AS BIGINT) AS version_rank,
         |       CASE WHEN is_current THEN 'current'
         |            WHEN valid_to > horizon THEN 'covered'
         |            WHEN version_rank <= ${operators.PipelineOps.RetentionKeepVersions}
         |              THEN 'version'
         |            ELSE 'purged' END AS reason,
         |       CASE WHEN is_current THEN 'current'
         |            WHEN valid_to > horizon THEN 'covered'
         |            WHEN version_rank <= ${operators.PipelineOps.RetentionKeepVersions}
         |              THEN 'version'
         |            ELSE 'purged' END <> 'purged' AS kept
         |FROM h CROSS JOIN a
         |ORDER BY user_id, valid_from, event_id""".stripMargin,
    // p21 reads a jsonl fixture with a truncated line planted for every
    // doc_id % 13 == 5; the oracle derives the same parsed/corrupt split
    // (and the parsed-id checksum) straight from documents
    "p21_tolerant_ingest" ->
      """SELECT 'corrupt' AS status, COUNT(*) AS n, CAST(NULL AS BIGINT) AS id_sum
        |FROM documents WHERE doc_id % 13 = 5
        |UNION ALL
        |SELECT 'parsed' AS status, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM documents WHERE doc_id % 13 <> 5
        |ORDER BY status""".stripMargin,
    "m03_binary_ingest" ->
      """SELECT doc_id,
        |       octet_length(encode('IMG0' || text)) AS byte_len,
        |       md5('IMG0' || text) AS content_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "m04_attachment_dedup" ->
      """SELECT md5('IMG0' || text) AS content_md5,
        |       COUNT(*) AS ref_count,
        |       MIN(doc_id) AS keeper_id,
        |       CAST(MAX(octet_length(encode('IMG0' || text))) AS BIGINT) AS byte_len
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "p11_html_render" ->
      ("""SELECT doc_id,
        | '<!DOCTYPE html>' || chr(10) || '<html>' || chr(10) || '<head>' || chr(10) ||
        | '<meta charset="UTF-8">' || chr(10) ||
        | '<meta name="viewport" content="width=device-width, initial-scale=1.0">' || chr(10) ||
        | '<title>' || source || '/doc-' || doc_id || '</title>' || chr(10) ||
        | '<style>body { font-family: Arial, sans-serif; line-height: 1.6; """ +
       """max-width: 1200px; margin: 0 auto; padding: 20px; }</style>' || chr(10) ||
        | '</head>' || chr(10) || '<body>' || chr(10) ||
        | '<h1>' || source || '/doc-' || doc_id || '</h1>' || chr(10) ||
        | '<div class="content">' || chr(10) || text || chr(10) ||
        | '</div>' || chr(10) || '</body>' || chr(10) || '</html>' AS html
        |FROM documents ORDER BY doc_id""").stripMargin,
    "p12_attachment_embed" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image/png' ELSE 'image/jpeg' END AS mime,
        |  'data:' || (CASE WHEN doc_id % 3 = 0 THEN 'image/png' ELSE 'image/jpeg' END) ||
        |  ';base64,' || to_base64(ENCODE('IMG0' || text)) AS data_url
        |FROM documents ORDER BY doc_id""".stripMargin,
    "p13_asof_join" ->
      """WITH p AS (SELECT user_id, ts AS p_ts, MAX(event_id) AS p_id
        |           FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |e AS (SELECT user_id, ts AS e_ts, event_id AS e_id
        |      FROM events WHERE event_type = 'error')
        |SELECT e.e_id, e.user_id, e.e_ts, p.p_id, p.p_ts
        |FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.e_ts >= p.p_ts
        |ORDER BY e_id""".stripMargin,
    "p15_asof_native" ->
      """WITH p AS (SELECT user_id, ts AS p_ts, MAX(event_id) AS p_id
        |           FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |e AS (SELECT user_id, ts AS e_ts, event_id AS e_id
        |      FROM events WHERE event_type = 'error')
        |SELECT e.e_id, e.user_id, e.e_ts, p.p_id, p.p_ts
        |FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.e_ts >= p.p_ts
        |ORDER BY e_id""".stripMargin,
    "p14_corpus_pipeline" ->
      """WITH c AS (
        |  SELECT doc_id, source, lang,
        |         TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g')) AS cleaned
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, source, lang, cleaned,
        |    CAST(LEN(REGEXP_SPLIT_TO_ARRAY(cleaned, ' ')) AS BIGINT) AS tokens,
        |    LEAST(1.0, LENGTH(cleaned) / 500.0) * 0.6 +
        |      (LEN(REGEXP_EXTRACT_ALL(LOWER(cleaned), '\b(the|a|and|of|to|in|is)\b')) /
        |       (CAST(LEN(REGEXP_SPLIT_TO_ARRAY(cleaned, ' ')) AS DOUBLE) + 1.0)) * 0.4 AS quality,
        |    MD5(LOWER(cleaned)) AS content_md5
        |  FROM c),
        |k AS (SELECT *, MIN(doc_id) OVER (PARTITION BY content_md5) AS keeper_id FROM e)
        |SELECT doc_id, source, lang, tokens, quality,
        |  '<!DOCTYPE html><html><head><title>' || source || '/doc-' || doc_id ||
        |  '</title></head><body><div class="content">' || cleaned ||
        |  '</div></body></html>' AS html
        |FROM k WHERE doc_id = keeper_id AND quality >= 0.3
        |ORDER BY doc_id""".stripMargin,
    // C. Text / markup processing
    "t01_html_clean" ->
      """SELECT doc_id, TRIM(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(
        | '<html><head><script type="x">junk()</script><style>.a{}</style></head><body><p>' || text || '</p><![CDATA[cdata-junk]]><div class="footer">end</div></body></html>',
        | '<script[^>]*>[^<]*</script>', '', 'g'),
        | '<style[^>]*>[^<]*</style>', '', 'g'),
        | '<!\[CDATA\[|\]\]>', '', 'g'),
        | '<[^>]+>', ' ', 'g'),
        | '\s+', ' ', 'g')) AS cleaned
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t02_sanitize_filename" ->
      """SELECT doc_id,
        | SUBSTRING(REGEXP_REPLACE(LOWER(source || ' <' || SUBSTRING(text, 1, 24) || '>: v?'),
        |                          '[<>:"/\\|?*]', '_', 'g'), 1, 60) AS filename
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t03_mime_from_extension" ->
      """SELECT doc_id,
        | 'attachment_' || doc_id || '.' ||
        |   (CASE doc_id % 6 WHEN 0 THEN 'png' WHEN 1 THEN 'jpg' WHEN 2 THEN 'gif'
        |                    WHEN 3 THEN 'svg' WHEN 4 THEN 'webp' ELSE 'txt' END) AS filename,
        | CASE doc_id % 6 WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg' WHEN 2 THEN 'image/gif'
        |                 WHEN 3 THEN 'image/svg+xml' WHEN 4 THEN 'image/webp'
        |                 ELSE 'application/octet-stream' END AS mime
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t04_token_count" ->
      """SELECT doc_id,
        | CAST(LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')) AS BIGINT) AS ws_tokens,
        | CAST(LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens,
        | CAST(LENGTH(text) AS BIGINT) AS char_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t13_repetition" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, toks,
        |        CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
        |             ELSE list_transform(range(1, len(toks)), gi -> toks[gi] || ' ' || toks[gi+1]) END AS grams
        |      FROM w)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  FLOOR((1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) * 10000 + 0.5) / 10000 AS rep_ratio,
        |  CASE WHEN len(grams) = 0 THEN 0.0
        |       ELSE FLOOR(CAST(list_aggregate(list_transform(list_distinct(grams),
        |                    g -> len(list_filter(grams, x -> x = g))), 'max') AS DOUBLE)
        |                  / len(grams) * 10000 + 0.5) / 10000 END AS top_bigram_share
        |FROM g ORDER BY doc_id""".stripMargin,
    "d14_stratified_mix" ->
      s"""SELECT doc_id, source, lang,
        |       1000.0 / (CASE WHEN source IN ('src0','src1') THEN 200 ELSE 50 END) AS weight
        |FROM documents
        |WHERE ${SampleHash.sql("doc_id")} % 1000 <
        |      (CASE WHEN source IN ('src0','src1') THEN 200 ELSE 50 END)
        |ORDER BY doc_id""".stripMargin,
    // t14: combining marks injected decomposed (chr(769) = U+0301 acute,
    // chr(778) = U+030A ring); both engines NFC-compose then hash
    "t14_unicode_normalize" ->
      """WITH r AS (SELECT doc_id,
        |             'Cafe' || chr(769) || ' nr ' || doc_id || ' A' || chr(778) || ' ' || text AS raw
        |           FROM documents)
        |SELECT doc_id,
        |       length(raw) AS raw_chars,
        |       length(nfc_normalize(raw)) AS nfc_chars,
        |       md5(nfc_normalize(raw)) AS nfc_md5
        |FROM r ORDER BY doc_id""".stripMargin,
    // t05: the heuristic is deterministic regex counting + lexicographic
    // argmax, so the whole chain is SQL-expressible (zh range via RE2's
    // \x{...} escapes; struct comparison matches Spark's greatest-on-struct)
    "t05_lang_id" ->
      """WITH s AS (
        |  SELECT doc_id, lang,
        |    CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|is)\b')) AS INT) AS score_en,
        |    CAST(len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|ein)\b')) AS INT) AS score_de,
        |    CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|los|es)\b')) AS INT) AS score_es,
        |    CAST(len(regexp_extract_all(lower(text), '\b(le|la|et|les|des|est)\b')) AS INT) AS score_fr,
        |    CAST(len(regexp_extract_all(lower(text), '[\x{4e00}-\x{9fff}]')) AS INT) AS score_zh
        |  FROM documents),
        |g AS (SELECT doc_id, lang,
        |        list_sort([{'score': score_en, 'code': 'en'}, {'score': score_de, 'code': 'de'},
        |                   {'score': score_es, 'code': 'es'}, {'score': score_fr, 'code': 'fr'},
        |                   {'score': score_zh, 'code': 'zh'}])[5] AS pred
        |      FROM s)
        |SELECT doc_id, lang AS labeled_lang, pred.code AS predicted_lang, pred.score AS marker_hits
        |FROM g ORDER BY doc_id""".stripMargin,
    "t06_quality_score" ->
      s"""SELECT doc_id, $QualitySql AS quality, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // d21: the t06 score with per-source ntile calibration (shared formula)
    "d21_adaptive_quality_gate" ->
      s"""WITH q AS (SELECT doc_id, source, $QualitySql AS quality FROM documents),
        |t AS (SELECT doc_id, source, quality,
        |             CAST(NTILE(4) OVER (PARTITION BY source
        |                                 ORDER BY quality, doc_id) AS BIGINT) AS tile
        |      FROM q)
        |SELECT doc_id, source, quality, tile FROM t
        |WHERE tile > 1 ORDER BY doc_id""".stripMargin,
    // d23: the sketch cutoff is engine-specific (GK summary) — the oracle
    // asserts the claim rows (d13/q30 pattern): rank bound + gate identity
    // must hold for every source
    "d23_sketch_quality_gate" ->
      """SELECT source, COUNT(*) AS n_docs,
        |       true AS cutoff_within_bound, true AS gate_consistent
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // d25: band-granular token-budget curation — same quantized-histogram
    // machinery as d24, with token masses and a top-down cumsum; fully
    // replayable (cum stays a comparison operand; budget_used cast BIGINT)
    "d25_token_budget_mix" ->
      s"""WITH sc AS (SELECT doc_id, source, $QualitySql AS quality,
        |                   len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
        |                                   t -> t <> '')) AS tokens
        |            FROM documents),
        |b AS (SELECT source, quality, SUM(tokens) AS band_toks FROM sc GROUP BY 1, 2),
        |c AS (SELECT source, quality,
        |             SUM(band_toks) OVER (PARTITION BY source ORDER BY quality DESC
        |                                  ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM b),
        |k AS (SELECT source, MIN(quality) AS cutoff, CAST(MAX(cum) AS BIGINT) AS budget_used
        |      FROM c WHERE cum <= ${Dedup.BudgetTokens} GROUP BY 1)
        |SELECT sc.doc_id, sc.source, sc.quality, CAST(sc.tokens AS BIGINT) AS tokens,
        |       k.budget_used
        |FROM sc JOIN k USING (source)
        |WHERE sc.quality >= k.cutoff ORDER BY sc.doc_id""".stripMargin,
    // s16: the d24 cutoffs applied as an ingest admission summary
    "s16_stream_quality_gate" ->
      s"""WITH q AS (SELECT doc_id, source, $QualitySql AS quality FROM documents),
        |h AS (SELECT source, quality, COUNT(*) AS c FROM q GROUP BY 1, 2),
        |n AS (SELECT source, COUNT(*) AS n FROM q GROUP BY 1),
        |cum AS (SELECT h.source, h.quality,
        |               SUM(c) OVER (PARTITION BY h.source ORDER BY h.quality
        |                            ROWS UNBOUNDED PRECEDING) AS cum, n.n
        |        FROM h JOIN n USING (source)),
        |cut AS (SELECT source, MIN(quality) AS cutoff FROM cum
        |        WHERE cum >= CAST(CEIL(0.25 * n) AS BIGINT) GROUP BY 1)
        |SELECT q.source, COUNT(*) AS n_docs,
        |       CAST(SUM(CASE WHEN q.quality > cut.cutoff THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_admitted,
        |       CAST(SUM(CASE WHEN q.quality > cut.cutoff THEN 0 ELSE 1 END) AS BIGINT)
        |         AS n_blocked
        |FROM q JOIN cut USING (source)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // d24: exact quantized-histogram quartile — fully replayable: the
    // cumulative-count walk is integer arithmetic over bit-identical
    // quality values
    "d24_histogram_quality_gate" ->
      s"""WITH q AS (SELECT doc_id, source, $QualitySql AS quality FROM documents),
        |h AS (SELECT source, quality, COUNT(*) AS c FROM q GROUP BY 1, 2),
        |n AS (SELECT source, COUNT(*) AS n FROM q GROUP BY 1),
        |cum AS (SELECT h.source, h.quality,
        |               SUM(c) OVER (PARTITION BY h.source ORDER BY h.quality
        |                            ROWS UNBOUNDED PRECEDING) AS cum, n.n
        |        FROM h JOIN n USING (source)),
        |cut AS (SELECT source, MIN(quality) AS cutoff FROM cum
        |        WHERE cum >= CAST(CEIL(0.25 * n) AS BIGINT) GROUP BY 1)
        |SELECT q.doc_id, q.source, q.quality, cut.cutoff
        |FROM q JOIN cut USING (source)
        |WHERE q.quality > cut.cutoff ORDER BY q.doc_id""".stripMargin,
    "t07_fingerprint" ->
      """SELECT doc_id, MD5(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')) AS content_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t08_ngram_topk" ->
      """WITH w AS (SELECT source, REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\s+') AS toks
        |           FROM documents),
        |b AS (SELECT source, toks[g] || ' ' || toks[g+1] AS bigram
        |      FROM w, UNNEST(range(1, LEN(toks))) AS t(g)),
        |c AS (SELECT source, bigram, COUNT(*) AS n FROM b GROUP BY source, bigram),
        |r AS (SELECT source, bigram, n,
        |             ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, bigram) AS rank
        |      FROM c)
        |SELECT source, CAST(rank AS BIGINT) AS rank, bigram, n
        |FROM r WHERE rank <= 10 ORDER BY source, rank""".stripMargin,
    // q33: t08's ranked counts rolled into an array-of-struct column,
    // serialized to canonical JSON at the gate — struct_pack field
    // names/order must match Spark's struct(rank, bigram, n) exactly, and
    // to_json's compact form is byte-identical across engines, so the
    // driver's flat-value hash can compare the nested result
    "q33_nested_topk" ->
      """WITH w AS (SELECT source, REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\s+') AS toks
        |           FROM documents),
        |b AS (SELECT source, toks[g] || ' ' || toks[g+1] AS bigram
        |      FROM w, UNNEST(range(1, LEN(toks))) AS t(g)),
        |c AS (SELECT source, bigram, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY source, bigram),
        |r AS (SELECT source, bigram, n,
        |             ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, bigram) AS rank
        |      FROM c)
        |SELECT source,
        |       to_json(list(struct_pack(rank := CAST(rank AS BIGINT), bigram := bigram, n := n)
        |                    ORDER BY rank)) AS top_bigrams
        |FROM r WHERE rank <= 5 GROUP BY source ORDER BY source""".stripMargin,
    "t10_stopword_filter" ->
      """WITH w AS (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\s+') AS toks
        |           FROM documents),
        |f AS (SELECT doc_id, toks,
        |             list_filter(toks, t -> NOT list_contains(['the','a','and','of','to','in','is'], t)) AS kept
        |      FROM w)
        |SELECT doc_id, ARRAY_TO_STRING(kept, ' ') AS filtered_text,
        |       CAST(LEN(toks) - LEN(kept) AS BIGINT) AS n_removed,
        |       CAST(LEN(kept) AS BIGINT) AS n_kept
        |FROM f ORDER BY doc_id""".stripMargin,
    "t11_image_normalize" ->
      """SELECT doc_id,
        |  REGEXP_REPLACE(
        |    '<p>' || SUBSTRING(text,1,20) || '</p><ac:image ac:width="300"><ri:attachment ri:filename="img' || doc_id || '.png" /></ac:image>',
        |    '<ac:image[^>]*>\s*<ri:attachment ri:filename="([^"]+)"\s*/>\s*</ac:image>',
        |    '<img src="attachments/\1" alt="\1">', 'g') AS html
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t12_code_extract" ->
      """WITH w AS (SELECT doc_id,
        |             REGEXP_EXTRACT_ALL(
        |               SUBSTRING(text,1,10) || '[code lang=scala]val x = ' || doc_id || '[/code] mid [code]second block[/code]',
        |               '\[code[^\]]*\](.*?)\[/code\]', 1) AS blocks
        |           FROM documents)
        |SELECT doc_id, CAST(i - 1 AS BIGINT) AS block_idx, blocks[i] AS code,
        |       CAST(LENGTH(blocks[i]) AS BIGINT) AS code_len
        |FROM w, UNNEST(range(1, LEN(blocks)+1)) AS t(i)
        |ORDER BY doc_id, block_idx""".stripMargin,
    "t09_pii_redact" ->
      """SELECT doc_id,
        |  REGEXP_REPLACE(REGEXP_REPLACE(
        |    text || ' Contact user' || doc_id || '@example.com or call 555-' || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now.',
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\b555-[0-9]{4}\b', '[PHONE]', 'g') AS redacted,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(text || ' Contact user' || doc_id || '@example.com or call 555-' || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now.',
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(text || ' Contact user' || doc_id || '@example.com or call 555-' || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now.',
        |    '\b555-[0-9]{4}\b')) AS BIGINT) AS n_phones
        |FROM documents ORDER BY doc_id""".stripMargin,
    // D. Dedup / similarity / multimodal
    // d02/d03/d10/d11 oracles replicate the full cross-engine kernel chain
    // (CrossHashSql): tokenize -> hash -> signature/fingerprint -> LSH bands
    // -> candidates. Same arithmetic, same band keys, same thresholds.
    // d02's keyed form is the bounded successor-window view: rank within
    // each band bucket by doc_id, pair each doc with its next-M members
    // only (M = Dedup.NeighborWindow) — the oracle replays the identical
    // deterministic selection via ROW_NUMBER + a rank-range join
    "d02_minhash_lsh" ->
      s"""WITH
         |${CrossHashSql.minhashCtes(3)},
         |rk AS (SELECT band_id, band_key, doc_id, sig,
         |         ROW_NUMBER() OVER (PARTITION BY band_id, band_key ORDER BY doc_id) AS rk
         |       FROM band),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |                a.sig AS sig_a, b.sig AS sig_b
         |         FROM rk a JOIN rk b
         |           ON a.band_id = b.band_id AND a.band_key = b.band_key
         |          AND b.rk BETWEEN a.rk + 1 AND a.rk + ${operators.Dedup.NeighborWindow})
         |SELECT DISTINCT doc_a, doc_b, ${CrossHashSql.estJaccard("sig_a", "sig_b")} AS est_jaccard
         |FROM cand
         |WHERE ${CrossHashSql.estJaccard("sig_a", "sig_b")} >= 0.3
         |ORDER BY doc_a, doc_b""".stripMargin,
    // d20: incremental dedup — the index side (doc_id % 3 != 0) is the
    // persisted banded-signature state; only the new batch joins into it
    "d20_incremental_dedup" ->
      s"""WITH
         |${CrossHashSql.minhashCtes(3)},
         |st AS (SELECT band_id, band_key, doc_id AS state_id, sig AS state_sig
         |       FROM band WHERE doc_id % 3 <> 0),
         |bt AS (SELECT band_id, band_key, doc_id, sig
         |       FROM band WHERE doc_id % 3 = 0),
         |m AS (SELECT bt.doc_id, COUNT(DISTINCT state_id) AS n_matches,
         |             MIN(state_id) AS matched_id
         |      FROM bt JOIN st USING (band_id, band_key)
         |      WHERE ${CrossHashSql.estJaccard("bt.sig", "st.state_sig")} >= 0.5
         |      GROUP BY 1)
         |SELECT d.doc_id, CAST(COALESCE(n_matches, 0) AS BIGINT) AS n_matches,
         |       COALESCE(n_matches, 0) > 0 AS is_dup, matched_id
         |FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
         |WHERE d.doc_id % 3 = 0 ORDER BY d.doc_id""".stripMargin,
    "d11_fuzzy_decontaminate" ->
      s"""WITH
         |${CrossHashSql.minhashCtes(3)},
         |cont AS (SELECT DISTINCT c.doc_id
         |         FROM band c JOIN band e
         |           ON c.band_id = e.band_id AND c.band_key = e.band_key
         |         WHERE c.doc_id % 7 <> 3 AND e.doc_id % 7 = 3
         |           AND ${CrossHashSql.estJaccard("c.sig", "e.sig")} >= 0.5)
         |SELECT doc_id, source, lang FROM documents
         |WHERE doc_id % 7 <> 3 AND doc_id NOT IN (SELECT doc_id FROM cont)
         |ORDER BY doc_id""".stripMargin,
    "d03_simhash" ->
      s"""WITH
         |${CrossHashSql.simhashCtes}
         |SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    // d43: identical near-dup contract at 120 bits / 4x30-bit bands — the
    // band space that does NOT saturate at 5M docs (see Dedup.simhashWide)
    "d43_simhash_wide" ->
      s"""WITH
         |${CrossHashSql.simhashWideCtes}
         |SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    // d44: d10's reachability closure over d43's wide edge set — same
    // recursive-CTE oracle shape, non-saturating candidate source
    "d44_neardup_clusters_wide" ->
      s"""WITH RECURSIVE
         |${CrossHashSql.simhashWideCtes},
         |e AS (SELECT doc_a AS ea, doc_b AS eb FROM cand WHERE hamming <= 3
         |      UNION ALL
         |      SELECT doc_b AS ea, doc_a AS eb FROM cand WHERE hamming <= 3),
         |reach AS (SELECT doc_id AS src, doc_id AS dst FROM documents
         |          UNION
         |          SELECT r.src, e.eb FROM reach r JOIN e ON r.dst = e.ea)
         |SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
         |ORDER BY doc_id""".stripMargin,
    "d10_neardup_clusters" ->
      s"""WITH RECURSIVE
         |${CrossHashSql.simhashCtes},
         |e AS (SELECT doc_a AS ea, doc_b AS eb FROM cand WHERE hamming <= 3
         |      UNION ALL
         |      SELECT doc_b AS ea, doc_a AS eb FROM cand WHERE hamming <= 3),
         |reach AS (SELECT doc_id AS src, doc_id AS dst FROM documents
         |          UNION
         |          SELECT r.src, e.eb FROM reach r JOIN e ON r.dst = e.ea)
         |SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
         |ORDER BY doc_id""".stripMargin,
    // d22: cluster-size histogram over the same reachability closure
    "d22_dedup_survivorship" ->
      s"""WITH RECURSIVE
         |$ClusterClosureCtes,
         |cs AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cl GROUP BY 1)
         |SELECT cluster_size, COUNT(*) AS n_clusters,
         |       CAST(SUM(cluster_size - 1) AS BIGINT) AS docs_removed,
         |       COUNT(*) AS docs_kept
         |FROM cs GROUP BY 1 ORDER BY 1""".stripMargin,
    // d26: split is a pure function of the cluster id over the same closure;
    // the SampleHash mirror makes the bucket arithmetic engine-identical
    "d26_cluster_split" ->
      s"""WITH RECURSIVE
         |$ClusterClosureCtes
         |SELECT doc_id, cluster_id,
         |       CASE WHEN ${SampleHash.sql("cluster_id")} % 100 < 90 THEN 'train'
         |            WHEN ${SampleHash.sql("cluster_id")} % 100 < 95 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM cl ORDER BY doc_id""".stripMargin,
    // d27: the |corpus| x |eval| score matrix Spark never materializes IS
    // the oracle's working set (fine at sf0.01); the (sim DESC, eid ASC)
    // row_number mirrors nearest_cosine's strict-> lowest-id tie-break.
    // PRECISION NOTE (measured round 11): list_cosine_similarity on
    // FLOAT[] accumulates in FLOAT32 (~1e-7 absolute error vs the double
    // kernel — the round-10 "bit-identical" claim was wrong; it survived
    // because e4-rounded outputs hide 1e-7). A float-sim rank flips only
    // sub-1e-7 margins: d27/d30/d40's nearest/rank margins are orders of
    // magnitude wider on generated data at every gated scale (hash-green
    // through x100), while the two keys whose DECISIONS live on engineered
    // near-ties (d28/d35) replay their decisive compares through
    // CrossHashSql.cosineDouble instead.
    //
    // Documented degenerate-case divergences (never reached on generated
    // data, both spec-guarded in DedupSimilaritySpec):
    //  - EMPTY eval set: Spark's nearest_cosine throws fail-fast
    //    (IllegalArgumentException, the nearest_centroid precedent), while
    //    this SQL silently returns zero rows. The eval predicate is
    //    data-independent (vec_id mod), so emptiness means a broken corpus
    //    read — loud beats empty.
    //  - ZERO-NORM vector: kernels.cosineF defines sim = 0.0, DuckDB's
    //    list_cosine_similarity yields NaN (which its ORDER BY sim DESC
    //    sorts HIGHEST, while Spark's strict > never selects it) — the
    //    spec asserts no zero-norm embeddings exist at any SF.
    "d27_semantic_decontaminate" ->
      s"""WITH ev AS (SELECT vec_id AS eid, embedding AS ee FROM embeddings
         |            WHERE vec_id % ${Similarity.SemEvalEvery} = ${Similarity.SemEvalResidue}
         |              AND vec_id < ${Similarity.SemEvalCap}),
         |sc AS (SELECT e.vec_id, ev.eid,
         |              list_cosine_similarity(e.embedding, ev.ee) AS sim
         |       FROM embeddings e CROSS JOIN ev),
         |r AS (SELECT vec_id, eid, sim,
         |             ROW_NUMBER() OVER (PARTITION BY vec_id
         |                                ORDER BY sim DESC, eid ASC) AS rn
         |      FROM sc)
         |SELECT vec_id, eid AS nearest_eval_id,
         |       CAST(CASE WHEN sim >= ${Similarity.SemThreshold} THEN 1 ELSE 0 END AS BIGINT)
         |         AS contaminated
         |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    // d28: full chain replayed — sampled codebook, argmax-cosine cell
    // assignment, within-cell lower-id witness at the quantized gap
    // threshold (see Similarity.SemDedupThreshold/E4).
    //
    // EXACT CROSS-ENGINE SCHEME (round 11 — this is what reclaimed d28/d35
    // into the 100x/1000x gates): DuckDB's native list_cosine_similarity
    // accumulates FLOAT[] in float32 (~1e-7 error) while the Spark kernel
    // is double, so raw argmax/threshold compares flip on ScaleGen's
    // engineered near-ties. The oracle therefore runs the corpus x codebook
    // scan with the CHEAP native sim only as a PREFILTER (asg candidates:
    // within CosineFloatBand of the per-vector native max; witness
    // candidates: native >= threshold - band) and replays ONLY those
    // candidates through CrossHashSql.cosineDouble — the bit-exact double
    // fold of kernels.cosineF — before the decisive compare. Every decision
    // is therefore made on bit-identical doubles; the float scan merely
    // bounds where decisions can live (sound: |native-double| is >= 20x
    // inside the band). asg via struct-MAX streaming aggs, never a
    // ROW_NUMBER window (the 819M-row window sort spilled >60 GB at 100x —
    // the round-10 disk lesson); nat is NOT MATERIALIZED so the double-
    // referenced CTE inlines as two streaming scans instead of one 16 GB
    // materialization. COALESCE(-2.0) pins NULL sims below every real
    // cosine (NULL compares high in DuckDB's nested MAX).
    "d28_semdedup" ->
      s"""WITH cb AS (
         |  SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings
         |  WHERE ${graft.SampleHash.sql("vec_id")} % ${Similarity.IvfCentroidEvery} = 0
         |  ORDER BY ${graft.SampleHash.sql("vec_id")}, vec_id
         |  LIMIT ${Similarity.IvfMaxCentroids}),
         |nat AS NOT MATERIALIZED (
         |  SELECT e.vec_id, cb.centroid_id AS cid, e.embedding, cb.ce,
         |         COALESCE(list_cosine_similarity(e.embedding, cb.ce), -2.0) AS ns
         |  FROM embeddings e CROSS JOIN cb),
         |mxn AS (SELECT vec_id, MAX(ns) AS m FROM nat GROUP BY vec_id),
         |prec AS (
         |  SELECT n.vec_id, n.cid,
         |         ${CrossHashSql.cosineDouble("n.embedding", "n.ce")} AS ds
         |  FROM nat n JOIN mxn USING (vec_id)
         |  WHERE n.ns >= mxn.m - ${CrossHashSql.CosineFloatBand}),
         |asg0 AS (
         |  SELECT vec_id, -(MAX({'s': ds, 'c': -cid})).c AS centroid_id
         |  FROM prec GROUP BY vec_id),
         |asg AS (
         |  SELECT a.vec_id, e.embedding, a.centroid_id
         |  FROM asg0 a JOIN embeddings e USING (vec_id)),
         |dupcand AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb,
         |         a.embedding AS ea, b.embedding AS eb
         |  FROM asg a JOIN asg b
         |    ON a.centroid_id = b.centroid_id AND b.vec_id < a.vec_id
         |  WHERE COALESCE(list_cosine_similarity(a.embedding, b.embedding), -2.0)
         |          >= ${Similarity.SemDedupThreshold - 0.00005 - CrossHashSql.CosineFloatBand}),
         |dup AS (
         |  SELECT va AS vec_id, MIN(vb) AS dup_of FROM dupcand
         |  WHERE floor(${CrossHashSql.cosineDouble("ea", "eb")} * 10000 + 0.5)
         |          >= ${Similarity.SemDedupThresholdE4}
         |  GROUP BY va)
         |SELECT a.vec_id, a.centroid_id, d.dup_of,
         |       CAST(CASE WHEN d.dup_of IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM asg a LEFT JOIN dup d USING (vec_id)
         |ORDER BY a.vec_id""".stripMargin,
    // d29: the shared closure filtered to true clusters (size >= 2 — the
    // artifact only labels edge endpoints), quality via the shared t06
    // formula, survivor = FIRST_VALUE under (quality DESC, doc_id ASC) —
    // the same total order the Spark window elects under.
    "d29_quality_survivor" ->
      s"""WITH RECURSIVE
         |$ClusterClosureCtes,
         |lab AS (SELECT doc_id, cluster_id FROM cl
         |        WHERE cluster_id IN (SELECT cluster_id FROM cl
         |                             GROUP BY 1 HAVING COUNT(*) >= 2)),
         |q AS (SELECT doc_id, $QualitySql AS quality FROM documents),
         |r AS (SELECT l.doc_id, l.cluster_id, q.quality,
         |             FIRST_VALUE(l.doc_id) OVER (PARTITION BY l.cluster_id
         |               ORDER BY q.quality DESC, l.doc_id ASC) AS survivor_id
         |      FROM lab l JOIN q USING (doc_id))
         |SELECT doc_id, cluster_id, quality, survivor_id,
         |       doc_id = survivor_id AS kept
         |FROM r ORDER BY doc_id""".stripMargin,
    // d32: degree = closure-cluster size (cl covers EVERY doc — singletons
    // carry their own id, so COUNT(*) per cluster_id is 1 for them and the
    // join needs no COALESCE); weight in integer ppm, `//` on BIGINT
    // truncates exactly like Spark's `div` (both operands positive here).
    "d32_soft_dedup" ->
      s"""WITH RECURSIVE
         |$ClusterClosureCtes,
         |sz AS (SELECT cluster_id, COUNT(*) AS dup_degree FROM cl GROUP BY cluster_id)
         |SELECT cl.doc_id, CAST(sz.dup_degree AS BIGINT) AS dup_degree,
         |       CAST(1000000 // sz.dup_degree AS BIGINT) AS weight_ppm
         |FROM cl JOIN sz USING (cluster_id) ORDER BY doc_id""".stripMargin,
    // d33: weighted priority sample — ORDER BY one IEEE double division of
    // two exact BIGINTs (correctly rounded, so both engines rank
    // identically; t18 precedent), doc_id tiebreak; GREATEST guards the
    // zero-length doc the schema permits
    "d33_priority_sample" ->
      s"""SELECT source, CAST(pick AS BIGINT) AS pick, doc_id, n_chars FROM (
         |  SELECT source, doc_id, n_chars,
         |         ROW_NUMBER() OVER (PARTITION BY source
         |           ORDER BY CAST(${SampleHash.sql("doc_id")} AS DOUBLE)
         |                      / GREATEST(n_chars, 1), doc_id) AS pick
         |  FROM documents)
         |WHERE pick <= ${operators.Dedup.PrioritySampleK}
         |ORDER BY source, pick""".stripMargin,
    // d34: the oracle replays the ENTIRE quantized vector (order-sensitive
    // digests), not a summary — every step is exact integer math or one
    // correctly-rounded IEEE double op, so codes are bit-identical across
    // engines; list_sum types HUGEINT, hence the CASTs
    "d34_int8_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
        |  FROM embeddings),
        |m AS (SELECT vec_id, xd,
        |             list_max(list_transform(xd, x -> abs(x))) AS maxabs FROM e),
        |qq AS (SELECT vec_id, xd, maxabs,
        |         CASE WHEN maxabs = 0
        |              THEN list_transform(xd, x -> CAST(0 AS BIGINT))
        |              ELSE list_transform(xd,
        |                     x -> CAST(FLOOR(x * 127 / maxabs + 0.5) AS BIGINT))
        |         END AS q
        |       FROM m),
        |r AS (SELECT vec_id, maxabs, q,
        |        CASE WHEN maxabs = 0 THEN 0.0
        |             ELSE list_max(list_transform(list_zip(xd, q),
        |                    s -> abs(s[1] * 127 / maxabs - s[2])))
        |        END AS err
        |      FROM qq)
        |SELECT vec_id,
        |       FLOOR(maxabs * 1000000 + 0.5) / 1000000 AS scale_max,
        |       CAST(list_sum(q) AS BIGINT) AS q_sum,
        |       CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS q_l1,
        |       CAST(list_sum(list_transform(q,
        |              x -> CASE WHEN abs(x) = 127 THEN 1 ELSE 0 END)) AS BIGINT) AS n_sat,
        |       CAST(list_sum(list_transform(list_zip(q, range(1, len(q) + 1)),
        |              s -> s[1] * s[2])) AS BIGINT) AS q_digest,
        |       FLOOR(err * 10000 + 0.5) / 10000 AS round_err,
        |       err <= 0.5 AS within_half_ulp
        |FROM r ORDER BY vec_id""".stripMargin,
    // d37 + s24: the same bucket-share replay — s24's 4-batch additive
    // fold must reach d37's one-shot report bit-for-bit (associativity),
    // so the two keys SHARE the oracle text
    "d37_drift_monitor" -> DriftOracle,
    "s24_drift_fold" -> DriftOracle,
    // d36: d02's tokenize/shingle CTE shape, DISTINCT (source, shingle),
    // exact pair intersections via self-join (the oracle may pay the
    // quadratic shape Spark avoids), full upper-triangle matrix with
    // zero-overlap pairs; BIGINT `//` = Spark div (operands positive)
    "d36_corpus_overlap" ->
      """WITH w AS (SELECT source, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |           FROM documents),
        |g AS (SELECT source, CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |        ELSE list_transform(range(1, len(toks) - 1),
        |               gi -> toks[gi] || ' ' || toks[gi+1] || ' ' || toks[gi+2]) END AS grams
        |      FROM w),
        |ss AS (SELECT DISTINCT source, unnest(grams) AS shingle FROM g),
        |tot AS (SELECT source, COUNT(*) AS n FROM ss GROUP BY 1),
        |i AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS inter
        |      FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.source < b.source
        |      GROUP BY 1, 2),
        |px AS (SELECT ta.source AS src_a, tb.source AS src_b,
        |              COALESCE(i.inter, 0) AS inter, ta.n AS n_a, tb.n AS n_b
        |       FROM tot ta JOIN tot tb ON ta.source < tb.source
        |       LEFT JOIN i ON i.src_a = ta.source AND i.src_b = tb.source)
        |SELECT src_a, src_b, CAST(inter AS BIGINT) AS inter,
        |       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |       CAST(n_a + n_b - inter AS BIGINT) AS n_union,
        |       CAST(inter * 1000 // GREATEST(n_a + n_b - inter, 1) AS BIGINT) AS jaccard_permille,
        |       CAST(inter * 1000 // GREATEST(n_a, 1) AS BIGINT) AS a_in_b_permille,
        |       CAST(inter * 1000 // GREATEST(n_b, 1) AS BIGINT) AS b_in_a_permille
        |FROM px ORDER BY src_a, src_b""".stripMargin,
    // d38: d36's exact CTEs anchor the rows; the HLL estimates are
    // engine-specific, so the oracle asserts the CLAIM booleans (q24/d13
    // referee pattern) — a sketch drifting past its error bound flips a
    // FALSE into the hash and fails the compare
    // d39: full sketch-AND-exact replay — dh is the sorted distinct
    // gram-hash set per doc (shared poly31 chain), the bottom-16 slice is
    // the query signature, candidates = posting-list join + count, top-10
    // per query (matches DESC, doc_id tiebreak), exact containment joined
    // back for candidates only; every column integer
    "d39_bottomk_containment" ->
      s"""WITH
         |${CrossHashSql.minhashCtes(3)},
         |dh AS (SELECT doc_id, list_sort(list_distinct(hv)) AS hv FROM hs),
         |post AS (SELECT doc_id, unnest(hv) AS h FROM dh),
         |q AS (SELECT doc_id AS eval_id, hv[1:16] AS bk,
         |        CAST(least(len(hv), 16) AS BIGINT) AS k_eff
         |      FROM dh WHERE doc_id % 7 = 3
         |        AND doc_id < ${operators.Dedup.BottomkEvalCap}),
         |qx AS (SELECT eval_id, k_eff, unnest(bk) AS h FROM q),
         |cand AS (SELECT eval_id, doc_id, k_eff, COUNT(*) AS matches
         |         FROM post JOIN qx USING (h) WHERE doc_id <> eval_id
         |         GROUP BY eval_id, doc_id, k_eff HAVING COUNT(*) >= 2),
         |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY eval_id
         |         ORDER BY matches DESC, doc_id) AS r FROM cand),
         |v AS (SELECT r.eval_id, r.doc_id, r.matches, r.k_eff,
         |        CAST(r.matches * 1000 // r.k_eff AS BIGINT) AS est_permille,
         |        CAST(CAST(len(list_intersect(a.hv, b.hv)) AS BIGINT) * 1000
         |             // len(a.hv) AS BIGINT) AS exact_permille
         |      FROM rk r JOIN dh a ON a.doc_id = r.eval_id
         |                 JOIN dh b ON b.doc_id = r.doc_id
         |      WHERE r.r <= 10)
         |SELECT eval_id, doc_id, matches, k_eff, est_permille, exact_permille,
         |       CAST(abs(est_permille - exact_permille) AS BIGINT) AS err_permille
         |FROM v ORDER BY eval_id, doc_id""".stripMargin,
    "d38_sketch_overlap" ->
      """WITH w AS (SELECT source, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |           FROM documents),
        |g AS (SELECT source, CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |        ELSE list_transform(range(1, len(toks) - 1),
        |               gi -> toks[gi] || ' ' || toks[gi+1] || ' ' || toks[gi+2]) END AS grams
        |      FROM w),
        |ss AS (SELECT DISTINCT source, unnest(grams) AS shingle FROM g),
        |tot AS (SELECT source, COUNT(*) AS n FROM ss GROUP BY 1),
        |i AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS inter
        |      FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.source < b.source
        |      GROUP BY 1, 2),
        |px AS (SELECT ta.source AS src_a, tb.source AS src_b,
        |              COALESCE(i.inter, 0) AS inter, ta.n AS n_a, tb.n AS n_b
        |       FROM tot ta JOIN tot tb ON ta.source < tb.source
        |       LEFT JOIN i ON i.src_a = ta.source AND i.src_b = tb.source)
        |SELECT src_a, src_b,
        |       CAST(inter * 1000 // GREATEST(n_a + n_b - inter, 1) AS BIGINT) AS jaccard_permille,
        |       TRUE AS a_est_ok, TRUE AS b_est_ok,
        |       TRUE AS union_est_ok, TRUE AS jaccard_est_ok
        |FROM px ORDER BY src_a, src_b""".stripMargin,
    // d35: d28's codebook + float-prefiltered exact-double argmax CTEs
    // verbatim (see d28 on the scheme), then the cartography aggregate —
    // all-integer outputs (BIGINT `//` truncates like Spark's div, both
    // operands positive), quality e4-scaled via FLOOR(x*1e4+0.5) on BOTH
    // sides (never cast a re-multiplied rounded double: Spark's long cast
    // truncates, DuckDB's rounds), dominant source under (n DESC, source
    // ASC) = the Spark window's total order
    "d35_corpus_map" ->
      s"""WITH cb AS (
         |  SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings
         |  WHERE ${graft.SampleHash.sql("vec_id")} % ${Similarity.IvfCentroidEvery} = 0
         |  ORDER BY ${graft.SampleHash.sql("vec_id")}, vec_id
         |  LIMIT ${Similarity.IvfMaxCentroids}),
         |nat AS NOT MATERIALIZED (
         |  SELECT e.vec_id, cb.centroid_id AS cid, e.embedding, cb.ce,
         |         COALESCE(list_cosine_similarity(e.embedding, cb.ce), -2.0) AS ns
         |  FROM embeddings e CROSS JOIN cb),
         |mxn AS (SELECT vec_id, MAX(ns) AS m FROM nat GROUP BY vec_id),
         |prec AS (
         |  SELECT n.vec_id, n.cid,
         |         ${CrossHashSql.cosineDouble("n.embedding", "n.ce")} AS ds
         |  FROM nat n JOIN mxn USING (vec_id)
         |  WHERE n.ns >= mxn.m - ${CrossHashSql.CosineFloatBand}),
         |asg AS (
         |  SELECT vec_id, -(MAX({'s': ds, 'c': -cid})).c AS centroid_id
         |  FROM prec GROUP BY vec_id),
         |j AS (SELECT a.centroid_id, d.source, d.n_chars,
         |             CAST(FLOOR(($QualitySql) * 10000 + 0.5) AS BIGINT) AS q_e4
         |      FROM asg a JOIN documents d ON a.vec_id = d.doc_id),
         |ps AS (SELECT centroid_id, source, COUNT(*) AS n,
         |              CAST(SUM(n_chars) AS BIGINT) AS chars,
         |              CAST(SUM(q_e4) AS BIGINT) AS qsum
         |       FROM j GROUP BY 1, 2),
         |cell AS (SELECT centroid_id, CAST(SUM(n) AS BIGINT) AS n_vecs,
         |                CAST(SUM(chars) AS BIGINT) AS sum_chars,
         |                CAST(SUM(qsum) AS BIGINT) AS sum_q
         |         FROM ps GROUP BY 1),
         |top AS (SELECT centroid_id, source AS top_source,
         |               CAST(n AS BIGINT) AS top_source_n FROM ps
         |        QUALIFY ROW_NUMBER() OVER (PARTITION BY centroid_id
         |                                   ORDER BY n DESC, source ASC) = 1),
         |tot AS (SELECT COUNT(*) AS n_total FROM asg)
         |SELECT cell.centroid_id AS cell_id, n_vecs,
         |       CAST(n_vecs * 1000000 // n_total AS BIGINT) AS share_ppm,
         |       CAST(sum_chars // n_vecs AS BIGINT) AS chars_per_doc,
         |       CAST(sum_q // n_vecs AS BIGINT) AS avg_q_e4,
         |       top_source, top_source_n
         |FROM cell JOIN top USING (centroid_id) CROSS JOIN tot
         |ORDER BY cell_id""".stripMargin,
    // d30: the full |queries| x |corpus| score matrix replayed (d27
    // precedent), rank under (sim DESC, neighbor_id ASC) = the Spark
    // window's total order; n_agree cast to BIGINT before the exact /10
    "d30_knn_label_purity" ->
      s"""WITH q AS (SELECT vec_id AS query_id, label AS q_label, embedding AS qe
         |           FROM embeddings
         |           WHERE vec_id % ${Similarity.KnnEvalEvery} = ${Similarity.KnnEvalResidue}
         |             AND vec_id < ${Similarity.KnnEvalCap}),
         |c AS (SELECT query_id, q_label, e.vec_id AS nid, e.label AS n_label,
         |             list_cosine_similarity(qe, e.embedding) AS sim
         |      FROM embeddings e, q WHERE e.vec_id <> query_id),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |                                   ORDER BY sim DESC, nid) AS rank
         |      FROM c)
         |SELECT query_id AS vec_id, q_label AS label,
         |       CAST(SUM(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_agree,
         |       CAST(SUM(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS BIGINT)
         |         / ${Similarity.K}.0 AS knn_purity
         |FROM r WHERE rank <= ${Similarity.K} GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    // d40: full score-matrix replay (d30 pattern); the negatives-only rank
    // is a windowed conditional SUM (CAST — the s19 HUGEINT lesson), the
    // best positive an unordered MAX over the same partition; doubles are
    // the engine-exact cosine kernel, floor-rounded only at the output.
    // list_cosine_similarity on FLOAT[] RETURNS FLOAT32, and a float32
    // sim that lands on the other side of a x.5×10⁻⁴ boundary flips the
    // rounded output (seen at 10×: 0.3849 vs 0.385) — so the oracle runs
    // the kernel over DOUBLE[] (widen-then-accumulate, exactly
    // kernels.cosineF's arithmetic) and every output expression works on
    // the bit-identical double
    "d40_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS query_id, label AS q_label,
         |                  CAST(embedding AS DOUBLE[]) AS qe
         |           FROM embeddings
         |           WHERE vec_id % ${Similarity.KnnEvalEvery} = ${Similarity.KnnEvalResidue}
         |             AND vec_id < ${Similarity.KnnEvalCap}),
         |c AS (SELECT query_id, q_label, e.vec_id AS neighbor_id, e.label AS n_label,
         |             list_cosine_similarity(qe, CAST(e.embedding AS DOUBLE[])) AS sim
         |      FROM embeddings e, q WHERE e.vec_id <> query_id),
         |r AS (SELECT *,
         |        CAST(SUM(CASE WHEN n_label <> q_label THEN 1 ELSE 0 END)
         |          OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |          AS BIGINT) AS neg_rank,
         |        MAX(CASE WHEN n_label = q_label THEN sim END)
         |          OVER (PARTITION BY query_id) AS pos_sim
         |      FROM c)
         |SELECT query_id, q_label, neg_rank AS rank, neighbor_id, n_label,
         |       FLOOR(CAST(sim AS DOUBLE) * 10000 + 0.5) / 10000 AS neg_sim,
         |       FLOOR(CAST(pos_sim AS DOUBLE) * 10000 + 0.5) / 10000 AS best_pos_sim,
         |       FLOOR((CAST(pos_sim AS DOUBLE) - CAST(sim AS DOUBLE)) * 10000 + 0.5)
         |         / 10000 AS margin
         |FROM r WHERE n_label <> q_label AND neg_rank <= ${Similarity.HardNegK}
         |ORDER BY query_id, rank""".stripMargin,
    // d31: d02's band collisions UNGATED (no est_jaccard cut — containment
    // pairs are low-Jaccard by construction) but BOUNDED to the successor
    // window (d02's ROW_NUMBER + rank-range replay, M = NeighborWindow);
    // distinct HASHED gram sets (the hs CTE's poly31 chain, d39's exact-
    // verify representation) join back for candidates only; directional
    // containment keeps the empty-set=1.0 d04 convention
    "d31_containment" ->
      s"""WITH
         |${CrossHashSql.minhashCtes(3)},
         |dh AS (SELECT doc_id, list_distinct(hv) AS hv FROM hs),
         |rk AS (SELECT band_id, band_key, doc_id,
         |         ROW_NUMBER() OVER (PARTITION BY band_id, band_key ORDER BY doc_id) AS rk
         |       FROM band),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM rk a JOIN rk b
         |           ON a.band_id = b.band_id AND a.band_key = b.band_key
         |          AND b.rk BETWEEN a.rk + 1 AND a.rk + ${operators.Dedup.NeighborWindow}),
         |j AS (SELECT doc_a, doc_b,
         |        CASE WHEN len(ga.hv) = 0 THEN 1.0
         |             ELSE FLOOR(CAST(len(list_intersect(ga.hv, gb.hv)) AS DOUBLE)
         |                        / len(ga.hv) * 10000 + 0.5) / 10000 END AS contain_a_in_b,
         |        CASE WHEN len(gb.hv) = 0 THEN 1.0
         |             ELSE FLOOR(CAST(len(list_intersect(ga.hv, gb.hv)) AS DOUBLE)
         |                        / len(gb.hv) * 10000 + 0.5) / 10000 END AS contain_b_in_a
         |      FROM cand JOIN dh ga ON ga.doc_id = cand.doc_a
         |                JOIN dh gb ON gb.doc_id = cand.doc_b)
         |SELECT doc_a, doc_b, contain_a_in_b, contain_b_in_a,
         |       GREATEST(contain_a_in_b, contain_b_in_a) AS max_containment,
         |       GREATEST(contain_a_in_b, contain_b_in_a) >= 0.8 AS is_contained
         |FROM j ORDER BY doc_a, doc_b""".stripMargin,
    // d41: truth and candidates replayed INDEPENDENTLY — exact 3-gram
    // Jaccard over the capped sample, band collisions from the shared
    // poly31/affine minhash CTEs (cap pushed into the w CTE)
    "d41_lsh_quality" -> {
      val cappedCtes = CrossHashSql.minhashCtes(3).replace("FROM documents", "FROM u")
      s"""WITH
         |o AS (SELECT doc_id, text FROM documents
         |      WHERE doc_id < ${operators.Dedup.LshQualityCap}),
         |otk AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
         |        FROM o),
         |syn AS (SELECT doc_id + ${operators.Dedup.SynthOffset} AS doc_id,
         |          array_to_string(list_transform(range(1, len(toks) + 1),
         |            i -> CASE WHEN i % (4 + doc_id % 5) = 0
         |                 THEN 'zz' || CAST(i - 1 AS VARCHAR) ELSE toks[i] END), ' ') AS text
         |        FROM otk),
         |u AS (SELECT doc_id, text FROM o UNION ALL SELECT doc_id, text FROM syn),
         |$cappedCtes,
         |gd AS (SELECT doc_id, list_distinct(grams) AS grams FROM g),
         |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) AS inter,
         |         CAST(len(a.grams) + len(b.grams) AS BIGINT) AS sum_n
         |       FROM gd a JOIN gd b ON a.doc_id < b.doc_id),
         |jc AS (SELECT doc_a, doc_b,
         |         CASE WHEN sum_n - inter = 0 THEN 1000
         |              ELSE inter * 1000 // (sum_n - inter) END AS j
         |       FROM pr),
         |cd AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |       FROM band a JOIN band b
         |         ON a.band_id = b.band_id AND a.band_key = b.band_key
         |        AND a.doc_id < b.doc_id),
         |fl AS (SELECT jc.doc_a, jc.doc_b, j, (cd.doc_a IS NOT NULL) AS cand
         |       FROM jc LEFT JOIN cd
         |         ON jc.doc_a = cd.doc_a AND jc.doc_b = cd.doc_b),
         |th AS (SELECT unnest([${operators.Dedup.LshQualityThresholds.mkString(", ")}]) AS threshold_permille)
         |SELECT CAST(threshold_permille AS BIGINT) AS threshold_permille,
         |  CAST(SUM((j >= threshold_permille)::INT) AS BIGINT) AS n_true,
         |  CAST(SUM(cand::INT) AS BIGINT) AS n_cand,
         |  CAST(SUM((cand AND j >= threshold_permille)::INT) AS BIGINT) AS tp,
         |  CAST(SUM((cand AND j >= threshold_permille)::INT) * 1000000
         |    // greatest(SUM(cand::INT), 1) AS BIGINT) AS precision_ppm,
         |  CAST(SUM((cand AND j >= threshold_permille)::INT) * 1000000
         |    // greatest(SUM((j >= threshold_permille)::INT), 1) AS BIGINT) AS recall_ppm
         |FROM fl, th GROUP BY threshold_permille
         |ORDER BY threshold_permille""".stripMargin
    },
    // d42: the containment referee — d41's capped-sample scheme with
    // PLANTED low-Jaccard/high-containment hosts (perturb every p-th
    // token, p = 6 + 3·(oid mod 5), then dilute with doc-keyed qq-filler
    // doubling the token count); truth = exact hashed-gram containment
    // (max of both directions, empty-set = 1000), candidates replayed
    // BOTH ways — the exhaustive band self-join and d31's bounded
    // successor window — so window_loss_ppm is an independently-derived,
    // hash-checked number. oid is kept distinct from the emitted doc_id
    // (a lateral-alias resolution difference would otherwise drift)
    "d42_containment_recall" -> {
      val cappedCtes = CrossHashSql.minhashCtes(3).replace("FROM documents", "FROM u")
      s"""WITH
         |o AS (SELECT doc_id, text FROM documents
         |      WHERE doc_id < ${operators.Dedup.LshQualityCap}),
         |otk AS (SELECT doc_id AS oid, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
         |        FROM o),
         |syn AS (SELECT oid + ${operators.Dedup.ContainHostOffset} AS doc_id,
         |          array_to_string(list_transform(range(1, len(toks) + 1),
         |            i -> CASE WHEN i % (6 + 3 * (oid % 5)) = 0
         |                 THEN 'zz' || CAST(i - 1 AS VARCHAR) ELSE toks[i] END), ' ')
         |          || ' ' ||
         |          array_to_string(list_transform(range(1, len(toks) + 1),
         |            i -> 'qq' || CAST((oid * 37 + i) % 9973 AS VARCHAR)), ' ') AS text
         |        FROM otk),
         |u AS (SELECT doc_id, text FROM o UNION ALL SELECT doc_id, text FROM syn),
         |$cappedCtes,
         |dh AS (SELECT doc_id, list_distinct(hv) AS hv FROM hs),
         |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         CAST(len(list_intersect(a.hv, b.hv)) AS BIGINT) AS inter,
         |         CAST(len(a.hv) AS BIGINT) AS na, CAST(len(b.hv) AS BIGINT) AS nb
         |       FROM dh a JOIN dh b ON a.doc_id < b.doc_id),
         |tr AS (SELECT doc_a, doc_b,
         |         GREATEST(CASE WHEN na = 0 THEN 1000 ELSE inter * 1000 // na END,
         |                  CASE WHEN nb = 0 THEN 1000 ELSE inter * 1000 // nb END) AS cont
         |       FROM pr),
         |rk AS (SELECT band_id, band_key, doc_id,
         |         ROW_NUMBER() OVER (PARTITION BY band_id, band_key ORDER BY doc_id) AS rk
         |       FROM band),
         |cb AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |       FROM rk a JOIN rk b
         |         ON a.band_id = b.band_id AND a.band_key = b.band_key
         |        AND b.rk BETWEEN a.rk + 1 AND a.rk + ${operators.Dedup.NeighborWindow}),
         |cx AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |       FROM band a JOIN band b
         |         ON a.band_id = b.band_id AND a.band_key = b.band_key
         |        AND a.doc_id < b.doc_id),
         |fl AS (SELECT tr.doc_a, tr.doc_b, cont,
         |         (cb.doc_a IS NOT NULL) AS cand_b, (cx.doc_a IS NOT NULL) AS cand_x
         |       FROM tr LEFT JOIN cb ON tr.doc_a = cb.doc_a AND tr.doc_b = cb.doc_b
         |               LEFT JOIN cx ON tr.doc_a = cx.doc_a AND tr.doc_b = cx.doc_b),
         |th AS (SELECT unnest([${operators.Dedup.ContainmentThresholds.mkString(", ")}]) AS threshold_permille)
         |SELECT CAST(threshold_permille AS BIGINT) AS threshold_permille,
         |  CAST(SUM((cont >= threshold_permille)::INT) AS BIGINT) AS n_true,
         |  CAST(SUM(cand_x::INT) AS BIGINT) AS n_cand_exhaustive,
         |  CAST(SUM(cand_b::INT) AS BIGINT) AS n_cand_bounded,
         |  CAST(SUM((cand_x AND cont >= threshold_permille)::INT) AS BIGINT) AS tp_exhaustive,
         |  CAST(SUM((cand_b AND cont >= threshold_permille)::INT) AS BIGINT) AS tp_bounded,
         |  CAST(SUM((cand_x AND cont >= threshold_permille)::INT) * 1000000
         |    // greatest(SUM((cont >= threshold_permille)::INT), 1) AS BIGINT) AS recall_exhaustive_ppm,
         |  CAST(SUM((cand_b AND cont >= threshold_permille)::INT) * 1000000
         |    // greatest(SUM((cont >= threshold_permille)::INT), 1) AS BIGINT) AS recall_bounded_ppm,
         |  CAST((SUM((cand_x AND cont >= threshold_permille)::INT)
         |        - SUM((cand_b AND cont >= threshold_permille)::INT)) * 1000000
         |    // greatest(SUM((cand_x AND cont >= threshold_permille)::INT), 1) AS BIGINT) AS window_loss_ppm
         |FROM fl, th GROUP BY threshold_permille
         |ORDER BY threshold_permille""".stripMargin
    },
    "d04_ngram_jaccard" ->
      s"""WITH
         |w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks FROM documents),
         |g AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
         |        ELSE list_transform(range(1, len(toks)), gi -> toks[gi] || ' ' || toks[gi+1]) END) AS grams
         |      FROM w),
         |h AS (SELECT COUNT(*) // 2 AS half FROM documents)
         |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |  CASE WHEN len(list_distinct(list_concat(x.grams, y.grams))) = 0 THEN 1.0
         |       ELSE FLOOR(CAST(len(list_intersect(x.grams, y.grams)) AS DOUBLE) /
         |                  len(list_distinct(list_concat(x.grams, y.grams))) * 10000 + 0.5) / 10000 END AS jaccard
         |FROM g x, g y, h WHERE x.doc_id < h.half AND y.doc_id = x.doc_id + h.half
         |ORDER BY doc_a""".stripMargin,
    // d13: ANN neighbor lists are engine-specific, but the recall floor is a
    // checkable claim — the oracle asserts recall_ok TRUE per method, so an
    // ANN regression below its floor fails the hash compare (q24 pattern).
    // The VALUES list interpolates Similarity.RecallFloors so the Spark side
    // and the oracle can never drift when a floor is tuned.
    "d13_ann_recall" ->
      s"""SELECT method, CAST(recall_floor AS DOUBLE) AS recall_floor, recall_ok
         |FROM (VALUES ${Similarity.RecallFloors
               .map { case (m, f) => s"('$m', $f, TRUE)" }.mkString(", ")})
         |  AS t(method, recall_floor, recall_ok)
         |ORDER BY method""".stripMargin,
    "d01_exact_dedup" ->
      """SELECT doc_id,
        |       MD5(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')) AS content_md5,
        |       MIN(doc_id) OVER (PARTITION BY MD5(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g'))) AS keeper_id,
        |       doc_id = MIN(doc_id) OVER (PARTITION BY MD5(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g'))) AS is_survivor
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d09_decontaminate" -> DecontaminateOracle,
    // s13: the ingest-gate admission summary over the same d09 blocklist
    "s13_stream_decontaminate" ->
      """WITH d AS (SELECT doc_id, source,
        |             MD5(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')) AS fp
        |           FROM documents),
        |e AS (SELECT DISTINCT fp FROM d WHERE doc_id % 7 = 3)
        |SELECT source, COUNT(*) AS n_docs,
        |       CAST(SUM(CASE WHEN fp IN (SELECT fp FROM e) THEN 0 ELSE 1 END) AS BIGINT)
        |         AS n_admitted,
        |       CAST(SUM(CASE WHEN fp IN (SELECT fp FROM e) THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_blocked
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    // d16 is the same contract on the Bloom-prefilter plan (p18/p20 pattern)
    "d16_bloom_decontaminate" -> DecontaminateOracle,
    // d17: cluster-quality cohesion margins are engine-specific (they depend
    // on the trained codebook), but "clusters fit better than no clustering"
    // is a checkable claim — the d13 pattern: DuckDB asserts cohesive TRUE
    // per clustering, so a codebook/assignment regression fails the compare
    "d17_cluster_quality" ->
      s"""SELECT clustering, CAST(margin_floor AS DOUBLE) AS margin_floor, cohesive
         |FROM (VALUES ${(Similarity.CohesionFloors :+ ("trained_vs_sampled", 0.0))
               .map { case (c, f) => s"('$c', $f, TRUE)" }.mkString(", ")})
         |  AS t(clustering, margin_floor, cohesive)
         |ORDER BY clustering""".stripMargin,
    "d05_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT query_id, vec_id AS neighbor_id,
        |             list_cosine_similarity(qe, embedding) AS sim
        |      FROM embeddings, q WHERE vec_id <> query_id)
        |SELECT query_id, neighbor_id, rank FROM (
        |  SELECT query_id, neighbor_id,
        |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM c) t
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // the vec_id bound mirrors Similarity.NearDupBaselineCap (5 * 1024) so
    // the oracle encodes the key's constant-cap contract at every SF
    "d07_embed_neardup" ->
      """WITH s AS (SELECT vec_id, embedding FROM embeddings
        |           WHERE vec_id % 5 = 0 AND vec_id < 5120)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |FROM s a JOIN s b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.29995
        |ORDER BY a_id, b_id""".stripMargin,
    "m01_multimodal_meta" ->
      """SELECT doc_id,
        |       CAST(4 + OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS byte_len,
        |       CAST(64 + (doc_id * 37) % 1857 AS BIGINT) AS width,
        |       CAST(64 + (doc_id * 53) % 1016 AS BIGINT) AS height,
        |       CASE WHEN doc_id % 3 = 0 THEN 'png' ELSE 'jpeg' END AS format
        |FROM documents ORDER BY doc_id""".stripMargin,
    // m05: the blob is 'IMG0' || text and the payload is pure ASCII
    // (byte-verified: octet_length(encode(text)) == length(text) at every
    // SF), so VARCHAR slices hash identically to Spark's BINARY slices
    "m05_blob_chunks" ->
      """WITH b AS (SELECT doc_id, 'IMG0' || text AS payload,
        |                  CAST(4 + OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS byte_len
        |           FROM documents),
        |e AS (SELECT doc_id, payload, byte_len,
        |             unnest(range(0, (byte_len - 1) // 256 + 1)) AS chunk_idx
        |      FROM b)
        |SELECT doc_id, chunk_idx, chunk_idx * 256 AS byte_off,
        |       LEAST(256, byte_len - chunk_idx * 256) AS chunk_len,
        |       md5(substring(payload, CAST(chunk_idx*256 + 1 AS BIGINT), 256)) AS chunk_md5
        |FROM e ORDER BY doc_id, chunk_idx""".stripMargin,
    // m06: per-source fixed-boundary packing from the exclusive byte
    // cumsum; ordered string_agg mirrors the Spark side's array_sort over
    // (doc_id, md5) structs — both digest member md5s in doc_id order
    "m06_shard_manifest" ->
      s"""WITH b AS (SELECT doc_id, source,
         |             CAST(4 + OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS byte_len,
         |             md5('IMG0' || text) AS blob_md5
         |           FROM documents),
         |c AS (SELECT *,
         |        COALESCE(SUM(byte_len) OVER (PARTITION BY source ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          // ${Multimodal.ShardBytes} AS shard_idx
         |      FROM b)
         |SELECT source, CAST(shard_idx AS BIGINT) AS shard_idx,
         |       COUNT(*) AS n_blobs,
         |       CAST(SUM(byte_len) AS BIGINT) AS shard_bytes,
         |       MIN(doc_id) AS doc_lo, MAX(doc_id) AS doc_hi,
         |       md5(string_agg(blob_md5, ',' ORDER BY doc_id)) AS manifest_md5
         |FROM c GROUP BY 1, 2 ORDER BY source, shard_idx""".stripMargin,
    // m07: stripe boundaries replay the integer floor division; per-byte
    // ord() over the ASCII payload rebuilds each stripe sum exactly
    "m07_feature_extract" ->
      """WITH b AS (SELECT doc_id, 'IMG0' || text AS payload,
        |             CAST(4 + OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n
        |           FROM documents),
        |st AS (SELECT doc_id, payload, n, unnest(range(0, 8)) AS stripe FROM b),
        |rg AS (SELECT doc_id, stripe, payload,
        |              (stripe * n) // 8 AS lo, ((stripe + 1) * n) // 8 AS hi
        |       FROM st),
        |s2 AS (SELECT doc_id, stripe, hi - lo AS cnt,
        |         CAST(COALESCE(list_sum(list_transform(range(lo + 1, hi + 1),
        |           i -> ord(substring(payload, CAST(i AS BIGINT), 1)))), 0) AS BIGINT)
        |           AS byte_sum
        |       FROM rg)
        |SELECT doc_id, CAST(stripe AS BIGINT) AS stripe, byte_sum,
        |       CASE WHEN cnt = 0 THEN 0.0
        |            ELSE FLOOR(CAST(byte_sum AS DOUBLE) / cnt * 10000 + 0.5) / 10000
        |       END AS byte_mean
        |FROM s2 ORDER BY doc_id, stripe""".stripMargin,
    // m08: the stride-4 subsample rebuilt byte-for-byte, digest compared
    // the stride-4 downsample as ONE regex pass per doc: each non-overlapping
    // (1 char + up to 3 chars) run keeps its first char = positions 1,5,9,…
    // ((?s) so '.' crosses newlines). The former unnest(range)+ordered
    // string_agg form exploded to positions-count rows (375M at x1000) whose
    // per-group ordered-aggregate buffers are untracked DuckDB memory — the
    // x1000 gate's repeatable bad-alloc. Payload chars = bytes here (ASCII
    // corpus, m05-verified), so char stride ≡ the kernel's byte stride.
    "m08_resize" ->
      """WITH b AS (SELECT doc_id, 'IMG0' || text AS payload,
        |             CAST(4 + OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n
        |           FROM documents)
        |SELECT doc_id, n AS orig_len, (n + 3) // 4 AS resized_len,
        |       md5(regexp_replace(payload, '(?s)(.)(.{0,3})', '\1', 'g')) AS resized_md5
        |FROM b ORDER BY doc_id""".stripMargin,
    // m09: the 60-bit bigram-profile hash replayed over the ASCII payload
    // (byte offsets = char offsets, m05-verified), d03's band layout and
    // pigeonhole (verdict gate ≤ 2 is stricter than the ≤ 3 recall bound,
    // so banding loses no qualifying pair); all arithmetic in plain BIGINT
    // the keyed form is the bounded successor-window view (d02's shape):
    // ROW_NUMBER within each band bucket, pair with the next M ranks only.
    // The cell histogram is one UNNEST + GROUP BY per doc (O(len)): the
    // previous form re-scanned the bucket list once per cell
    // (60 list_filter passes, O(60·len)) — the x1000 gate timeout. Absent
    // cells mean cnt=0, never over-occupied, so only present cells can set
    // bits — the LEFT JOIN keeps empty-payload docs at phash=0 exactly as
    // the 60-pass form did.
    "m09_phash_neardup" ->
      s"""WITH p AS (SELECT doc_id, 'IMG0' || text AS pay FROM documents),
        |c AS (SELECT doc_id,
        |        list_transform(list_filter(regexp_split_to_array(pay, ''), x -> x <> ''),
        |                       ch -> CAST(ord(ch) AS BIGINT)) AS bytes
        |      FROM p),
        |bg AS (SELECT doc_id,
        |         list_transform(range(1, len(bytes)), i -> (bytes[i]*131 + bytes[i+1]) % 60) AS buckets,
        |         CAST(len(bytes) - 1 AS BIGINT) AS n
        |       FROM c),
        |bc AS (SELECT doc_id, u.j, COUNT(*) AS cnt
        |       FROM bg, UNNEST(buckets) AS u(j) GROUP BY doc_id, u.j),
        |ph AS (SELECT bg.doc_id,
        |         CAST(COALESCE(SUM(CASE WHEN bc.cnt * 60 > bg.n
        |               THEN (CAST(1 AS BIGINT) << bc.j) ELSE 0 END), 0) AS BIGINT) AS phash
        |       FROM bg LEFT JOIN bc ON bg.doc_id = bc.doc_id GROUP BY bg.doc_id),
        |band AS (SELECT doc_id, phash, b AS band_id, (phash >> (b*15)) & 32767 AS band_bits
        |         FROM ph, UNNEST(range(0, 4)) t2(b)),
        |rk AS (SELECT doc_id, phash, band_id, band_bits,
        |         ROW_NUMBER() OVER (PARTITION BY band_id, band_bits ORDER BY doc_id) AS rk
        |       FROM band),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |                CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
        |         FROM rk a JOIN rk b
        |           ON a.band_id = b.band_id AND a.band_bits = b.band_bits
        |          AND b.rk BETWEEN a.rk + 1 AND a.rk + ${operators.Dedup.NeighborWindow})
        |SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 2
        |ORDER BY doc_a, doc_b""".stripMargin,
    // m13: the per-frame phash60 law is m09's bigram law over each 80-byte
    // slice of the rebuilt two-shot payload; cut/scene via LAG + running
    // cut count — both windows replayed on DuckDB's engine
    "m13_scene_cuts" ->
      s"""WITH p AS (SELECT doc_id,
         |      repeat(rpad(lower(substring(text, 1, 40)), 40, 'x'), ${operators.Multimodal.SceneFrames})
         |      || repeat(rpad(upper(substring(text, 41, 40)), 40, 'y'), ${operators.Multimodal.SceneFrames}) AS pay
         |    FROM documents),
         |fr AS (SELECT doc_id, f AS frame_idx,
         |         substring(pay, CAST(f * ${operators.Multimodal.SceneFrameLen} + 1 AS INT),
         |                   ${operators.Multimodal.SceneFrameLen}) AS fp
         |       FROM p, UNNEST(range(0, ${operators.Multimodal.SceneFrames})) r(f)),
         |c AS (SELECT doc_id, frame_idx,
         |        list_transform(list_filter(regexp_split_to_array(fp, ''), x -> x <> ''),
         |                       ch -> CAST(ord(ch) AS BIGINT)) AS bytes
         |      FROM fr),
         |bg AS (SELECT doc_id, frame_idx,
         |         list_transform(range(1, len(bytes)), i -> (bytes[i]*131 + bytes[i+1]) % 60) AS buckets,
         |         CAST(len(bytes) - 1 AS BIGINT) AS n
         |       FROM c),
         |ph AS (SELECT doc_id, frame_idx,
         |         CAST(SUM(CASE WHEN CAST(len(list_filter(buckets, v -> v = j)) AS BIGINT) * 60 > n
         |               THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS phash
         |       FROM bg, UNNEST(range(0, 60)) r(j) GROUP BY doc_id, frame_idx),
         |w AS (SELECT doc_id, frame_idx, phash,
         |        LAG(phash) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
         |      FROM ph),
         |v AS (SELECT doc_id, frame_idx, phash,
         |        CAST(COALESCE(bit_count(xor(phash, prev)), 0) AS BIGINT) AS hamming,
         |        (prev IS NOT NULL
         |         AND COALESCE(bit_count(xor(phash, prev)), 0) > ${operators.Multimodal.CutHamming}) AS is_cut
         |      FROM w)
         |SELECT doc_id, frame_idx, phash, hamming, is_cut,
         |       CAST(SUM(CASE WHEN is_cut THEN 1 ELSE 0 END)
         |         OVER (PARTITION BY doc_id ORDER BY frame_idx
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS scene_id
         |FROM v ORDER BY doc_id, frame_idx""".stripMargin,
    "m02_frame_sample" ->
      """WITH v AS (SELECT doc_id,
        |             CAST(4 + OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS byte_len,
        |             8 + doc_id % 24 AS n_frames
        |           FROM documents)
        |SELECT doc_id, CAST(g AS BIGINT) AS frame_idx, byte_len,
        |       CAST(n_frames AS BIGINT) AS n_frames,
        |       CAST(g * (byte_len // n_frames) AS BIGINT) AS byte_off
        |FROM v, UNNEST(range(0, n_frames, GREATEST(n_frames // 4, 1))) AS t(g)
        |ORDER BY doc_id, frame_idx""".stripMargin,
    // E. Streaming batch equivalents
    "s01_window_agg" ->
      """SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start, event_type,
        |       COUNT(*) AS event_count,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin,
    // s15: per-window CMS heavy hitters — every counter rebuilt in SQL
    // (t20's verification story, windowed); rank ties break on numeric id
    "s15_window_heavy_hitters" ->
      s"""WITH c AS (SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start,
         |                  CAST(user_id AS VARCHAR) AS term, COUNT(*) AS true_n
         |           FROM events GROUP BY 1, 2),
         |th AS (SELECT window_start, term, true_n, ${CrossHashSql.poly31("term", 0)} AS h FROM c),
         |buck AS (SELECT window_start, term, true_n, i,
         |                (((${CrossHashSql.AList})[i+1] * h + (${CrossHashSql.BList})[i+1])
         |                 % ${graft.functions.CrossHash.P}) % 512 AS bucket
         |         FROM th, UNNEST(range(0, 4)) r(i)),
         |cnt AS (SELECT window_start, i, bucket, SUM(true_n) AS cn
         |        FROM buck GROUP BY 1, 2, 3),
         |top AS (SELECT window_start, term, true_n,
         |               ROW_NUMBER() OVER (PARTITION BY window_start
         |                                  ORDER BY true_n DESC, CAST(term AS BIGINT)) AS rnk
         |        FROM c QUALIFY rnk <= 5),
         |est AS (SELECT b.window_start, b.term, CAST(MIN(c2.cn) AS BIGINT) AS cms_n
         |        FROM buck b
         |        JOIN cnt c2 ON b.window_start = c2.window_start
         |                   AND b.i = c2.i AND b.bucket = c2.bucket
         |        JOIN top t ON t.window_start = b.window_start AND t.term = b.term
         |        GROUP BY 1, 2)
         |SELECT t.window_start, CAST(t.rnk AS BIGINT) AS rank,
         |       CAST(t.term AS BIGINT) AS user_id,
         |       CAST(t.true_n AS BIGINT) AS true_n, e.cms_n,
         |       e.cms_n >= t.true_n AS is_overestimate
         |FROM top t JOIN est e ON t.window_start = e.window_start AND t.term = e.term
         |ORDER BY t.window_start, t.rnk""".stripMargin,
    // s09: the streaming top-k transform's batch form — flat ranked rows
    // (q31's multiset-over-values pattern, here per 6-hour window)
    "s09_stream_topk" ->
      """SELECT window_start, event_type, CAST(rank AS BIGINT) AS rank, value FROM (
        |  SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start, event_type, value,
        |         ROW_NUMBER() OVER (PARTITION BY time_bucket(INTERVAL '6 hours', ts), event_type
        |                            ORDER BY value DESC) AS rank
        |  FROM events)
        |WHERE rank <= 3 ORDER BY window_start, event_type, rank""".stripMargin,
    // s12: s02's gap-session assignment + per-session top-3 by value — the
    // session_window x topk_agg composition, ranked flat for the hash
    "s12_session_topk" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                   ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM e),
        |r AS (
        |  SELECT user_id, session_seq, value,
        |         MIN(ts) OVER (PARTITION BY user_id, session_seq) AS session_start,
        |         ROW_NUMBER() OVER (PARTITION BY user_id, session_seq
        |                            ORDER BY value DESC) AS rank
        |  FROM s)
        |SELECT user_id, session_start, CAST(rank AS BIGINT) AS rank, value
        |FROM r WHERE rank <= 3
        |ORDER BY user_id, session_start, rank""".stripMargin,
    // s06: per-window HLL sketch next to the exact distinct; the sketch is
    // engine-specific, so the oracle checks the exact count and asserts the
    // error-bound claim TRUE (q24 pattern)
    "s06_stream_distinct" ->
      """SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start, event_type,
        |       COUNT(DISTINCT user_id) AS exact_users,
        |       TRUE AS approx_within_bound
        |FROM events GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin,
    "s02_sessionize" -> SessionizeOracle,
    // s11 runs the same contract through the native session_window operator
    // (gap widened 1 microsecond to match the <= semantics) — shared oracle
    "s11_session_native" -> SessionizeOracle,
    "s03_stream_dedup" ->
      """SELECT event_id, ts, user_id, event_type FROM (
        |  SELECT event_id, ts, user_id, event_type,
        |         ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY ts, user_id) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,
  )
}
