package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 has a `queries` entry
  * (a lazy plan builder `(spark, sfDir) => DataFrame`) and, where the
  * semantics are ANSI-SQL-expressible, a DuckDB oracle in `oracleSql`
  * with identical column names/ordering (SURVEY.md §4 determinism
  * contract: fixed-point integer aggregation, total ORDER BY).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreOps.q1Agg(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> (CoreOps.q1Agg _),
    "q_wordcount" -> (CoreOps.wordCount _),
    "q_map_filter" -> (CoreOps.mapFilter _),
    "q_keyed_sum" -> (CoreOps.keyedSum _),
    "q_keyed_sum_salted" -> ((s: SparkSession, d: String) => CoreOps.keyedSumSalted(s, d)),
    "q_rollup" -> (CoreOps.rollupAgg _),
    "q_pivot" -> (CoreOps.pivotAgg _),
    "q_keyed_minmax" -> (CoreOps.keyedMinMax _),
    "q_minby" -> (CoreOps.minBy _),
    "q_maxby" -> (CoreOps.maxBy _),
    "q_reduce_running" -> (CoreOps.reduceRunning _),
    "q_split_select" -> (CoreOps.splitSelect _),
    "q_union_connect" -> (CoreOps.unionConnect _),
    "q_side_output" -> (CoreOps.sideOutput _),
    "q_json_extract" -> (CoreOps.jsonExtract _),
    "q_window_tumbling" -> (WindowOps.windowTumbling _),
    "q_window_sliding" -> (WindowOps.windowSliding _),
    "q_window_day_offset" -> (WindowOps.windowDayOffset _),
    "q_window_count" -> (WindowOps.windowCount _),
    "q_session_window" -> (WindowOps.sessionWindow _),
    "q_state_jump" -> (StateOps.stateJump _),
    "q_rising_alarm" -> (StateOps.risingAlarm _),
    "q_order_daily" -> (JoinOps.orderDaily _),
    "q_order_nation" -> (JoinOps.orderNation _),
    "q_join_enrich" -> (JoinOps.joinEnrich _),
    "q_semi_join" -> (JoinOps.semiJoin _),
    "q_anti_join" -> (JoinOps.antiJoin _),
    "q_topn_window" -> (JoinOps.topnWindow _),
    "q_topn_agg" -> (TopK.topnAgg _),
    "q_shipping_priority" -> (JoinOps.shippingPriority _),
    "q_dedup_exact" -> (DedupOps.dedupExact _),
    "q_minhash_band" -> (DedupOps.minhashBandsQ _),
    "q_dedup_minhash" -> (DedupOps.dedupMinhash _),
    "q_simhash" -> (DedupOps.simhash _),
    "q_dedup_simhash" -> (DedupOps.dedupSimhash _),
    "q_dedup_ngram" -> (DedupOps.dedupNgram _),
    "q_dedup_cluster" -> (ClusterOps.dedupCluster _),
    "q_dedup_embedding" -> ((s, d) => DedupOps.dedupEmbedding(s, d)),
    "q_dedup_embedding_lsh" -> (DedupOps.dedupEmbeddingLsh _),
    "q_dedup_embedding_or" -> (DedupOps.dedupEmbeddingLshOr _),
    "q_embed_cluster" -> (ClusterOps.embedCluster _),
    "q_embed_incremental" -> (DedupOps.dedupEmbeddingIncremental _),
    "q_overlap_pairs" -> ((s: SparkSession, d: String) => DedupOps.overlapPairs(s, d)),
    "q_ann_topk" -> (SimilarityOps.annTopk _),
    "q_ann_negatives" -> (SimilarityOps.annNegatives _),
    "q_ann_lsh" -> (SimilarityOps.annLsh _),
    "q_ann_multiprobe" -> (SimilarityOps.annMultiprobe _),
    "q_ann_ivf" -> (SimilarityOps.annIvf _),
    "q_ann_recall" -> (SimilarityOps.annRecall _),
    "q_text_langid" -> (TextOps.textLangid _),
    "q_text_quality" -> (TextOps.textQuality _),
    "q_token_count" -> (TextOps.tokenCount _),
    "q_text_pii" -> (TextOps.textPii _),
    "q_pii_redact" -> (TextOps.piiRedact _),
    "q_skew_keys" -> (JoinOps.keySkewAudit _),
    "q_integrity" -> (JoinOps.integrityAudit _),
    "q_decontaminate" -> (CurationOps.decontaminate _),
    "q_decon_bloom" -> (CurationOps.decontaminateBloom _),
    "q_quality_gate" -> (TextOps.qualityGate _),
    "q_bm25_topk" -> (TextOps.bm25Topk _),
    "q_hybrid_rrf" -> (TextOps.hybridRrf _),
    "q_ab_funnel" -> (CoreOps.abFunnel _),
    "q_corpus_diff" -> (CurationOps.corpusDiff _),
    "q_diff_severity" -> (CurationOps.diffSeverityGate _),
    "q_sample_stratified" -> (CurationOps.stratifiedSample _),
    "q_mixture_sample" -> (CurationOps.mixtureSample _),
    "q_sample_uniform" -> (CurationOps.uniformSample _),
    "q_split_train_val" -> (CurationOps.splitTrainVal _),
    "q_source_stats" -> (CurationOps.sourceStats _),
    "q_curation" -> (CurationOps.curate _),
    "q_fingerprint" -> (TextOps.fingerprint _),
    "q_rolling_fp" -> (TextOps.rollingFp _),
    "q_text_repetition" -> (TextOps.textRepetition _),
    "q_ngram_topk" -> (TextOps.ngramTopk _),
    "q_lang_mismatch" -> (CurationOps.langMismatch _),
    "q_asof_join" -> (JoinOps.asofOrderEvents _),
    "q_range_join" -> (JoinOps.rangeEventBursts _),
    "q_kmv_distinct" -> (CurationOps.kmvDistinct _),
    "q_quantiles" -> (CurationOps.sourceQuantiles _),
    "q_cms_heavy" -> (CurationOps.cmsHeavy _),
    "q_tfidf_topk" -> (TextOps.tfidfTopk _),
    "q_embed_profile" -> (SimilarityOps.embedProfile _),
    "q_decontaminate_substr" -> (CurationOps.decontaminateSubstr _),
    "q_token_drift" -> (CurationOps.tokenDrift _),
    "q_dedup_incremental" -> (DedupOps.dedupIncremental _),
    "q_kmeans" -> (SimilarityOps.kmeansProfile _),
    "q_kmeans_rounds" -> (SimilarityOps.kmeansConverge _),
    "q_pack_sequences" -> (CurationOps.packSequences _),
    "q_dup_matrix" -> (DedupOps.dupSourceMatrix _),
    "q_cluster_best" -> (ClusterOps.clusterBest _),
    "q_event_outliers" -> (CoreOps.eventOutliers _),
    "q_sample_balanced" -> (SimilarityOps.sampleBalanced _),
    "q_chunks" -> (CurationOps.chunkDocs _),
    "q_chunk_dedup" -> (CurationOps.chunkDedup _),
    "q_funnel" -> (CurationOps.curationFunnel _),
    "q_sample_weighted" -> (CurationOps.weightedSample _),
    "q_lm_quality" -> (TextOps.lmQuality _),
    "q_embed_cov" -> (SimilarityOps.embedCovariance _),
    "q_minhash_calib" -> (DedupOps.minhashCalibration _),
    "q_sample_group" -> (CurationOps.groupSample _),
    "q_dedup_normalized" -> (DedupOps.dedupNormalized _),
    "q_dedup_prefix" -> (DedupOps.dedupPrefix _),
    "q_contamination" -> (CurationOps.contaminationReport _),
    "q_pmi_topk" -> (TextOps.pmiTopk _),
    "q_meta_audit" -> (CurationOps.metaAudit _),
    "q_decon_closure" -> (CurationOps.decontaminateClosure _),
    "q_pack_stats" -> (CurationOps.packStats _),
    "q_vocab_growth" -> (TextOps.vocabGrowth _),
    "q_retention" -> (CoreOps.retentionDaily _),
    "q_pca_top" -> (SimilarityOps.pcaTop _),
    "q_effective_tokens" -> (CurationOps.effectiveTokens _),
    "q_pca_var" -> (SimilarityOps.pcaVar _),
    "q_cluster_purity" -> (SimilarityOps.clusterPurity _),
    "q_decon_embedding" -> (CurationOps.deconEmbedding _),
    "q_decon_embedding_lsh" -> (CurationOps.deconEmbeddingLsh _),
    "q_token_diversity" -> (TextOps.tokenDiversity _),
    "q_length_gate" -> (CurationOps.lengthGate _),
    "q_hist_quantiles" -> (CurationOps.histQuantiles _),
    "q_quality_percentile" -> (CurationOps.qualityPercentile _),
    "q_cluster_quality" -> (ClusterOps.clusterQuality _),
    "q_cluster_hist" -> (ClusterOps.clusterHist _),
    "q_event_funnel" -> (CoreOps.eventFunnel _),
    "q_novelty" -> (CurationOps.noveltyCurve _),
    "q_boilerplate" -> (CurationOps.boilerplateRatio _),
    "q_source_sim" -> (DedupOps.sourceSimilarity _),
    "q_session_stats" -> (WindowOps.sessionStats _),
    "q_embed_outliers" -> (SimilarityOps.embedOutliers _),
    "q_revenue_filter" -> (CoreOps.revenueFilter _),
    "q_shard_assign" -> (CurationOps.shardAssign _),
    "q_cust_order_hist" -> (JoinOps.custOrderHist _),
    "q_ann_margin" -> (SimilarityOps.annMargin _),
    "q_ann_pq" -> (SimilarityOps.annPq _),
    "q_rp_distortion" -> (SimilarityOps.rpDistortion _),
    "q_pq_cells" -> (SimilarityOps.pqCells _),
    "q_event_transitions" -> (WindowOps.eventTransitions _),
    "q_rate_profile" -> (WindowOps.rateProfile _),
    "q_rfm_segments" -> (JoinOps.rfmSegments _),
    "q_order_cohorts" -> (JoinOps.orderCohorts _),
    "q_session_conversion" -> (WindowOps.sessionConversion _),
    "q_pack_sweep" -> (CurationOps.packSweep _),
    "q_lang_diversity" -> (CurationOps.langDiversity _),
    "q_vocab_coverage" -> (TextOps.vocabCoverage _),
    "q_quality_trend" -> (CurationOps.qualityTrend _),
    "q_dup_trend" -> (CurationOps.dupTrend _),
    "q_order_aging" -> (JoinOps.orderAging _),
    "q_dead_parts" -> (JoinOps.deadParts _),
    "q_decon_trend" -> (CurationOps.deconTrend _),
    "q_supplier_delay" -> (JoinOps.supplierDelay _),
    "q_ship_delay" -> (JoinOps.shipDelay _),
    "q_brand_basket" -> (JoinOps.brandBasket _),
    "q_embed_drift" -> (SimilarityOps.embedDrift _),
    "q_user_reconcile" -> (JoinOps.userReconcile _),
    "q_novelty_source" -> (CurationOps.noveltySource _),
    "q_cluster_policy" -> (ClusterOps.clusterPolicyAudit _),
    "q_funnel_window" -> (CoreOps.eventFunnelWindow _),
    "q_funnel_latency" -> (CoreOps.funnelLatency _),
    "q_order_priority" -> (JoinOps.orderPriority _),
    "q_waiting_supplier" -> (JoinOps.waitingSupplier _),
    "q_supplier_diversity" -> (JoinOps.supplierDiversity _),
    "q_promo_share" -> (JoinOps.promoShare _),
    "q_local_supplier" -> (JoinOps.localSupplierVolume _),
    "q_top_supplier" -> (JoinOps.topSupplier _),
    "q_source_cap" -> (CurationOps.sourceCap _),
    "q_dedup_thresholds" -> (DedupOps.dedupThresholds _),
    "q_event_gaps" -> (WindowOps.eventGaps _),
    "q_oov_rate" -> (TextOps.oovRate _),
    "q_quality_slope" -> (CurationOps.qualityLengthSlope _),
    "q_quality_yield" -> (CurationOps.qualityYield _),
    "q_ann_purity" -> (SimilarityOps.annLabelPurity _),
    "q_pair_degree" -> (DedupOps.pairDegreeHist _),
    "q_split_leakage" -> (CurationOps.splitLeakage _),
    "q_funnel_tokens" -> (CurationOps.curationFunnelTokens _),
    "q_char_profile" -> (TextOps.charProfile _),
    "q_mixture_temp" -> (CurationOps.mixtureTemperature _),
    "q_trade_volume" -> (JoinOps.tradeVolume _),
    "q_active_rolling" -> (CoreOps.rollingActive _),
    "q_decon_split" -> (CurationOps.deconBySplit _),
    "q_revenue_mtd" -> (JoinOps.revenueMtd _),
    "q_returned_items" -> (JoinOps.returnedItems _),
    "q_big_orders" -> (JoinOps.bigOrders _),
    "q_small_qty_rev" -> (JoinOps.smallQtyRev _),
    "q_disjunct_rev" -> (JoinOps.disjunctRev _),
    "q_dormant_rich" -> (JoinOps.dormantRich _),
    "q_market_share" -> (JoinOps.marketShare _),
    "q_hourly_profile" -> (CoreOps.hourlyProfile _),
    "q_event_affinity" -> (CoreOps.eventAffinity _),
    "q_label_centroids" -> (SimilarityOps.labelCentroids _),
    "q_pair_lang" -> (DedupOps.pairLangMatrix _),
    "q_zipf_topk" -> (TextOps.zipfTopk _),
    "q_bpe_merges" -> (TextOps.bpeMerges _),
    "q_bpe_apply" -> (TextOps.bpeApply _),
    "q_lang_confusion" -> (TextOps.langConfusion _),
    "q_token_len" -> (TextOps.tokenLenProfile _),
    "q_cluster_span" -> (ClusterOps.clusterSpan _),
    "q_pair_dist" -> (DedupOps.pairDistanceHist _),
    "q_quality_lang" -> (CurationOps.qualityByLang _),
    "q_order_lines" -> (JoinOps.orderLinesHist _),
    "q_ann_buckets" -> (SimilarityOps.annBucketStats _),
    "q_supplier_conc" -> (JoinOps.supplierConcentration _),
    "q_daily_anomaly" -> (CoreOps.dailyAnomaly _),
    "q_dedup_gain" -> (DedupOps.dedupGain _),
    "q_revenue_yoy" -> (JoinOps.revenueYoy _),
    "q_trade_balance" -> (JoinOps.tradeBalance _),
    "q_exact_span" -> (DedupOps.exactSpan _),
    "q_decon_widths" -> (CurationOps.deconWidthSweep _),
    "q_quality_vs_dup" -> (CurationOps.qualityVsDup _),
    "q_band_occupancy" -> (DedupOps.bandOccupancy _),
    "q_reorder_gaps" -> (JoinOps.reorderGaps _),
    "q_spend_hist" -> (JoinOps.spendHist _),
    "q_dup_by_length" -> (DedupOps.dupByLength _),
    "q_discount_effect" -> (JoinOps.discountEffect _),
    "q_brand_returns" -> (JoinOps.brandReturns _),
  )

  /** Shared oracle-SQL fragments (documents tokenization + quantized
    * embeddings), interpolated into the §2.7 oracles below. The hash
    * definition lives in ONE place (TextFunctions.hash60Sql) so the
    * oracles can never drift from the operators under test. */
  private def h60(inner: String): String =
    graft.functions.TextFunctions.hash60Sql(inner)
  private val tkCte =
    "tkv AS (SELECT doc_id, text, list_filter(string_split(text,' '), t -> t <> '') AS tk FROM documents)"
  /** Distinct word-n-gram shingles, 60-bit-hashed (mirrors
    * DedupOps.gramSets: distinct on the strings, then md5-hash each). */
  private def gramsCte(n: Int, alias: String = "g3"): String = {
    val g = (0 until n).map(o => s"tk[i${if (o > 0) s"+$o" else ""}]").mkString(" || ' ' || ")
    s"$alias AS (SELECT doc_id, list_transform(list_distinct(list_transform(generate_series(1, len(tk)-${n - 1}), i -> $g)), g -> ${h60("g")}) AS gs FROM tkv)"
  }
  /** MinHash signature CTEs (mirror DedupOps.minhashBands): 16
    * universal-hash permutations of the shingle hash, min per doc,
    * bands of 2 combined as mh1*P+mh2. */
  private val mhCtes: String = {
    import graft.functions.TextFunctions.{minhashAB, permuteSql, MinhashP}
    val ab = minhashAB(16)
    val mins = (0 until 16).map(i =>
      s"min(${permuteSql("h", ab(i)._1, ab(i)._2)}) AS mh$i").mkString(",\n    ")
    val bandHashes = (0 until 8).map(b =>
      s"mh${2 * b} * $MinhashP + mh${2 * b + 1}").mkString(", ")
    s"""g AS (SELECT doc_id, unnest(gs) AS h FROM g3),
       |m AS (SELECT doc_id, $mins FROM g GROUP BY doc_id),
       |bnd AS (SELECT doc_id, b, list_value($bandHashes)[CAST(b+1 AS INTEGER)] AS band_hash
       |  FROM m CROSS JOIN (SELECT unnest(generate_series(0,7)) AS b) s)""".stripMargin
  }
  /** Candidate → exact-Jaccard verify → J ≥ 1/2 pair CTEs (`cand`,
    * `ver`, `pr`) over the banded signatures — shared by every oracle
    * consuming the minhash pair listing (#39/#50/#69/#70), so the
    * verify bar and union math cannot drift between them. Requires
    * `$mhCtes` (+ gramsCte) upstream. */
  private val pairsCtes =
    """cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
      |  FROM bnd a JOIN bnd b2 ON a.b = b2.b AND a.band_hash = b2.band_hash AND a.doc_id < b2.doc_id),
      |ver AS (SELECT doc_a, doc_b,
      |  CAST(len(list_intersect(x.gs, y.gs)) AS BIGINT) AS n_common,
      |  CAST(len(x.gs) + len(y.gs) - len(list_intersect(x.gs, y.gs)) AS BIGINT) AS n_union
      |  FROM cand JOIN g3 x ON x.doc_id = doc_a JOIN g3 y ON y.doc_id = doc_b),
      |pr AS (SELECT doc_a, doc_b, n_common, n_union FROM ver WHERE n_common * 2 >= n_union)""".stripMargin
  /** Transitive closure (`e`, `reach`) over `pr` — the cluster
    * definition shared by the #50/#70 oracles (needs WITH RECURSIVE). */
  private val reachCtes =
    """e AS (SELECT doc_a AS s, doc_b AS d FROM pr UNION SELECT doc_b AS s, doc_a AS d FROM pr),
      |reach AS (SELECT s, d FROM e
      |  UNION SELECT r.s, e2.d FROM reach r JOIN e e2 ON r.d = e2.s)""".stripMargin
  private val quantCte =
    """n AS (SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS n2
      |      FROM (SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q FROM embeddings))""".stripMargin
  /** Integer covariance numerators for every dim pair i ≤ j
    * (`cv(i, j, n, cov_num)`) over the e3-quantized embeddings —
    * ONE definition shared by the #82 profile and the #88 PCA
    * oracle so the matrix under the eigensolve is exactly the
    * matrix the profile reports. */
  private val covCtes =
    """vq AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q FROM embeddings),
      |ca AS (SELECT q, unnest(range(len(q))) AS i, unnest(q) AS qi FROM vq),
      |cb AS (SELECT i, qi, unnest(range(len(q))) AS j, unnest(q) AS qj FROM ca),
      |cprods AS (SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
      |    CAST(count(*) AS BIGINT) AS n, CAST(sum(qi*qj) AS BIGINT) AS sxy
      |  FROM cb WHERE j >= i GROUP BY 1, 2),
      |cdim AS (SELECT CAST(dim AS BIGINT) AS dim, CAST(sum(qv) AS BIGINT) AS s
      |  FROM (SELECT unnest(range(len(q))) AS dim, unnest(q) AS qv FROM vq) GROUP BY 1),
      |cv AS MATERIALIZED (SELECT p.i, p.j, p.n, CAST(p.n * p.sxy - dx.s * dy.s AS BIGINT) AS cov_num
      |  FROM cprods p JOIN cdim dx ON dx.dim = p.i JOIN cdim dy ON dy.dim = p.j)""".stripMargin
  /** Final iterate index of the shared #88 power-iteration chain. */
  private val pcaLast: Int = graft.operators.SimilarityOps.PcaIters
  /** The #88 solve as SQL: scaled ±matrix (`cmh`) + the
    * [[pcaLast]]-step orbit (`v_0` … `v_$pcaLast`) over `$covCtes` —
    * ONE generator behind the `q_pca_top`/`q_pca_var` oracles,
    * mirroring SimilarityOps.pcaSolve. Every iteration CTE is AS
    * MATERIALIZED: DuckDB inlines plain CTEs, which re-evaluates the
    * covariance subtree exponentially across the chain. */
  private def pcaCtes: String = {
    val steps = (1 to pcaLast).map { r =>
      s"""w_$r AS MATERIALIZED (SELECT m.i AS dim, sum(m.c * v.v) AS w
         |  FROM cmh m JOIN v_${r - 1} v ON m.j = v.dim GROUP BY 1),
         |mx_$r AS MATERIALIZED (SELECT max(abs(w)) AS mx FROM w_$r),
         |sg_$r AS MATERIALIZED (SELECT CASE WHEN w < 0 THEN -1 ELSE 1 END AS s
         |  FROM w_$r, mx_$r WHERE abs(w) = mx ORDER BY dim LIMIT 1),
         |v_$r AS MATERIALIZED (SELECT dim,
         |    CASE WHEN mx = 0 THEN CAST(0 AS HUGEINT)
         |      WHEN w * s < 0 THEN -((-(w * s)) * 1000000 // mx)
         |      ELSE (w * s) * 1000000 // mx END AS v
         |  FROM w_$r, mx_$r, sg_$r)""".stripMargin
    }.mkString(",\n")
    s"""$covCtes,
       |cm AS (SELECT i, j,
       |    CASE WHEN cov_num < 0 THEN -((-cov_num) // n) ELSE cov_num // n END AS c
       |  FROM cv
       |  UNION ALL
       |  SELECT j AS i, i AS j,
       |    CASE WHEN cov_num < 0 THEN -((-cov_num) // n) ELSE cov_num // n END AS c
       |  FROM cv WHERE i < j),
       |cmh AS MATERIALIZED (SELECT i, j, CAST(c AS HUGEINT) AS c FROM cm),
       |v_0 AS MATERIALIZED (SELECT i AS dim, CAST(1000000 AS HUGEINT) AS v FROM cv WHERE i = j),
       |$steps""".stripMargin
  }
  /** Per-doc curation gate flags over `tkv`
    * (`flags(doc_id, source, text, q_ok, l_ok)`) — ONE SQL definition
    * of the quality and language gates shared by the #48e/#74
    * oracles, mirroring `CurationOps.curationFlags`. */
  private val curationFlagsCtes: String = {
    import graft.functions.TextFunctions.{deMarkers, detectableLangs, enMarkers, frMarkers}
    s"""q AS (SELECT t.doc_id, t.source, t.text, t.lang,
       |        CAST(len(tk) AS BIGINT) AS n_tokens,
       |        CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
       |        CAST(len(list_filter(tk, x -> list_contains(${inList(enMarkers)}, x))) AS BIGINT) AS en_hits,
       |        CAST(len(list_filter(tk, x -> list_contains(${inList(deMarkers)}, x))) AS BIGINT) AS de_hits,
       |        CAST(len(list_filter(tk, x -> list_contains(${inList(frMarkers)}, x))) AS BIGINT) AS fr_hits
       |      FROM tkv JOIN documents t USING (doc_id)),
       |flags AS (SELECT doc_id, source, text, n_tokens,
       |    CASE WHEN n_tokens >= 10 AND (n_tokens - n_distinct) * 10000 // n_tokens <= 3000
       |         THEN 1 ELSE 0 END AS q_ok,
       |    CASE WHEN NOT list_contains(${inList(detectableLangs)}, lang)
       |           OR ${detectedLangSql("en_hits", "de_hits", "fr_hits")} = lang
       |         THEN 1 ELSE 0 END AS l_ok
       |  FROM q)""".stripMargin
  }

  /** Overlapping token windows + per-chunk content hash over `tkv`
    * (`chh(doc_id, n_tokens, start_tok, chunk_hash)`) — ONE
    * definition of the chunk geometry shared by the #73/#73b oracles
    * so the window/stride/hash cannot drift between them. */
  private val chunksCtes: String = {
    import graft.operators.CurationOps.{ChunkStride, ChunkWidth}
    s"""chh AS (SELECT doc_id, n_tokens, start_tok,
       |    ${h60(s"array_to_string(tk[CAST(start_tok+1 AS INTEGER):CAST(start_tok+$ChunkWidth AS INTEGER)], ' ')")} AS chunk_hash
       |  FROM (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens, tk,
       |      unnest(range(0, len(tk), $ChunkStride)) AS start_tok
       |    FROM tkv WHERE len(tk) >= 1))""".stripMargin
  }

  /** Lloyd-iteration CTE chain over `n` (requires `$quantCte`):
    * `cents_0` = seeds (K lowest vec_ids, numbered 0..K-1), then per
    * round r: `asg_r` = integer squared-L2 argmin vs `cents_{r-1}`
    * with lowest-cluster ties KEEPING dist, `cents_r` = HALF_UP
    * integer-mean centroid update of `asg_r`. ONE generator feeds the
    * #67/#72/#44c oracles (via [[kmeansCtes]]) and the #67b
    * convergence oracle, so the cluster definition cannot drift
    * between any of them. dist = n2v + n2c − 2·dot: every term
    * BIGINT, so argmin and sums are integer-exact. */
  private def lloydCtes(rounds: Int): String = {
    val K = graft.operators.SimilarityOps.KmeansK
    val seed =
      s"""cents_0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id ASC) - 1 AS BIGINT) AS c, q, n2
         |  FROM (SELECT * FROM n ORDER BY vec_id ASC LIMIT $K))""".stripMargin
    val per = (1 to rounds).map { r =>
      s"""asg_$r AS (SELECT vec_id, c, q, dist FROM (
         |    SELECT vec_id, c, q, dist, row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, c ASC) AS rk FROM (
         |      SELECT v.vec_id, s.c, v.q,
         |        v.n2 + s.n2 - 2*CAST(list_sum(list_transform(list_zip(v.q, s.q), p -> p[1]*p[2])) AS BIGINT) AS dist
         |      FROM n v CROSS JOIN cents_${r - 1} s))
         |  WHERE rk = 1),
         |cd_$r AS (SELECT c, dim, CAST(round(CAST(sum(qv) AS DOUBLE)/count(*)) AS BIGINT) AS cv
         |  FROM (SELECT c, unnest(range(len(q))) AS dim, unnest(q) AS qv FROM asg_$r)
         |  GROUP BY c, dim),
         |cents_$r AS (SELECT c, q, CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS n2
         |  FROM (SELECT c, list(cv ORDER BY dim ASC) AS q FROM cd_$r GROUP BY c))""".stripMargin
    }
    (seed +: per).mkString(",\n")
  }

  /** One deterministic Lloyd round + final assignment
    * `a2(vec_id, c, dist)` (= round-2 argmin vs the updated centroids
    * `cents_1`; cd_2/cents_2 are never referenced so DuckDB never
    * evaluates them) — shared by the #67/#72 oracles, with `cents_1`
    * doubling as the #44c IVF pivot table. */
  /** PQ training + corpus-coding CTE chain (requires `$quantCte`):
    * subspace slices → seeds (PqK lowest vec_ids) → one Lloyd round →
    * codebooks `cb(m, c, s)` → corpus codes WITH their quantization
    * error `cerr(vec_id, m, c, d)` and the code-only view
    * `codes(vec_id, m, c)`. ONE generator feeds the #44d ADC ranking
    * oracle and the #44f cell-audit oracle, so the coding rule cannot
    * drift between them. */
  private val pqCtes: String = {
    import graft.operators.SimilarityOps.{PqK, PqM}
    val sq = "p -> (p[1]-p[2])*(p[1]-p[2])"
    s"""dims AS (SELECT CAST(len(q) // $PqM AS BIGINT) AS sd FROM n LIMIT 1),
       |subv AS (SELECT vec_id, m, list_slice(q, CAST(m*sd+1 AS BIGINT), CAST((m+1)*sd AS BIGINT)) AS s
       |  FROM n CROSS JOIN (SELECT CAST(unnest(range($PqM)) AS BIGINT) AS m) CROSS JOIN dims),
       |seeds AS (SELECT m, CAST(row_number() OVER (PARTITION BY m ORDER BY vec_id ASC) - 1 AS BIGINT) AS c, s
       |  FROM subv WHERE vec_id IN (SELECT vec_id FROM n ORDER BY vec_id ASC LIMIT $PqK)),
       |asg AS (SELECT m, c, s FROM (
       |    SELECT v.m, sd2.c, v.s,
       |      row_number() OVER (PARTITION BY v.vec_id, v.m ORDER BY
       |        CAST(list_sum(list_transform(list_zip(v.s, sd2.s), $sq)) AS BIGINT) ASC, sd2.c ASC) AS rk
       |    FROM subv v JOIN seeds sd2 USING (m)) WHERE rk = 1),
       |cbd AS (SELECT m, c, dim, CAST(round(CAST(sum(qv) AS DOUBLE)/count(*)) AS BIGINT) AS cv
       |  FROM (SELECT m, c, unnest(range(len(s))) AS dim, unnest(s) AS qv FROM asg) GROUP BY m, c, dim),
       |cb AS (SELECT m, c, list(cv ORDER BY dim ASC) AS s FROM cbd GROUP BY m, c),
       |cerr AS (SELECT vec_id, m, c, d FROM (
       |    SELECT v.vec_id, v.m, cb.c,
       |      CAST(list_sum(list_transform(list_zip(v.s, cb.s), $sq)) AS BIGINT) AS d,
       |      row_number() OVER (PARTITION BY v.vec_id, v.m ORDER BY
       |        CAST(list_sum(list_transform(list_zip(v.s, cb.s), $sq)) AS BIGINT) ASC, cb.c ASC) AS rk
       |    FROM subv v JOIN cb USING (m) WHERE v.vec_id >= 10) WHERE rk = 1),
       |codes AS (SELECT vec_id, m, c FROM cerr)""".stripMargin
  }

  private val kmeansCtes: String =
    s"""${lloydCtes(2)},
       |a2 AS (SELECT vec_id, c, dist FROM asg_2)""".stripMargin
  /** Random-hyperplane sign bucketing of the quantized embeddings —
    * `nb(vec_id, q, n2, bucket)`; shared by q_ann_lsh,
    * q_ann_multiprobe and q_dedup_embedding_lsh so the bucket
    * definition can never drift between the ANN and dedup oracles. */
  private val lshBucketCtes =
    s"""bkt AS (SELECT vec_id, CAST(sum(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM (SELECT n.vec_id, planes.j,
       |          CAST(list_sum(list_transform(list_zip(n.q, planes.w), z -> z[1]*z[2])) AS BIGINT) AS d
       |        FROM n CROSS JOIN ${graft.functions.VectorFunctions.planesSqlValues})
       |  GROUP BY 1),
       |nb AS (SELECT n.vec_id, q, n2, bucket FROM n JOIN bkt ON n.vec_id = bkt.vec_id)""".stripMargin

  /** Corpus-SCALED wide-bucket variant for the #42b dedup oracle
    * (`nbw(vec_id, q, n2, bucket)`): the [[graft.functions
    * .VectorFunctions.MaxPlanes]]-plane bucket (plane j at bit
    * MaxPlanes−1−j) right-shifted to the count-scaled plane number —
    * p = least(MaxPlanes, greatest(nPlanes, bitlen((n−1) div occ))),
    * with bitlen as an EXACT integer power-of-two count (no log2
    * doubles). Mirrors `VectorFunctions.scaledPlanes` +
    * `lshBucketWide` bit-for-bit. */
  private val scaledPlaneCountCte = {
    import graft.functions.VectorFunctions.{EmbLshOcc, MaxPlanes, nPlanes}
    s"""pl AS (SELECT LEAST($MaxPlanes, GREATEST($nPlanes,
       |    (SELECT CAST(count(*) AS INT) FROM range(0, 63) t(r)
       |     WHERE (CAST(1 AS BIGINT) << CAST(t.r AS INT)) <=
       |       (SELECT (count(*) - 1) // $EmbLshOcc FROM n)))) AS p)""".stripMargin
  }

  /** The scaled wide bucket under plane TABLE `t` of the
    * OR-construction — `nbw{sfx}(vec_id, q, n2, bucket)` over
    * `planesw$t`; requires `$scaledPlaneCountCte` upstream. Table 0
    * keeps the legacy un-suffixed names (`bktw`/`nbw`), so the #42b
    * single-table oracle is literally the t = 0 instance. */
  private def wideBucketCtesT(t: Int): String = {
    import graft.functions.VectorFunctions.MaxPlanes
    val sfx = if (t == 0) "" else t.toString
    s"""bktw$sfx AS (SELECT vec_id, CAST(sum(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << (${MaxPlanes - 1} - j)) ELSE 0 END) AS BIGINT) AS bucket20
       |  FROM (SELECT n.vec_id, planesw$t.j,
       |          CAST(list_sum(list_transform(list_zip(n.q, planesw$t.w), z -> z[1]*z[2])) AS BIGINT) AS d
       |        FROM n CROSS JOIN ${graft.functions.VectorFunctions.planesWideSqlValuesT(t)})
       |  GROUP BY 1),
       |nbw$sfx AS (SELECT n.vec_id, q, n2, bucket20 >> ($MaxPlanes - (SELECT p FROM pl)) AS bucket
       |  FROM n JOIN bktw$sfx ON n.vec_id = bktw$sfx.vec_id)""".stripMargin
  }

  private val lshBucketWideCtes =
    s"""$scaledPlaneCountCte,
       |${wideBucketCtesT(0)}""".stripMargin
  /** Bigram-LM count tables + per-occurrence ratio rows
    * `lmr(doc_id, r)` (r = c(w1w2)·10⁶ div c(w1)) — the ONE corpus
    * LM definition shared by the #81 fluency oracle and the #95
    * quality-percentile oracle. Requires `$tkCte` upstream. */
  private val lmCtes =
    """bg AS (SELECT doc_id, tk[CAST(i AS INTEGER)] AS w1, tk[CAST(i+1 AS INTEGER)] AS w2
      |  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk)-1)) AS i
      |        FROM tkv WHERE len(tk) >= 2)),
      |uni AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1
      |  FROM (SELECT unnest(tk) AS w1 FROM tkv) GROUP BY w1),
      |big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY w1, w2),
      |lmr AS (SELECT doc_id, c2 * 1000000 // c1 AS r
      |  FROM bg JOIN big USING (w1, w2) JOIN uni USING (w1))""".stripMargin
  /** The #151 BPE training chain over `uni` (requires `$lmCtes`
    * upstream): `t0..t$k` are the progressively-merged word-type
    * tables (parenthesis-wrapped symbol sequences — see
    * TextOps.wrapSyms for why `replace` on that form IS the greedy
    * merge), `b1..b$k` the per-round winning pairs. Every stateful
    * CTE is AS MATERIALIZED — DuckDB inlines plain CTEs, and a
    * k-step chain re-evaluates exponentially otherwise (the #88
    * power-iteration lesson). An exhausted round (every type one
    * symbol) leaves `b$r` empty and the chr(1) coalesce makes the
    * round's replace a no-op, mirroring the Scala loop's early stop. */
  private def bpeCtes(k: Int): String = {
    val sb = new StringBuilder(
      """bt0 AS MATERIALIZED (SELECT w1, CAST(c1 AS BIGINT) AS cnt,
        |    regexp_replace(w1, '(.)', '(\1)', 'g') AS seq FROM uni
        |  WHERE w1 NOT LIKE '%(%' AND w1 NOT LIKE '%)%')""".stripMargin)
    for (r <- 1 to k) {
      sb ++= s""",
        |bp$r AS (SELECT s[CAST(i AS INTEGER)] AS s1, s[CAST(i+1 AS INTEGER)] AS s2,
        |    CAST(sum(cnt) AS BIGINT) AS n
        |  FROM (SELECT s, cnt, unnest(generate_series(1, len(s) - 1)) AS i
        |        FROM (SELECT string_split(substr(seq, 2, length(seq) - 2), ')(') AS s, cnt
        |              FROM bt${r - 1})
        |        WHERE len(s) >= 2)
        |  GROUP BY 1, 2),
        |bb$r AS MATERIALIZED (SELECT s1, s2, n FROM bp$r ORDER BY n DESC, s1, s2 LIMIT 1),
        |bt$r AS MATERIALIZED (SELECT w1, cnt, replace(seq,
        |    coalesce((SELECT '(' || s1 || ')(' || s2 || ')' FROM bb$r), chr(1)),
        |    coalesce((SELECT '(' || s1 || s2 || ')' FROM bb$r), '')) AS seq
        |  FROM bt${r - 1})""".stripMargin
    }
    sb.toString
  }

  /** The #95 quality-percentile chain ending in
    * `comp(doc_id, lm_pct_e4, div_pct_e4, rep_pct_e4, composite_e4)`
    * — ONE composite-quality definition shared by the #95 oracle and
    * the #96 quality-retention oracle. Requires `$tkCte` and
    * `$lmCtes` upstream. */
  private val qualityCtes: String = {
    val W = graft.operators.CurationOps.PctBucketW
    def pctCtes(src: String, tag: String): String =
      s"""${tag}h AS (SELECT s // $W AS b, CAST(count(*) AS BIGINT) AS c FROM $src GROUP BY 1),
         |${tag}c AS (SELECT b, CAST(sum(c) OVER (ORDER BY b ASC) - c AS BIGINT) AS below,
         |    CAST(sum(c) OVER () AS BIGINT) AS n FROM ${tag}h),
         |${tag}p AS (SELECT m.doc_id, below * 10000 // n AS pct
         |  FROM $src m JOIN ${tag}c h ON m.s // $W = h.b)""".stripMargin
    s"""lmq AS (SELECT doc_id, CAST(sum(r) // count(*) AS BIGINT) AS s
       |  FROM lmr GROUP BY doc_id),
       |qcnt AS (SELECT doc_id, tok, count(*) AS c
       |  FROM (SELECT doc_id, unnest(tk) AS tok FROM tkv) GROUP BY 1, 2),
       |qst AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
       |    CAST(sum(c*c) AS BIGINT) AS ssq, CAST(max(c) AS BIGINT) AS mx
       |  FROM qcnt GROUP BY 1),
       |dvq AS (SELECT doc_id, (n*n - ssq) * 1000000 // (n*n) AS s FROM qst WHERE n > 0),
       |rpq AS (SELECT doc_id, (10000 - mx * 10000 // n) * 100 AS s FROM qst WHERE n > 0),
       |${pctCtes("lmq", "l")},
       |${pctCtes("dvq", "d")},
       |${pctCtes("rpq", "r")},
       |comp AS (SELECT lp.doc_id, lp.pct AS lm_pct_e4, dp.pct AS div_pct_e4,
       |    rp.pct AS rep_pct_e4, (lp.pct + dp.pct + rp.pct) // 3 AS composite_e4
       |  FROM lp JOIN dp USING (doc_id) JOIN rp USING (doc_id))""".stripMargin
  }
  private def cosE6(qa: String, qb: String, n2a: String, n2b: String): String =
    s"CAST(round(CAST(list_sum(list_transform(list_zip($qa,$qb), p -> p[1]*p[2])) AS DOUBLE) / sqrt(CAST($n2a*$n2b AS DOUBLE)) * 1000000) AS BIGINT)"
  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ",", "]")

  /** Direct-polynomial recompute of the RollWindow-char rolling-window
    * hashes in HUGEINT (`w(doc_id, p, h)`) — the ONE independent
    * check of RollingHash's O(1) recurrence, shared by
    * q_rolling_fp and q_overlap_pairs so the two oracles cannot
    * drift. */
  private val rollWindowCte: String = {
    import graft.functions.RollingHash.{B, P}
    import graft.operators.TextOps.RollWindow
    val pows = (0 until RollWindow).map { k => // B^(w-1-i) for char i=k
      java.math.BigInteger.valueOf(B)
        .modPow(java.math.BigInteger.valueOf(RollWindow - 1 - k),
          java.math.BigInteger.valueOf(P))
        .longValueExact()
    }
    s"""w AS (
       |  SELECT doc_id, p,
       |    CAST(list_sum(list_transform(generate_series(0, ${RollWindow - 1}),
       |      i -> CAST([${pows.mkString(",")}][i+1] AS HUGEINT) * ord(substr(text, p + i, 1)))) % $P AS BIGINT) AS h
       |  FROM documents
       |  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, length(text) - ${RollWindow - 1})) AS p)
       |  WHERE length(text) >= $RollWindow)""".stripMargin
  }

  /** The language-ID decision CASE over marker-hit columns — shared by
    * q_text_langid and q_curation (the en>de>fr priority tie-break is
    * load-bearing; one definition). Mirrors
    * TextFunctions.detectedLang. */
  private def detectedLangSql(en: String, de: String, fr: String): String =
    s"""CASE WHEN $en >= $de AND $en >= $fr AND $en > 0 THEN 'en'
       |       WHEN $de >= $fr AND $de > 0 THEN 'de'
       |       WHEN $fr > 0 THEN 'fr' ELSE 'und' END""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)) AS BIGINT) AS sum_base_e2,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000.0, 0) AS BIGINT)) AS BIGINT) AS sum_disc_e4,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_wordcount" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |WHERE word <> '' GROUP BY word ORDER BY word""".stripMargin,
    "q_map_filter" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE value >= 50.0 AND event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "q_keyed_sum" ->
      """SELECT user_id, count(*) AS cnt,
        |  CAST(sum(CAST(round(value * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS sum_value_e6
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_rollup" ->
      """SELECT event_type, user_id, count(*) AS cnt,
        |  CAST(sum(CAST(round(value * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS sum_value_e6
        |FROM events GROUP BY ROLLUP (event_type, user_id)
        |ORDER BY event_type ASC NULLS FIRST, user_id ASC NULLS FIRST""".stripMargin,
    "q_pivot" ->
      """SELECT user_id,
        |  COALESCE(CAST(sum(CAST(round(value * 1000000.0, 0) AS BIGINT)) FILTER (event_type = 'click') AS BIGINT), 0) AS click,
        |  COALESCE(CAST(sum(CAST(round(value * 1000000.0, 0) AS BIGINT)) FILTER (event_type = 'error') AS BIGINT), 0) AS error,
        |  COALESCE(CAST(sum(CAST(round(value * 1000000.0, 0) AS BIGINT)) FILTER (event_type = 'purchase') AS BIGINT), 0) AS purchase,
        |  COALESCE(CAST(sum(CAST(round(value * 1000000.0, 0) AS BIGINT)) FILTER (event_type = 'signup') AS BIGINT), 0) AS signup,
        |  COALESCE(CAST(sum(CAST(round(value * 1000000.0, 0) AS BIGINT)) FILTER (event_type = 'view') AS BIGINT), 0) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the salted two-stage form must produce bit-identical totals
    "q_keyed_sum_salted" ->
      """SELECT user_id, count(*) AS cnt,
        |  CAST(sum(CAST(round(value * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS sum_value_e6
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_keyed_minmax" ->
      """SELECT user_id, min(value) AS min_value, max(value) AS max_value,
        |  count(*) AS cnt
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_minby" ->
      """SELECT user_id, event_id, value, epoch_us(ts) AS ts_us FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY value ASC, event_id ASC) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q_maxby" ->
      """SELECT user_id, event_id, value, epoch_us(ts) AS ts_us FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q_reduce_running" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  count(*) OVER w AS running_cnt,
        |  CAST(sum(CAST(round(value * 1000000.0, 0) AS BIGINT)) OVER w AS BIGINT) AS running_sum_e6
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts_us, event_id""".stripMargin,
    "q_split_select" ->
      """SELECT CASE WHEN value >= 80.0 THEN 'high'
        |            WHEN value >= 50.0 THEN 'mid' ELSE 'low' END AS severity,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(round(value * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS sum_value_e6
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_union_connect" ->
      """SELECT * FROM (
        |  SELECT user_id, event_id, 'error' AS tag FROM events WHERE value >= 80.0
        |  UNION ALL
        |  SELECT user_id, event_id, 'warn' AS tag FROM events WHERE value >= 50.0 AND value < 80.0
        |) ORDER BY event_id""".stripMargin,
    "q_side_output" ->
      """SELECT event_id, user_id, event_type, value, 'hot' AS tag
        |FROM events WHERE value > 90.0 ORDER BY event_id""".stripMargin,
    "q_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
        |ORDER BY event_id""".stripMargin,
    // NOTE window starts use floor alignment (x - ((x % d) + d) % d),
    // matching Spark's window(); DuckDB's `//` truncates toward zero,
    // which diverges for pre-epoch timestamps
    "q_window_tumbling" ->
      """SELECT epoch_us(ts) - ((epoch_us(ts) % 21600000000) + 21600000000) % 21600000000 AS window_start_us, event_type,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(round(value * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS sum_value_e6,
        |  min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_window_sliding" ->
      """SELECT ws AS window_start_us, event_type, count(*) AS cnt,
        |  CAST(sum(CAST(round(value * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS sum_value_e6
        |FROM (
        |  SELECT epoch_us(ts) - ((epoch_us(ts) % 21600000000) + 21600000000) % 21600000000 - k.k * 21600000000 AS ws,
        |         event_type, value
        |  FROM events, (VALUES (0), (1), (2), (3)) k(k))
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_window_day_offset" ->
      """SELECT (epoch_us(ts) - 57600000000) - (((epoch_us(ts) - 57600000000) % 86400000000) + 86400000000) % 86400000000 + 57600000000 AS window_start_us,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(round(value * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS sum_value_e6
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_window_count" ->
      """SELECT user_id, win_idx, count(*) AS cnt,
        |  CAST(sum(CAST(round(value * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS sum_value_e6
        |FROM (
        |  SELECT user_id, value,
        |    CAST((row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) - 1) // 10 AS BIGINT) AS win_idx
        |  FROM events)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_session_window" ->
      """SELECT user_id, session_id, count(*) AS cnt,
        |  min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
        |  CAST(sum(CAST(round(value * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS sum_value_e6
        |FROM (
        |  SELECT user_id, value, ts_us,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM (
        |    SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
        |      CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC) IS NULL
        |             OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC) > 1800000000
        |           THEN 1 ELSE 0 END AS new_session
        |    FROM events))
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_state_jump" ->
      """SELECT user_id, event_id, ts_us, prev_value, value FROM (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
        |    lag(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_value
        |  FROM events)
        |WHERE prev_value IS NOT NULL AND abs(value - prev_value) > 50.0
        |ORDER BY user_id, ts_us, event_id""".stripMargin,
    "q_rising_alarm" ->
      """SELECT user_id, event_id, ts_us, v2, v1, value FROM (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
        |    lag(value, 1) OVER w AS v1, lag(value, 2) OVER w AS v2,
        |    lag(epoch_us(ts), 2) OVER w AS t2_us
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
        |WHERE v2 IS NOT NULL AND value > v1 AND v1 > v2 AND ts_us - t2_us <= 86400000000
        |ORDER BY user_id, ts_us, event_id""".stripMargin,
    "q_order_daily" ->
      """SELECT strftime(o_orderdate, '%Y-%m-%d') AS order_day,
        |  count(*) AS total_num,
        |  CAST(sum(CAST(round(o_totalprice * 100.0, 0) AS BIGINT)) AS BIGINT) AS total_money_e2
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_order_nation" ->
      """SELECT n_name, count(*) AS total_num,
        |  CAST(sum(CAST(round(o_totalprice * 100.0, 0) AS BIGINT)) AS BIGINT) AS total_money_e2
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_join_enrich" ->
      """SELECT p_brand,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000.0, 0) AS BIGINT)) AS BIGINT) AS revenue_e4,
        |  count(*) AS cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_semi_join" ->
      """SELECT p_partkey, p_name FROM part
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_partkey = p_partkey AND l_quantity > 45.0)
        |ORDER BY p_partkey""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q_topn_window" ->
      """SELECT o_orderpriority, rank, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
        |  FROM orders)
        |WHERE rank <= 3 ORDER BY o_orderpriority, rank""".stripMargin,
    // bounded-heap aggregator: same semantics as q_topn_window
    "q_topn_agg" ->
      """SELECT o_orderpriority, rank, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
        |  FROM orders)
        |WHERE rank <= 3 ORDER BY o_orderpriority, rank""".stripMargin,
    "q_shipping_priority" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000.0, 0) AS BIGINT)) AS BIGINT) AS revenue_e4
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |GROUP BY 1, 2 ORDER BY revenue_e4 DESC, o_orderkey ASC LIMIT 20""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(lower(trim(text))) AS text_hash, min(doc_id) AS keep_id,
        |  count(*) AS cnt FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin,
    "q_minhash_band" ->
      s"""WITH $tkCte, ${gramsCte(graft.operators.DedupOps.VerifyGram)},
         |$mhCtes
         |SELECT doc_id, b AS band, band_hash FROM bnd
         |ORDER BY doc_id, band""".stripMargin,
    "q_dedup_minhash" ->
      s"""WITH $tkCte, ${gramsCte(graft.operators.DedupOps.VerifyGram)},
         |$mhCtes,
         |$pairsCtes
         |SELECT doc_a, doc_b, n_common, n_union FROM pr
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_dedup_cluster" ->
      s"""WITH RECURSIVE $tkCte, ${gramsCte(graft.operators.DedupOps.VerifyGram)},
         |$mhCtes,
         |$pairsCtes,
         |$reachCtes
         |SELECT s AS doc_id,
         |  CAST(least(s, min(d)) AS BIGINT) AS cluster_id,
         |  CAST(CASE WHEN least(s, min(d)) = s THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM reach GROUP BY s ORDER BY doc_id""".stripMargin,
    "q_simhash" ->
      s"""WITH $tkCte,
         |t AS (SELECT doc_id, unnest(tk) AS tok FROM tkv),
         |th AS (SELECT doc_id, ${h60("tok")} AS h FROM t),
         |v AS (SELECT doc_id, b, sum(2*((h >> b) & 1) - 1) AS v
         |      FROM th CROSS JOIN (SELECT unnest(generate_series(0,${DedupOps.SimhashBits - 1})) AS b) s GROUP BY 1, 2)
         |SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) ELSE 0 END) AS BIGINT) AS simhash
         |FROM v GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "q_dedup_simhash" ->
      s"""WITH $tkCte,
         |t AS (SELECT doc_id, unnest(tk) AS tok FROM tkv),
         |th AS (SELECT doc_id, ${h60("tok")} AS h FROM t),
         |v AS (SELECT doc_id, b, sum(2*((h >> b) & 1) - 1) AS v
         |      FROM th CROSS JOIN (SELECT unnest(generate_series(0,${DedupOps.SimhashBits - 1})) AS b) s GROUP BY 1, 2),
         |sg AS (SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) ELSE 0 END) AS BIGINT) AS simhash
         |       FROM v GROUP BY 1),
         |blk AS (SELECT doc_id, simhash, b, (simhash >> CAST(${DedupOps.SimhashBlockBits}*b AS INTEGER)) & ${DedupOps.SimhashBlockMask} AS key
         |        FROM sg CROSS JOIN (SELECT unnest(generate_series(0,${DedupOps.SimhashBlocks - 1})) AS b) s)
         |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |  CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
         |FROM blk x JOIN blk y ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_dedup_ngram" ->
      s"""WITH $tkCte, ${gramsCte(3)},
         |srt AS (SELECT doc_id, list_sort(gs) AS gs FROM g3 WHERE len(gs) > 0),
         |pref AS (SELECT doc_id, unnest(gs[1:CAST(len(gs)//2 + 1 AS INTEGER)]) AS h FROM srt),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM pref a JOIN pref b ON a.h = b.h AND a.doc_id < b.doc_id),
         |ver AS (SELECT doc_a, doc_b,
         |  CAST(len(list_intersect(x.gs, y.gs)) AS BIGINT) AS n_common,
         |  CAST(len(x.gs) + len(y.gs) - len(list_intersect(x.gs, y.gs)) AS BIGINT) AS n_union
         |  FROM cand JOIN g3 x ON x.doc_id = doc_a JOIN g3 y ON y.doc_id = doc_b)
         |SELECT doc_a, doc_b, n_common, n_union FROM ver
         |WHERE n_common * 2 >= n_union ORDER BY doc_a, doc_b""".stripMargin,
    "q_dedup_embedding" ->
      s"""WITH $quantCte
         |SELECT vec_a, vec_b, cos_e6 FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    ${cosE6("a.q", "b.q", "a.n2", "b.n2")} AS cos_e6
         |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
         |WHERE cos_e6 >= 400000 ORDER BY vec_a, vec_b""".stripMargin,
    "q_ann_topk" ->
      s"""WITH $quantCte,
         |s AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
         |    ${cosE6("a.q", "b.q", "a.n2", "b.n2")} AS cos_e6
         |  FROM n a CROSS JOIN n b WHERE a.vec_id < 10 AND b.vec_id >= 10),
         |r AS (SELECT query_id, vec_id, cos_e6,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_e6 DESC, vec_id ASC) AS BIGINT) AS rank FROM s)
         |SELECT query_id, rank, vec_id, cos_e6 FROM r WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,
    "q_ann_negatives" ->
      s"""WITH $quantCte,
         |nl AS (SELECT n.vec_id, q, n2, CAST(label AS BIGINT) AS label
         |  FROM n JOIN embeddings e ON n.vec_id = e.vec_id),
         |s AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
         |    a.label AS qlabel, b.label AS label,
         |    ${cosE6("a.q", "b.q", "a.n2", "b.n2")} AS cos_e6
         |  FROM nl a CROSS JOIN nl b
         |  WHERE a.vec_id < 10 AND b.vec_id >= 10 AND a.label <> b.label),
         |r AS (SELECT query_id, vec_id, qlabel, label, cos_e6,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_e6 DESC, vec_id ASC) AS BIGINT) AS rank FROM s)
         |SELECT query_id, rank, vec_id, cos_e6, qlabel, label FROM r WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,
    "q_dedup_embedding_lsh" ->
      s"""WITH $quantCte,
         |$lshBucketWideCtes
         |SELECT vec_a, vec_b, cos_e6 FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    ${cosE6("a.q", "b.q", "a.n2", "b.n2")} AS cos_e6
         |  FROM nbw a JOIN nbw b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |WHERE cos_e6 >= 400000 ORDER BY vec_a, vec_b""".stripMargin,
    // #42c: UNION (set semantics) over the per-table same-bucket pair
    // sets = the Spark side's distinct over the (t, bucket) explode
    "q_dedup_embedding_or" ->
      s"""WITH $quantCte,
         |$lshBucketWideCtes,
         |${wideBucketCtesT(1)}
         |SELECT vec_a, vec_b, cos_e6 FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    ${cosE6("a.q", "b.q", "a.n2", "b.n2")} AS cos_e6
         |  FROM nbw a JOIN nbw b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  UNION
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    ${cosE6("a.q", "b.q", "a.n2", "b.n2")} AS cos_e6
         |  FROM nbw1 a JOIN nbw1 b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |WHERE cos_e6 >= 400000 ORDER BY vec_a, vec_b""".stripMargin,
    // #42d: transitive closure (the shared recursive reach CTE) over
    // the OR-construction pair set, labels = min vec_id per component
    "q_embed_cluster" ->
      s"""WITH RECURSIVE $quantCte,
         |$lshBucketWideCtes,
         |${wideBucketCtesT(1)},
         |pr AS (
         |  SELECT vec_a AS doc_a, vec_b AS doc_b FROM (
         |    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |      ${cosE6("a.q", "b.q", "a.n2", "b.n2")} AS cos_e6
         |    FROM nbw a JOIN nbw b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |    UNION
         |    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |      ${cosE6("a.q", "b.q", "a.n2", "b.n2")} AS cos_e6
         |    FROM nbw1 a JOIN nbw1 b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |  WHERE cos_e6 >= 400000),
         |$reachCtes
         |SELECT s AS vec_id,
         |  CAST(least(s, min(d)) AS BIGINT) AS cluster_id,
         |  CAST(CASE WHEN least(s, min(d)) = s THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM reach GROUP BY s ORDER BY vec_id""".stripMargin,
    // #42e: drop (vec_id % IncrMod = 0) vs corpus, same full-corpus
    // scaled bucket on both sides — the artifact is exact math, so
    // the oracle just splits the shared nbw relation
    "q_embed_incremental" ->
      s"""WITH $quantCte,
         |$lshBucketWideCtes
         |SELECT vec_new, vec_old, cos_e6 FROM (
         |  SELECT a.vec_id AS vec_new, b.vec_id AS vec_old,
         |    ${cosE6("a.q", "b.q", "a.n2", "b.n2")} AS cos_e6
         |  FROM nbw a JOIN nbw b ON a.bucket = b.bucket
         |  WHERE a.vec_id % ${graft.operators.DedupOps.IncrMod} = 0
         |    AND b.vec_id % ${graft.operators.DedupOps.IncrMod} <> 0)
         |WHERE cos_e6 >= 400000 ORDER BY vec_new, vec_old""".stripMargin,
    "q_ann_lsh" ->
      s"""WITH $quantCte,
         |$lshBucketCtes,
         |s AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
         |    ${cosE6("a.q", "b.q", "a.n2", "b.n2")} AS cos_e6
         |  FROM nb a JOIN nb b ON a.bucket = b.bucket WHERE a.vec_id < 10 AND b.vec_id >= 10),
         |r AS (SELECT query_id, vec_id, cos_e6,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_e6 DESC, vec_id ASC) AS BIGINT) AS rank FROM s)
         |SELECT query_id, rank, vec_id, cos_e6 FROM r WHERE rank <= 3
         |ORDER BY query_id, rank""".stripMargin,
    "q_ann_multiprobe" ->
      s"""WITH $quantCte,
         |$lshBucketCtes,
         |probes AS (SELECT vec_id, q, n2, xor(bucket, mk.m) AS qbucket
         |  FROM nb CROSS JOIN (VALUES ${(0L +: (0 until graft.functions.VectorFunctions.nPlanes).map(1L << _)).map(m => s"($m)").mkString(", ")}) mk(m) WHERE vec_id < 10),
         |s AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
         |    ${cosE6("a.q", "b.q", "a.n2", "b.n2")} AS cos_e6
         |  FROM probes a JOIN nb b ON a.qbucket = b.bucket WHERE b.vec_id >= 10),
         |r AS (SELECT query_id, vec_id, cos_e6,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_e6 DESC, vec_id ASC) AS BIGINT) AS rank FROM s)
         |SELECT query_id, rank, vec_id, cos_e6 FROM r WHERE rank <= 3
         |ORDER BY query_id, rank""".stripMargin,
    "q_ann_recall" ->
      s"""WITH $quantCte,
         |$lshBucketCtes,
         |sx AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
         |    ${cosE6("a.q", "b.q", "a.n2", "b.n2")} AS cos_e6
         |  FROM n a CROSS JOIN n b WHERE a.vec_id < 10 AND b.vec_id >= 10),
         |ex AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos_e6 DESC, vec_id ASC) AS rank FROM sx)
         |  WHERE rank <= 3),
         |sl AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
         |    ${cosE6("a.q", "b.q", "a.n2", "b.n2")} AS cos_e6
         |  FROM nb a JOIN nb b ON a.bucket = b.bucket WHERE a.vec_id < 10 AND b.vec_id >= 10),
         |lr AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos_e6 DESC, vec_id ASC) AS rank FROM sl)
         |  WHERE rank <= 3),
         |probes AS (SELECT vec_id, q, n2, xor(bucket, mk.m) AS qbucket
         |  FROM nb CROSS JOIN (VALUES ${(0L +: (0 until graft.functions.VectorFunctions.nPlanes).map(1L << _)).map(m => s"($m)").mkString(", ")}) mk(m) WHERE vec_id < 10),
         |sm AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
         |    ${cosE6("a.q", "b.q", "a.n2", "b.n2")} AS cos_e6
         |  FROM probes a JOIN nb b ON a.qbucket = b.bucket WHERE b.vec_id >= 10),
         |mr AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos_e6 DESC, vec_id ASC) AS rank FROM sm)
         |  WHERE rank <= 3),
         |rl AS (SELECT 'lsh' AS method, e.query_id, CAST(count(*) AS BIGINT) AS n_exact,
         |    CAST(count(l.vec_id) AS BIGINT) AS n_hit
         |  FROM ex e LEFT JOIN lr l ON e.query_id = l.query_id AND e.vec_id = l.vec_id
         |  GROUP BY e.query_id),
         |rm AS (SELECT 'multiprobe' AS method, e.query_id, CAST(count(*) AS BIGINT) AS n_exact,
         |    CAST(count(m2.vec_id) AS BIGINT) AS n_hit
         |  FROM ex e LEFT JOIN mr m2 ON e.query_id = m2.query_id AND e.vec_id = m2.vec_id
         |  GROUP BY e.query_id),
         |${lloydCtes(1)},
         |ipiv AS (SELECT c AS pid, q AS pq, n2 AS pn2 FROM cents_1),
         |iasn AS (SELECT vec_id, q, n2, pid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY pcos DESC, pid ASC) AS pr
         |  FROM (SELECT n.vec_id, n.q, n.n2, ipiv.pid,
         |          ${cosE6("n.q", "ipiv.pq", "n.n2", "ipiv.pn2")} AS pcos
         |        FROM n CROSS JOIN ipiv)),
         |icells AS (SELECT pid AS cell, vec_id, q, n2 FROM iasn WHERE pr = 1 AND vec_id >= 10),
         |iprobes AS (SELECT pid AS qcell, vec_id AS query_id, q, n2 FROM iasn WHERE pr <= 2 AND vec_id < 10),
         |sv AS (SELECT query_id, b.vec_id AS vec_id,
         |    ${cosE6("a.q", "b.q", "a.n2", "b.n2")} AS cos_e6
         |  FROM iprobes a JOIN icells b ON a.qcell = b.cell),
         |ir AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos_e6 DESC, vec_id ASC) AS rank FROM sv)
         |  WHERE rank <= 3),
         |riv AS (SELECT 'ivf' AS method, e.query_id, CAST(count(*) AS BIGINT) AS n_exact,
         |    CAST(count(i.vec_id) AS BIGINT) AS n_hit
         |  FROM ex e LEFT JOIN ir i ON e.query_id = i.query_id AND e.vec_id = i.vec_id
         |  GROUP BY e.query_id)
         |SELECT method, query_id, n_exact, n_hit,
         |  (n_hit * 10000) // n_exact AS recall_e4
         |FROM (SELECT * FROM rl UNION ALL SELECT * FROM rm UNION ALL SELECT * FROM riv)
         |ORDER BY method, query_id""".stripMargin,
    "q_ann_ivf" ->
      s"""WITH $quantCte,
         |${lloydCtes(1)},
         |piv AS (SELECT c AS pid, q AS pq, n2 AS pn2 FROM cents_1),
         |asn AS (SELECT vec_id, q, n2, pid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY pcos DESC, pid ASC) AS pr
         |  FROM (SELECT n.vec_id, n.q, n.n2, piv.pid,
         |          ${cosE6("n.q", "piv.pq", "n.n2", "piv.pn2")} AS pcos
         |        FROM n CROSS JOIN piv)),
         |cells AS (SELECT pid AS cell, vec_id, q, n2 FROM asn WHERE pr = 1 AND vec_id >= 10),
         |probes AS (SELECT pid AS qcell, vec_id AS query_id, q, n2 FROM asn WHERE pr <= 2 AND vec_id < 10),
         |s AS (SELECT query_id, b.vec_id AS vec_id,
         |    ${cosE6("a.q", "b.q", "a.n2", "b.n2")} AS cos_e6
         |  FROM probes a JOIN cells b ON a.qcell = b.cell),
         |r AS (SELECT query_id, vec_id, cos_e6,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_e6 DESC, vec_id ASC) AS BIGINT) AS rank FROM s)
         |SELECT query_id, rank, vec_id, cos_e6 FROM r WHERE rank <= 3
         |ORDER BY query_id, rank""".stripMargin,
    "q_text_langid" -> {
      import graft.functions.TextFunctions.{enMarkers, deMarkers, frMarkers}
      s"""WITH $tkCte,
         |m AS (SELECT doc_id,
         |  CAST(len(list_filter(tk, t -> list_contains(${inList(enMarkers)}, t))) AS BIGINT) AS en_hits,
         |  CAST(len(list_filter(tk, t -> list_contains(${inList(deMarkers)}, t))) AS BIGINT) AS de_hits,
         |  CAST(len(list_filter(tk, t -> list_contains(${inList(frMarkers)}, t))) AS BIGINT) AS fr_hits,
         |  CAST(len(tk) AS BIGINT) AS n_tokens FROM tkv)
         |SELECT doc_id, en_hits, de_hits, fr_hits, n_tokens,
         |  ${detectedLangSql("en_hits", "de_hits", "fr_hits")} AS detected
         |FROM m ORDER BY doc_id""".stripMargin
    },
    "q_text_quality" -> {
      import graft.functions.TextFunctions.enMarkers
      s"""WITH $tkCte,
         |q AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_m,
         |  CAST(len(tk) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
         |  CAST(len(list_filter(tk, t -> list_contains(${inList(enMarkers)}, t))) AS BIGINT) AS stop_hits,
         |  CAST(list_sum(list_transform(tk, t -> length(t))) AS BIGINT) AS tok_chars FROM tkv)
         |SELECT doc_id, n_chars_m, n_tokens, n_distinct,
         |  (n_tokens - n_distinct) * 10000 // n_tokens AS dup_ratio_e4,
         |  stop_hits * 10000 // n_tokens AS stop_ratio_e4,
         |  tok_chars * 100 // n_tokens AS avg_tok_len_e2
         |FROM q WHERE n_tokens > 0 ORDER BY doc_id""".stripMargin
    },
    "q_token_count" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split(text,' '), t -> t <> '')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS re_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars_m
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_decontaminate" ->
      s"""WITH $tkCte, ${gramsCte(CurationOps.DecontGram)},
         |bg AS (SELECT DISTINCT unnest(gs) AS h FROM g3 WHERE doc_id % ${CurationOps.DecontMod} = 0),
         |hits AS (SELECT doc_id, unnest(gs) AS h FROM g3 WHERE doc_id % ${CurationOps.DecontMod} <> 0)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
         |FROM hits JOIN bg USING (h)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_decon_bloom" ->
      s"""WITH $tkCte, ${gramsCte(CurationOps.BloomDecontGram)},
         |bg AS (SELECT DISTINCT unnest(gs) AS h FROM g3 WHERE doc_id % ${CurationOps.BloomDecontMod} = 0),
         |hits AS (SELECT doc_id, unnest(gs) AS h FROM g3 WHERE doc_id % ${CurationOps.BloomDecontMod} <> 0)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
         |FROM hits JOIN bg USING (h)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_quality_gate" -> {
      import graft.functions.TextFunctions.enMarkers
      import graft.operators.TextOps._
      s"""WITH t AS (SELECT source, lang, text,
         |    list_filter(string_split(text,' '), x -> x <> '') AS tk FROM documents),
         |q AS (SELECT source, lang,
         |    CAST(length(text) AS BIGINT) AS n_chars_m,
         |    CAST(len(tk) AS BIGINT) AS n_tokens,
         |    CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
         |    CAST(len(list_filter(tk, x -> list_contains(${inList(enMarkers)}, x))) AS BIGINT) AS stop_hits,
         |    CAST(coalesce(list_sum(list_transform(tk, x -> length(x))), 0) AS BIGINT) AS tok_chars,
         |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS BIGINT) AS n_sym
         |  FROM t),
         |f AS (SELECT source,
         |    CASE WHEN n_tokens BETWEEN $GateLenMin AND $GateLenMax THEN 1 ELSE 0 END AS p_len,
         |    CASE WHEN n_tokens = 0 THEN 0
         |         WHEN (tok_chars * 100 // n_tokens) BETWEEN $GateAvgMinE2 AND $GateAvgMaxE2 THEN 1 ELSE 0 END AS p_avg,
         |    CASE WHEN n_tokens = 0 THEN 0
         |         WHEN ((n_tokens - n_distinct) * 10000 // n_tokens) <= $GateDupMaxE4 THEN 1 ELSE 0 END AS p_dup,
         |    CASE WHEN n_chars_m = 0 THEN 0
         |         WHEN (n_sym * 10000 // n_chars_m) <= $GateSymMaxE4 THEN 1 ELSE 0 END AS p_sym,
         |    CASE WHEN lang <> 'en' OR stop_hits >= 1 THEN 1 ELSE 0 END AS p_stop
         |  FROM q)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(p_len * p_avg * p_dup * p_sym * p_stop) AS BIGINT) AS n_pass,
         |  CAST(sum(1 - p_len) AS BIGINT) AS f_len,
         |  CAST(sum(1 - p_avg) AS BIGINT) AS f_avg,
         |  CAST(sum(1 - p_dup) AS BIGINT) AS f_dup,
         |  CAST(sum(1 - p_sym) AS BIGINT) AS f_sym,
         |  CAST(sum(1 - p_stop) AS BIGINT) AS f_stop
         |FROM f GROUP BY source ORDER BY source""".stripMargin
    },
    "q_bm25_topk" -> {
      import graft.operators.TextOps.{Bm25BE3, Bm25K1E3, Bm25Queries, Bm25TopK}
      val qvals = Bm25Queries.flatMap { case (qid, qs) =>
        qs.split(" ").toSeq.distinct.map(t => s"('$qid', '$t')")
      }.mkString(", ")
      s"""WITH qs(qid, term) AS (SELECT * FROM (VALUES $qvals)),
         |$tkCte,
         |dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM tkv),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len(tk)) AS BIGINT) AS total_tokens FROM tkv),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(tk) AS term FROM tkv)
         |  WHERE term IN (SELECT DISTINCT term FROM qs)
         |  GROUP BY doc_id, term),
         |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
         |sc AS (SELECT qid, doc_id, CAST(sum(
         |      ((1000 * n_docs) // df) *
         |      ((tf * ${Bm25K1E3 + 1000L} * 1000) // (tf * 1000 +
         |        ($Bm25K1E3 * (1000 - $Bm25BE3 +
         |          ($Bm25BE3 * dl * 1000) // ((total_tokens * 1000) // n_docs))) // 1000))
         |    ) AS BIGINT) AS score_e6
         |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
         |    JOIN qs USING (term) CROSS JOIN st
         |  GROUP BY qid, doc_id)
         |SELECT qid, rnk, doc_id, score_e6 FROM (
         |  SELECT qid, doc_id, score_e6,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY score_e6 DESC, doc_id) AS BIGINT) AS rnk
         |  FROM sc)
         |WHERE rnk <= $Bm25TopK ORDER BY qid, rnk""".stripMargin
    },
    "q_hybrid_rrf" -> {
      import graft.operators.TextOps.{Bm25BE3, Bm25K1E3, Bm25Queries, Bm25TopK, RrfKE, RrfTopK}
      val qvals = Bm25Queries.flatMap { case (qid, qs) =>
        qs.split(" ").toSeq.distinct.map(t => s"('$qid', '$t')")
      }.mkString(", ")
      s"""WITH qs(qid, term) AS (SELECT * FROM (VALUES $qvals)),
         |$tkCte,
         |dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM tkv),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len(tk)) AS BIGINT) AS total_tokens FROM tkv),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(tk) AS term FROM tkv)
         |  WHERE term IN (SELECT DISTINCT term FROM qs)
         |  GROUP BY doc_id, term),
         |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
         |sc AS (SELECT qid, doc_id, CAST(sum(
         |      ((1000 * n_docs) // df) *
         |      ((tf * ${Bm25K1E3 + 1000L} * 1000) // (tf * 1000 +
         |        ($Bm25K1E3 * (1000 - $Bm25BE3 +
         |          ($Bm25BE3 * dl * 1000) // ((total_tokens * 1000) // n_docs))) // 1000))
         |    ) AS BIGINT) AS score_e6
         |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
         |    JOIN qs USING (term) CROSS JOIN st
         |  GROUP BY qid, doc_id),
         |sc2 AS (SELECT qid, doc_id,
         |    CAST(sum(tf * ((1000000 * n_docs) // df)) AS BIGINT) AS score_e6
         |  FROM tf JOIN df USING (term) JOIN qs USING (term) CROSS JOIN st
         |  GROUP BY qid, doc_id),
         |r1 AS (SELECT qid, doc_id, CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY score_e6 DESC, doc_id) AS BIGINT) AS rnk FROM sc),
         |r2 AS (SELECT qid, doc_id, CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY score_e6 DESC, doc_id) AS BIGINT) AS rnk FROM sc2),
         |fu AS (SELECT qid, doc_id, CAST(sum(1000000 // ($RrfKE + rnk)) AS BIGINT) AS rrf_e6
         |  FROM (SELECT * FROM r1 WHERE rnk <= $Bm25TopK
         |        UNION ALL SELECT * FROM r2 WHERE rnk <= $Bm25TopK)
         |  GROUP BY qid, doc_id)
         |SELECT qid, rnk, doc_id, rrf_e6 FROM (
         |  SELECT qid, doc_id, rrf_e6,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY rrf_e6 DESC, doc_id) AS BIGINT) AS rnk
         |  FROM fu)
         |WHERE rnk <= $RrfTopK ORDER BY qid, rnk""".stripMargin
    },
    "q_sample_stratified" -> {
      val rateCase = CurationOps.SampleRates
        .map { case (s, r) => s"WHEN source = '$s' THEN $r" }
        .mkString("CASE ", " ", s" ELSE ${CurationOps.SampleDefaultRate} END")
      s"""SELECT doc_id, source, bucket FROM (
         |  SELECT doc_id, source,
         |    ${h60("CAST(doc_id AS VARCHAR)")} % 1000 AS bucket,
         |    $rateCase AS rate
         |  FROM documents)
         |WHERE bucket < rate ORDER BY doc_id""".stripMargin
    },
    "q_split_train_val" ->
      s"""SELECT doc_id, source,
         |  CASE WHEN ${h60("source")} % 100 < 90 THEN 'train'
         |       WHEN ${h60("source")} % 100 < 95 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_mixture_sample" -> {
      val weightCase = CurationOps.MixtureWeights
        .map { case (s, w) => s"WHEN source = '$s' THEN $w" }
        .mkString("CASE ", " ",
          s" ELSE ${CurationOps.MixtureDefaultWeight} END")
      s"""WITH base AS (SELECT doc_id, source,
         |    CAST(len(list_filter(string_split(text,' '), t -> t <> '')) AS BIGINT) AS n_tokens,
         |    ${h60("concat(CAST(doc_id AS VARCHAR), ':mix')")} % 10000 AS bucket
         |  FROM documents),
         |hist AS (SELECT source, bucket, CAST(count(*) AS BIGINT) AS b_docs,
         |    CAST(sum(n_tokens) AS BIGINT) AS b_tokens FROM base GROUP BY 1, 2),
         |tot AS (SELECT source, CAST(sum(b_docs) AS BIGINT) AS n_docs,
         |    CAST(sum(b_tokens) AS BIGINT) AS avail_tokens,
         |    CAST($weightCase AS BIGINT) AS weight FROM hist GROUP BY source),
         |sw AS (SELECT CAST(sum(weight) AS BIGINT) AS sum_w FROM tot),
         |tgt AS (SELECT source, weight, n_docs, avail_tokens,
         |    (${CurationOps.MixtureBudget} * weight) // sum_w AS target_tokens
         |  FROM tot CROSS JOIN sw),
         |rates AS (SELECT *, CASE WHEN avail_tokens = 0 THEN 0
         |    ELSE least(10000, (target_tokens * 10000) // avail_tokens) END AS rate_e4 FROM tgt),
         |smp AS (SELECT h.source, CAST(sum(b_docs) AS BIGINT) AS sampled_docs,
         |    CAST(sum(b_tokens) AS BIGINT) AS sampled_tokens
         |  FROM hist h JOIN rates r ON h.source = r.source AND h.bucket < r.rate_e4
         |  GROUP BY h.source)
         |SELECT source, weight, n_docs, avail_tokens,
         |  CAST(target_tokens AS BIGINT) AS target_tokens,
         |  CAST(rate_e4 AS BIGINT) AS rate_e4,
         |  CAST(coalesce(sampled_docs, 0) AS BIGINT) AS sampled_docs,
         |  CAST(coalesce(sampled_tokens, 0) AS BIGINT) AS sampled_tokens
         |FROM rates LEFT JOIN smp USING (source) ORDER BY source""".stripMargin
    },
    "q_sample_uniform" ->
      s"""SELECT CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) AS rnk,
         |  doc_id, h, source
         |FROM (SELECT ${h60("concat(CAST(doc_id AS VARCHAR), ':u')")} AS h,
         |    doc_id, source FROM documents)
         |ORDER BY rnk LIMIT ${CurationOps.UniformK}""".stripMargin,
    "q_source_stats" ->
      """SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(len(list_filter(string_split(text,' '), t -> t <> ''))) AS BIGINT) AS total_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_curation" ->
      s"""WITH $tkCte,
         |$curationFlagsCtes
         |SELECT min(doc_id) AS doc_id FROM flags
         |WHERE q_ok = 1 AND l_ok = 1
         |GROUP BY md5(lower(trim(text))) ORDER BY doc_id""".stripMargin,
    "q_funnel" ->
      s"""WITH RECURSIVE $tkCte, ${gramsCte(graft.operators.DedupOps.VerifyGram)},
         |$mhCtes,
         |$pairsCtes,
         |$reachCtes,
         |$curationFlagsCtes,
         |keep AS (SELECT doc_id, source, md5(lower(trim(text))) AS h
         |  FROM flags WHERE q_ok = 1 AND l_ok = 1),
         |kp AS (SELECT min(doc_id) AS doc_id FROM keep GROUP BY h),
         |kpx AS (SELECT kp.doc_id, keep.source FROM kp JOIN keep USING (doc_id)),
         |ku AS (SELECT source, CAST(count(*) AS BIGINT) AS n_unique
         |  FROM kpx GROUP BY source),
         |lab AS (SELECT s AS doc_id, CAST(least(s, min(d)) AS BIGINT) AS cluster_id
         |  FROM reach GROUP BY s),
         |surv AS (SELECT coalesce(lab.cluster_id, k.doc_id) AS cl, min(k.doc_id) AS doc_id
         |  FROM kpx k LEFT JOIN lab USING (doc_id) GROUP BY 1),
         |nnd AS (SELECT k.source, CAST(count(*) AS BIGINT) AS n_neardup
         |  FROM surv JOIN kpx k USING (doc_id) GROUP BY 1)
         |SELECT f.source, CAST(count(*) AS BIGINT) AS n_raw,
         |  CAST(sum(q_ok) AS BIGINT) AS n_quality,
         |  CAST(sum(q_ok * l_ok) AS BIGINT) AS n_gated,
         |  CAST(coalesce(max(ku.n_unique), 0) AS BIGINT) AS n_unique,
         |  CAST(coalesce(max(nnd.n_neardup), 0) AS BIGINT) AS n_neardup
         |FROM flags f LEFT JOIN ku USING (source) LEFT JOIN nnd USING (source)
         |GROUP BY f.source ORDER BY f.source""".stripMargin,
    "q_text_pii" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS BIGINT) AS n_urls,
        |  CAST(len(regexp_extract_all(text, '[0-9]{6,}')) AS BIGINT) AS n_digit_runs
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_pii_redact" -> {
      import graft.operators.TextOps.{PiiDigitsRe, PiiEmailRe, PiiUrlRe}
      s"""SELECT doc_id, source,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '$PiiEmailRe', '<EMAIL>', 'g'),
         |    '$PiiUrlRe', '<URL>', 'g'),
         |    '$PiiDigitsRe', '<DIGITS>', 'g') AS red_text,
         |  CAST(len(regexp_extract_all(text, '$PiiEmailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$PiiUrlRe')) AS BIGINT) AS n_urls,
         |  CAST(len(regexp_extract_all(
         |    regexp_replace(regexp_replace(text, '$PiiEmailRe', '<EMAIL>', 'g'),
         |      '$PiiUrlRe', '<URL>', 'g'),
         |    '$PiiDigitsRe')) AS BIGINT) AS n_digit_runs
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "q_skew_keys" -> {
      def leg(label: String, table: String, key: String): String =
        s"""SELECT '$label' AS key_col,
           |  CAST(sum(cnt) AS BIGINT) AS n_rows,
           |  CAST(count(*) AS BIGINT) AS n_keys,
           |  CAST(max(cnt) AS BIGINT) AS max_key_rows,
           |  CAST((CAST(max(cnt) AS HUGEINT) * 1000000)
           |    // CAST(sum(cnt) AS HUGEINT) AS BIGINT) AS top_share_e6,
           |  CAST((CAST(max(cnt) AS HUGEINT) * count(*) * 100)
           |    // CAST(sum(cnt) AS HUGEINT) AS BIGINT) AS skew_x_e2
           |FROM (SELECT $key, count(*) AS cnt FROM $table GROUP BY 1)""".stripMargin
      Seq(
        leg("lineitem.l_partkey", "lineitem", "l_partkey"),
        leg("lineitem.l_suppkey", "lineitem", "l_suppkey"),
        leg("orders.o_custkey", "orders", "o_custkey"),
        leg("events.user_id", "events", "user_id"))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY key_col")
    },
    "q_integrity" -> {
      """SELECT * FROM (
        |SELECT 'fk lineitem.l_orderkey -> orders' AS check_name,
        |  CAST(count(*) AS BIGINT) AS n_checked,
        |  CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
        |FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |UNION ALL
        |SELECT 'fk orders.o_custkey -> customer',
        |  CAST(count(*) AS BIGINT), CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |UNION ALL
        |SELECT 'range lineitem.l_quantity > 0',
        |  CAST(count(*) AS BIGINT), CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
        |FROM lineitem
        |UNION ALL
        |SELECT 'range lineitem.l_discount in [0,1]',
        |  CAST(count(*) AS BIGINT), CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |FROM lineitem
        |UNION ALL
        |SELECT 'range orders.o_totalprice >= 0',
        |  CAST(count(*) AS BIGINT), CAST(sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |FROM orders
        |UNION ALL
        |SELECT 'notnull events.user_id',
        |  CAST(count(*) AS BIGINT), CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM events
        |UNION ALL
        |SELECT 'unique documents.doc_id',
        |  CAST(count(*) AS BIGINT), CAST(count(*) - count(DISTINCT doc_id) AS BIGINT)
        |FROM documents
        |) ORDER BY check_name""".stripMargin
    },
    "q_fingerprint" ->
      s"""WITH $tkCte,
         |t AS (SELECT doc_id, unnest(tk) AS tok FROM tkv)
         |SELECT doc_id, CAST(sum(${h60("tok")} % 1000000007) % 1000000007 AS BIGINT) AS fp
         |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_overlap_pairs" ->
      s"""WITH $rollWindowCte,
         |s AS (SELECT DISTINCT doc_id, h FROM w WHERE h % ${graft.operators.DedupOps.OverlapSample} = 0),
         |rare AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS df FROM s GROUP BY h)
         |         WHERE df <= 10 AND df >= 2)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared
         |FROM (SELECT * FROM s JOIN rare USING (h)) a
         |JOIN (SELECT * FROM s JOIN rare USING (h)) b
         |  ON a.h = b.h AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_rolling_fp" ->
      s"""WITH $rollWindowCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
         |  min(h) AS min_h, max(h) AS max_h,
         |  CAST(sum(CAST(h AS HUGEINT)) % ${graft.functions.RollingHash.P} AS BIGINT) AS sum_mod
         |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // len(gs) counts DISTINCT gram strings on both sides (g3 dedupes
    // the strings BEFORE hashing, mirroring gramHashesJvm), so the
    // bigram arithmetic is hash-collision-proof
    "q_text_repetition" ->
      s"""WITH $tkCte, ${gramsCte(2)},
         |rep AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM tkv WHERE len(tk) > 0),
         |top AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_tok_cnt FROM (
         |    SELECT doc_id, t, count(*) AS c
         |    FROM (SELECT doc_id, unnest(tk) AS t FROM tkv) GROUP BY doc_id, t)
         |  GROUP BY doc_id),
         |bg AS (SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_distinct_bigrams FROM g3)
         |SELECT doc_id, n_tokens, top_tok_cnt,
         |  top_tok_cnt * 10000 // n_tokens AS top_tok_ratio_e4,
         |  n_tokens - 1 AS n_bigrams,
         |  n_tokens - 1 - n_distinct_bigrams AS dup_bigram_cnt,
         |  CASE WHEN n_tokens > 1
         |       THEN (n_tokens - 1 - n_distinct_bigrams) * 10000 // (n_tokens - 1)
         |       ELSE 0 END AS dup_bigram_ratio_e4
         |FROM rep JOIN top USING (doc_id) JOIN bg USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "q_ngram_topk" ->
      s"""WITH $tkCte,
         |gstr AS (SELECT doc_id,
         |    unnest(list_distinct(list_transform(generate_series(1, len(tk)-1),
         |      i -> tk[i] || ' ' || tk[i+1]))) AS gram
         |  FROM tkv)
         |SELECT gram, CAST(count(*) AS BIGINT) AS doc_freq
         |FROM gstr GROUP BY gram
         |ORDER BY doc_freq DESC, gram ASC LIMIT 20""".stripMargin,
    // DuckDB's native ASOF JOIN is the independent check of the
    // union+window carry-forward implementation
    "q_asof_join" ->
      """WITH ev AS (SELECT event_id, user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |d AS (SELECT o_custkey AS user_id,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |    CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(sum(CAST(round(o_totalprice * 100.0, 0) AS BIGINT)) AS BIGINT) AS day_total_e2
        |  FROM orders GROUP BY 1, 2)
        |SELECT event_id, ev.user_id, ev.day AS event_day, d.day AS order_day,
        |  n_orders, day_total_e2
        |FROM ev ASOF JOIN d ON ev.user_id = d.user_id AND ev.day >= d.day
        |ORDER BY event_id""".stripMargin,
    // the oracle states the band as a plain inequality join — fine at
    // oracle scale; the Spark side must produce identical pairs from
    // its bucket-replication equi join
    "q_range_join" ->
      s"""WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS t, value FROM events)
         |SELECT a.event_id, CAST(count(*) AS BIGINT) AS n_neighbors,
         |  CAST(sum(CAST(round(b.value * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS nbr_value_e6
         |FROM ev a JOIN ev b ON a.user_id = b.user_id AND a.event_id <> b.event_id
         |  AND abs(a.t - b.t) <= ${graft.operators.JoinOps.BurstBandUs}
         |GROUP BY a.event_id ORDER BY a.event_id""".stripMargin,
    // both engines share the md5 hash space, so the K minima — and the
    // integer KMV estimate — agree bit-for-bit (HLL sketches can't)
    "q_kmv_distinct" -> {
      import graft.operators.CurationOps.{KmvK, KmvSpace}
      s"""WITH $tkCte,
         |t AS (SELECT DISTINCT d.source, ${h60("tok")} AS h
         |  FROM (SELECT doc_id, unnest(tk) AS tok FROM tkv) u
         |  JOIN documents d USING (doc_id)),
         |r AS (SELECT source, h,
         |    row_number() OVER (PARTITION BY source ORDER BY h ASC) AS rk FROM t)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_distinct_exact,
         |  CAST(CASE WHEN count(*) < $KmvK THEN count(*)
         |       ELSE ${KmvK - 1} * ($KmvSpace // greatest(max(CASE WHEN rk <= $KmvK THEN h END), 1))
         |       END AS BIGINT) AS kmv_est
         |FROM r GROUP BY source ORDER BY source""".stripMargin
    },
    "q_quantiles" ->
      """WITH lens AS (SELECT source, doc_id,
        |    CAST(len(list_filter(string_split(text,' '), t -> t <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |r AS (SELECT source, n_tokens,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY n_tokens ASC, doc_id ASC) AS BIGINT) AS rk,
        |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM lens)
        |SELECT source, max(n) AS n_docs,
        |  max(CASE WHEN rk = floor((n-1) * 0.5) + 1 THEN n_tokens END) AS p50_tokens,
        |  max(CASE WHEN rk = floor((n-1) * 0.9) + 1 THEN n_tokens END) AS p90_tokens,
        |  max(CASE WHEN rk = floor((n-1) * 0.99) + 1 THEN n_tokens END) AS p99_tokens
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    "q_lang_mismatch" -> {
      import graft.functions.TextFunctions.{enMarkers, deMarkers, frMarkers}
      s"""WITH $tkCte,
         |m AS (SELECT d.source, d.lang,
         |    ${detectedLangSql(
               s"len(list_filter(tk, t -> list_contains(${inList(enMarkers)}, t)))",
               s"len(list_filter(tk, t -> list_contains(${inList(deMarkers)}, t)))",
               s"len(list_filter(tk, t -> list_contains(${inList(frMarkers)}, t)))")} AS detected
         |  FROM tkv JOIN documents d USING (doc_id))
         |SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(*) FILTER (detected <> lang) AS BIGINT) AS n_mismatch,
         |  CAST(count(*) FILTER (detected <> lang) AS BIGINT) * 10000
         |    // CAST(count(*) AS BIGINT) AS mismatch_ratio_e4
         |FROM m GROUP BY source, lang ORDER BY source, lang""".stripMargin
    },
    "q_cms_heavy" -> {
      import graft.operators.CurationOps.{CmsRows, CmsTopK, CmsWidth}
      import graft.functions.TextFunctions.{cmsAB, permuteSql}
      // the d row-cells as a list literal indexed by j — the same
      // shared-constant discipline as the MinHash band CTE
      val cellList = cmsAB(CmsRows)
        .map { case (a, b) => s"${permuteSql("h", a, b)} % $CmsWidth" }
        .mkString("list_value(", ", ", ")")
      s"""WITH $tkCte,
         |c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt, ${h60("token")} AS h
         |  FROM (SELECT unnest(tk) AS token FROM tkv) GROUP BY token),
         |js AS (SELECT unnest(generate_series(0, ${CmsRows - 1})) AS j),
         |cells AS (SELECT j, $cellList[CAST(j+1 AS INTEGER)] AS cell,
         |    CAST(sum(cnt) AS BIGINT) AS cnt
         |  FROM c CROSS JOIN js GROUP BY 1, 2),
         |top AS (SELECT token, cnt AS n_exact, h FROM c
         |  ORDER BY cnt DESC, token ASC LIMIT $CmsTopK),
         |probe AS (SELECT token, n_exact, j, $cellList[CAST(j+1 AS INTEGER)] AS cell
         |  FROM top CROSS JOIN js)
         |SELECT token, n_exact, min(cnt) AS cms_est
         |FROM probe JOIN cells USING (j, cell)
         |GROUP BY token, n_exact ORDER BY n_exact DESC, token ASC""".stripMargin
    },
    "q_tfidf_topk" -> {
      import graft.operators.TextOps.{TfidfDocLimit, TfidfTopK}
      s"""WITH $tkCte,
         |u AS (SELECT doc_id, unnest(tk) AS term FROM tkv),
         |df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM u GROUP BY term),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM u
         |  WHERE doc_id < $TfidfDocLimit GROUP BY doc_id, term),
         |s AS (SELECT doc_id, term, tf, df, tf * ((1000 * n_docs) // df) AS score_e3
         |  FROM tf JOIN df USING (term) CROSS JOIN nn),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score_e3 DESC, term ASC) AS BIGINT) AS rnk FROM s)
         |SELECT doc_id, rnk, term, tf, df, score_e3 FROM r WHERE rnk <= $TfidfTopK
         |ORDER BY doc_id, rnk""".stripMargin
    },
    "q_embed_profile" ->
      """WITH e AS (SELECT unnest(range(len(q))) AS dim, unnest(q) AS qv FROM
        |  (SELECT list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q FROM embeddings))
        |SELECT CAST(dim AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(qv) AS BIGINT) AS sum_q, min(qv) AS min_q, max(qv) AS max_q,
        |  CAST(round(CAST(sum(qv) AS DOUBLE) / count(*)) AS BIGINT) AS mean_q
        |FROM e GROUP BY dim ORDER BY dim""".stripMargin,
    "q_decontaminate_substr" -> {
      import graft.operators.CurationOps.DecontMod
      import graft.operators.DedupOps.OverlapSample
      s"""WITH $rollWindowCte,
         |s AS (SELECT DISTINCT doc_id, h FROM w WHERE h % $OverlapSample = 0),
         |bg AS (SELECT DISTINCT h FROM s WHERE doc_id % $DecontMod = 0)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
         |FROM s JOIN bg USING (h)
         |WHERE doc_id % $DecontMod <> 0
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "q_token_drift" -> {
      import graft.operators.CurationOps.DriftTopK
      s"""WITH $tkCte,
         |bysrc AS (SELECT source, token, CAST(count(*) AS BIGINT) AS a
         |  FROM (SELECT d.source, unnest(tk) AS token FROM tkv JOIN documents d USING (doc_id))
         |  GROUP BY source, token),
         |srctot AS (SELECT source, CAST(sum(a) AS BIGINT) AS na FROM bysrc GROUP BY source),
         |toktot AS (SELECT token, CAST(sum(a) AS BIGINT) AS atot FROM bysrc GROUP BY token),
         |grand AS (SELECT CAST(sum(na) AS BIGINT) AS ntot FROM srctot),
         |scored AS (SELECT source, token, a,
         |    (1000 * a) // na AS rate_e3,
         |    (1000 * (atot - a)) // greatest(ntot - na, 1) AS rest_rate_e3
         |  FROM bysrc JOIN toktot USING (token) JOIN srctot USING (source) CROSS JOIN grand),
         |r AS (SELECT *, rate_e3 - rest_rate_e3 AS drift_e3,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY rate_e3 - rest_rate_e3 DESC, token ASC) AS BIGINT) AS rnk
         |  FROM scored)
         |SELECT source, rnk, token, a, rate_e3, rest_rate_e3, drift_e3
         |FROM r WHERE rnk <= $DriftTopK ORDER BY source, rnk""".stripMargin
    },
    "q_dedup_incremental" -> {
      import graft.operators.DedupOps.IncrMod
      s"""WITH $tkCte, ${gramsCte(graft.operators.DedupOps.VerifyGram)},
         |$mhCtes,
         |cand AS (SELECT DISTINCT n.doc_id AS doc_new, o.doc_id AS doc_old
         |  FROM bnd n JOIN bnd o ON n.b = o.b AND n.band_hash = o.band_hash
         |  WHERE n.doc_id % $IncrMod = 0 AND o.doc_id % $IncrMod <> 0),
         |ver AS (SELECT doc_new, doc_old,
         |  CAST(len(list_intersect(x.gs, y.gs)) AS BIGINT) AS n_common,
         |  CAST(len(x.gs) + len(y.gs) - len(list_intersect(x.gs, y.gs)) AS BIGINT) AS n_union
         |  FROM cand JOIN g3 x ON x.doc_id = doc_new JOIN g3 y ON y.doc_id = doc_old)
         |SELECT doc_new, doc_old, n_common, n_union FROM ver
         |WHERE n_common * 2 >= n_union ORDER BY doc_new, doc_old""".stripMargin
    },
    "q_kmeans" ->
      s"""WITH $quantCte,
         |$kmeansCtes
         |SELECT c AS cluster_id, CAST(count(*) AS BIGINT) AS n_members, min(vec_id) AS min_vec_id,
         |  CAST(sum(dist) AS BIGINT) AS sum_dist,
         |  CAST(round(CAST(sum(dist) AS DOUBLE)/count(*)) AS BIGINT) AS mean_dist
         |FROM a2 GROUP BY c ORDER BY cluster_id""".stripMargin,
    "q_kmeans_rounds" -> {
      val R = graft.operators.SimilarityOps.KmeansRounds
      val rows = (1 to R).map { r =>
        s"""SELECT CAST($r AS BIGINT) AS round,
           |  (SELECT CAST(sum(dist) AS BIGINT) FROM asg_$r) AS sum_dist,
           |  (SELECT CAST(coalesce(sum(cs), 0) AS BIGINT) FROM (
           |     SELECT CAST(list_sum(list_transform(list_zip(a.q, b.q), p -> abs(p[1]-p[2]))) AS BIGINT) AS cs
           |     FROM cents_${r - 1} a JOIN cents_$r b USING (c))) AS shift""".stripMargin
      }
      s"""WITH $quantCte,
         |${lloydCtes(R)}
         |SELECT round, sum_dist, shift FROM (
         |${rows.mkString("\nUNION ALL\n")})
         |ORDER BY round""".stripMargin
    },
    "q_sample_balanced" ->
      s"""WITH $quantCte,
         |$kmeansCtes,
         |cnt AS (SELECT c, CAST(count(*) AS BIGINT) AS n_members FROM a2 GROUP BY c),
         |mn AS (SELECT min(n_members) AS min_members FROM cnt)
         |SELECT vec_id, cluster_id, bucket FROM (
         |  SELECT a2.vec_id, a2.c AS cluster_id,
         |    ${h60("CAST(a2.vec_id AS VARCHAR)")} % cnt.n_members AS bucket,
         |    mn.min_members AS min_members
         |  FROM a2 JOIN cnt USING (c) CROSS JOIN mn)
         |WHERE bucket < min_members ORDER BY vec_id""".stripMargin,
    "q_pack_sequences" -> {
      import graft.operators.CurationOps.PackBudget
      s"""WITH $tkCte,
         |lens AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM tkv),
         |c AS (SELECT doc_id, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_prev
         |  FROM lens)
         |SELECT doc_id, n_tokens, cum_prev,
         |  CAST(cum_prev // $PackBudget AS BIGINT) AS first_pack,
         |  CAST((cum_prev + greatest(n_tokens, 1) - 1) // $PackBudget AS BIGINT) AS last_pack,
         |  CAST((cum_prev + greatest(n_tokens, 1) - 1) // $PackBudget - cum_prev // $PackBudget + 1 AS BIGINT) AS n_packs
         |FROM c ORDER BY doc_id""".stripMargin
    },
    "q_pack_stats" -> {
      import graft.operators.CurationOps.PackBudget
      s"""WITH $tkCte,
         |lens AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM tkv),
         |c AS (SELECT doc_id, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_prev
         |  FROM lens),
         |p AS (SELECT doc_id, n_tokens, cum_prev,
         |    CAST(cum_prev // $PackBudget AS BIGINT) AS first_pack,
         |    CAST((cum_prev + greatest(n_tokens, 1) - 1) // $PackBudget AS BIGINT) AS last_pack,
         |    CAST((cum_prev + greatest(n_tokens, 1) - 1) // $PackBudget - cum_prev // $PackBudget + 1 AS BIGINT) AS n_packs
         |  FROM c),
         |e AS (SELECT n_tokens, cum_prev, n_packs,
         |    unnest(generate_series(first_pack, last_pack)) AS pack_id FROM p)
         |SELECT pack_id, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN n_packs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_spanning,
         |  CAST(sum(greatest(0, least(cum_prev + n_tokens, (pack_id + 1) * $PackBudget)
         |    - greatest(cum_prev, pack_id * $PackBudget))) AS BIGINT) AS fill_tokens,
         |  CAST($PackBudget - sum(greatest(0, least(cum_prev + n_tokens, (pack_id + 1) * $PackBudget)
         |    - greatest(cum_prev, pack_id * $PackBudget))) AS BIGINT) AS waste_tokens
         |FROM e GROUP BY pack_id ORDER BY pack_id""".stripMargin
    },
    "q_dup_matrix" ->
      s"""WITH $tkCte, ${gramsCte(graft.operators.DedupOps.VerifyGram)},
         |$mhCtes,
         |$pairsCtes
         |SELECT least(da.source, db.source) AS source_a,
         |  greatest(da.source, db.source) AS source_b,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM pr JOIN documents da ON da.doc_id = pr.doc_a
         |        JOIN documents db ON db.doc_id = pr.doc_b
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_pair_lang" ->
      s"""WITH $tkCte, ${gramsCte(graft.operators.DedupOps.VerifyGram)},
         |$mhCtes,
         |$pairsCtes
         |SELECT least(da.lang, db.lang) AS lang_a,
         |  greatest(da.lang, db.lang) AS lang_b,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM pr JOIN documents da ON da.doc_id = pr.doc_a
         |        JOIN documents db ON db.doc_id = pr.doc_b
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_cluster_best" ->
      s"""WITH RECURSIVE $tkCte, ${gramsCte(graft.operators.DedupOps.VerifyGram)},
         |$mhCtes,
         |$pairsCtes,
         |$reachCtes,
         |lab AS (SELECT s AS doc_id, CAST(least(s, min(d)) AS BIGINT) AS cluster_id
         |  FROM reach GROUP BY s),
         |lens AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM tkv),
         |j AS (SELECT lab.doc_id, lab.cluster_id, lens.n_tokens,
         |    row_number() OVER (PARTITION BY lab.cluster_id
         |      ORDER BY lens.n_tokens DESC, lab.doc_id ASC) AS rk
         |  FROM lab JOIN lens USING (doc_id))
         |SELECT doc_id, cluster_id, n_tokens,
         |  CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM j ORDER BY doc_id""".stripMargin,
    "q_event_outliers" ->
      // (n·v − S1)² > 9·(n·S2 − S1²): exact integer moments, the 3σ
      // branch taken per row in IEEE doubles — identical inputs +
      // identical ops ⇒ identical branches in both engines
      """WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
        |    CAST(round(value * 100.0, 0) AS BIGINT) AS value_e2 FROM events),
        |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(value_e2) AS BIGINT) AS s1,
        |    CAST(sum(value_e2 * value_e2) AS BIGINT) AS s2
        |  FROM ev GROUP BY event_type)
        |SELECT event_type, event_id, user_id, ts_us, value_e2 FROM (
        |  SELECT ev.*,
        |    CAST(n AS DOUBLE) * CAST(value_e2 AS DOUBLE) - CAST(s1 AS DOUBLE) AS dev,
        |    CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) AS spread
        |  FROM ev JOIN st USING (event_type))
        |WHERE dev * dev > 9.0 * spread
        |ORDER BY event_type, event_id""".stripMargin,
    "q_chunks" ->
      s"""WITH $tkCte,
         |$chunksCtes
         |SELECT doc_id,
         |  CAST(start_tok // ${graft.operators.CurationOps.ChunkStride} AS BIGINT) AS chunk_idx,
         |  CAST(start_tok AS BIGINT) AS start_tok,
         |  CAST(least(${graft.operators.CurationOps.ChunkWidth}, n_tokens - start_tok) AS BIGINT) AS n_in_chunk,
         |  chunk_hash
         |FROM chh ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_chunk_dedup" ->
      s"""WITH $tkCte,
         |$chunksCtes
         |SELECT chunk_hash, CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  min(doc_id) AS first_doc
         |FROM chh GROUP BY chunk_hash HAVING count(*) > 1
         |ORDER BY chunk_hash""".stripMargin,
    "q_sample_weighted" ->
      s"""WITH $tkCte
         |SELECT CAST(row_number() OVER (ORDER BY prio, doc_id) AS BIGINT) AS rnk,
         |  doc_id, prio, w
         |FROM (SELECT doc_id, ${h60("concat(CAST(doc_id AS VARCHAR), ':w')")} // w AS prio, w
         |  FROM (SELECT doc_id, CAST(len(tk) AS BIGINT) + 1 AS w FROM tkv))
         |ORDER BY rnk LIMIT ${CurationOps.WeightedK}""".stripMargin,
    "q_lm_quality" ->
      s"""WITH $tkCte,
         |$lmCtes
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(r) // count(*) AS BIGINT) AS lm_score_e6
         |FROM lmr GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_embed_cov" ->
      s"""WITH $covCtes
         |SELECT i, j, n, cov_num FROM cv ORDER BY i, j""".stripMargin,
    "q_pca_top" ->
      s"""WITH $pcaCtes
         |SELECT CAST(dim AS BIGINT) AS dim, CAST(v AS BIGINT) AS loading_e6
         |FROM v_$pcaLast ORDER BY dim""".stripMargin,
    "q_pca_var" ->
      s"""WITH $pcaCtes,
         |ray AS MATERIALIZED (SELECT sum(m.c * va.v * vb.v) AS ray
         |  FROM cmh m JOIN v_$pcaLast va ON m.i = va.dim JOIN v_$pcaLast vb ON m.j = vb.dim),
         |tr2 AS MATERIALIZED (SELECT sum(c) AS tr FROM cmh WHERE i = j),
         |vv AS MATERIALIZED (SELECT sum(v * v) AS vv FROM v_$pcaLast),
         |dn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS d FROM v_$pcaLast)
         |SELECT d, CAST(tr AS BIGINT) AS trace,
         |  CAST(CASE WHEN tr * vv = 0 THEN 0
         |    WHEN ray < 0 THEN -((-ray) * 1000000 // (tr * vv))
         |    ELSE ray * 1000000 // (tr * vv) END AS BIGINT) AS share_e6
         |FROM ray, tr2, vv, dn""".stripMargin,
    "q_effective_tokens" ->
      s"""WITH RECURSIVE $tkCte, ${gramsCte(graft.operators.DedupOps.VerifyGram)},
         |$mhCtes,
         |$pairsCtes,
         |$reachCtes,
         |lab AS (SELECT s AS doc_id, CAST(least(s, min(d)) AS BIGINT) AS cluster_id
         |  FROM reach GROUP BY s),
         |cz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS csz FROM lab GROUP BY 1),
         |tok AS (SELECT t.doc_id, d.source, CAST(len(tk) AS BIGINT) AS n_tokens
         |  FROM tkv t JOIN documents d USING (doc_id))
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN coalesce(csz, 1) > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_clustered,
         |  CAST(sum(n_tokens) AS BIGINT) AS raw_tokens,
         |  CAST(sum(n_tokens // coalesce(csz, 1)) AS BIGINT) AS effective_tokens
         |FROM tok LEFT JOIN lab USING (doc_id) LEFT JOIN cz USING (cluster_id)
         |GROUP BY source ORDER BY source""".stripMargin,
    "q_minhash_calib" -> {
      import graft.operators.DedupOps.numHashes
      val nMatch = (0 until numHashes)
        .map(i => s"CASE WHEN x.mh$i = y.mh$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $tkCte, ${gramsCte(graft.operators.DedupOps.VerifyGram)},
         |$mhCtes,
         |$pairsCtes,
         |nm AS (SELECT doc_a, doc_b, CAST($nMatch AS BIGINT) AS n_match
         |  FROM cand JOIN m x ON x.doc_id = doc_a JOIN m y ON y.doc_id = doc_b)
         |SELECT v.doc_a, v.doc_b,
         |  CAST(n_match * 10000 // $numHashes AS BIGINT) AS est_e4,
         |  CAST(n_common * 10000 // n_union AS BIGINT) AS exact_e4,
         |  CAST(n_match * 10000 // $numHashes - n_common * 10000 // n_union AS BIGINT) AS err_e4
         |FROM ver v JOIN nm USING (doc_a, doc_b)
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    "q_sample_group" ->
      s"""SELECT source, rnk, doc_id, h FROM (
         |  SELECT source, doc_id, h,
         |    CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS rnk
         |  FROM (SELECT source, doc_id,
         |      ${h60("concat(CAST(doc_id AS VARCHAR), ':g')")} AS h FROM documents))
         |WHERE rnk <= ${CurationOps.GroupK} ORDER BY source, rnk""".stripMargin,
    "q_dedup_normalized" ->
      """SELECT md5(trim(regexp_replace(
        |    regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_hash,
        |  min(doc_id) AS keep_id, count(*) AS cnt,
        |  CAST(count(DISTINCT md5(lower(trim(text)))) AS BIGINT) AS n_raw_variants
        |FROM documents GROUP BY 1 ORDER BY norm_hash""".stripMargin,
    "q_dedup_prefix" ->
      s"""WITH $tkCte,
         |t AS (SELECT doc_id, md5(lower(trim(text))) AS raw_hash,
         |    list_transform(tk, x -> lower(x)) AS ltk FROM tkv)
         |SELECT md5(array_to_string(list_slice(ltk, 1, ${graft.operators.DedupOps.PrefixTok}), ' ')) AS prefix_hash,
         |  min(doc_id) AS keep_id, count(*) AS cnt,
         |  CAST(count(DISTINCT raw_hash) AS BIGINT) AS n_raw_variants
         |FROM t WHERE len(ltk) >= ${graft.operators.DedupOps.PrefixTok}
         |GROUP BY 1 ORDER BY prefix_hash""".stripMargin,
    "q_contamination" ->
      s"""WITH $tkCte, ${gramsCte(CurationOps.DecontGram)},
         |b AS (SELECT doc_id AS bench_id, gs FROM g3 WHERE doc_id % ${CurationOps.DecontMod} = 0),
         |bg AS (SELECT bench_id, unnest(gs) AS h FROM b),
         |cg AS (SELECT doc_id, unnest(gs) AS h FROM g3 WHERE doc_id % ${CurationOps.DecontMod} <> 0),
         |agg AS (SELECT bench_id, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_hit,
         |    CAST(count(DISTINCT h) AS BIGINT) AS n_grams_hit
         |  FROM bg JOIN cg USING (h) GROUP BY bench_id)
         |SELECT bench_id, CAST(len(gs) AS BIGINT) AS n_grams,
         |  coalesce(n_docs_hit, 0) AS n_docs_hit,
         |  coalesce(n_grams_hit, 0) AS n_grams_hit
         |FROM b LEFT JOIN agg USING (bench_id) ORDER BY bench_id""".stripMargin,
    "q_decon_closure" ->
      s"""WITH RECURSIVE $tkCte, ${gramsCte(graft.operators.DedupOps.VerifyGram)},
         |$mhCtes,
         |$pairsCtes,
         |$reachCtes,
         |${gramsCte(CurationOps.DecontGram, "g3x")},
         |bgx AS (SELECT DISTINCT unnest(gs) AS h FROM g3x WHERE doc_id % ${CurationOps.DecontMod} = 0),
         |hitsx AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
         |  FROM (SELECT doc_id, unnest(gs) AS h FROM g3x WHERE doc_id % ${CurationOps.DecontMod} <> 0) cg
         |  JOIN bgx USING (h) GROUP BY doc_id),
         |labels AS (SELECT s AS doc_id, CAST(least(s, min(d)) AS BIGINT) AS cluster_id
         |  FROM reach GROUP BY s),
         |dirty AS (SELECT DISTINCT cluster_id FROM labels JOIN hitsx USING (doc_id)),
         |closure AS (SELECT l.doc_id, l.cluster_id FROM labels l JOIN dirty USING (cluster_id))
         |SELECT c.doc_id, c.cluster_id, coalesce(h.n_hit, 0) AS n_hit
         |FROM closure c LEFT JOIN hitsx h ON c.doc_id = h.doc_id
         |UNION ALL
         |SELECT h.doc_id, CAST(-1 AS BIGINT) AS cluster_id, h.n_hit
         |FROM hitsx h ANTI JOIN labels l ON h.doc_id = l.doc_id
         |ORDER BY doc_id""".stripMargin,
    "q_pmi_topk" ->
      s"""WITH $tkCte, $lmCtes,
         |tot AS (SELECT CAST(sum(c2) AS BIGINT) AS n_tot FROM big),
         |p AS (SELECT b.w1, b.w2, b.c2 AS c12, u1.c1 AS c1, u2.c1 AS c2u, n_tot
         |  FROM big b JOIN uni u1 ON b.w1 = u1.w1 JOIN uni u2 ON b.w2 = u2.w1
         |  CROSS JOIN tot WHERE b.c2 >= ${TextOps.PmiMinCount})
         |SELECT w1, w2, c12,
         |  CAST((CAST(c12 AS HUGEINT) * n_tot * 1000000)
         |    // (CAST(c1 AS HUGEINT) * c2u) AS BIGINT) AS lift_e6
         |FROM p ORDER BY lift_e6 DESC, w1, w2 LIMIT ${TextOps.PmiTopK}""".stripMargin,
    "q_meta_audit" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
        |  CAST(max(abs(n_chars - length(text))) AS BIGINT) AS max_abs_diff
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q_vocab_growth" ->
      s"""WITH $tkCte,
         |u AS (SELECT d.source, unnest(t.tk) AS term
         |  FROM tkv t JOIN documents d USING (doc_id)),
         |c AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY 1, 2)
         |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
         |  CAST(count(*) AS BIGINT) AS n_terms,
         |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
         |  CAST(count(*) * 1000000 // sum(c) AS BIGINT) AS ttr_e6,
         |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS hapax_ratio_e6
         |FROM c GROUP BY source ORDER BY source""".stripMargin,
    "q_retention" ->
      """WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |act AS (SELECT day, CAST(count(*) AS BIGINT) AS n_active FROM ud GROUP BY day),
        |nw AS (SELECT day, CAST(count(*) AS BIGINT) AS n_new
        |  FROM (SELECT user_id, min(day) AS day FROM ud GROUP BY user_id) GROUP BY day),
        |rt AS (SELECT a.day AS day, CAST(count(*) AS BIGINT) AS n_retained
        |  FROM ud a JOIN ud b ON a.user_id = b.user_id AND a.day = b.day + 1 GROUP BY 1),
        |pv AS (SELECT day + 1 AS day, n_active AS prev_active FROM act)
        |SELECT act.day, act.n_active,
        |  CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
        |  CAST(coalesce(n_retained, 0) AS BIGINT) AS n_retained,
        |  CAST(CASE WHEN prev_active IS NULL OR prev_active = 0 THEN 0
        |    ELSE coalesce(n_retained, 0) * 10000 // prev_active END AS BIGINT) AS retention_e4
        |FROM act LEFT JOIN nw USING (day) LEFT JOIN rt USING (day)
        |LEFT JOIN pv USING (day)
        |ORDER BY day""".stripMargin,
    "q_cluster_purity" ->
      s"""WITH $quantCte,
         |$kmeansCtes,
         |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
         |cl AS (SELECT a2.c AS cluster_id, lab.label, CAST(count(*) AS BIGINT) AS n
         |  FROM a2 JOIN lab ON a2.vec_id = lab.vec_id GROUP BY 1, 2),
         |rk AS (SELECT cluster_id, label, n,
         |    row_number() OVER (PARTITION BY cluster_id ORDER BY n DESC, label ASC) AS rk,
         |    CAST(sum(n) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members FROM cl)
         |SELECT cluster_id, n_members, label AS major_label, n AS n_major,
         |  n * 10000 // n_members AS purity_e4
         |FROM rk WHERE rk = 1 ORDER BY cluster_id""".stripMargin,
    "q_decon_embedding" ->
      s"""WITH $quantCte,
         |hit AS (SELECT vec_id, bench_id, cos_e6,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cos_e6 DESC, bench_id ASC) AS rk,
         |    CAST(count(*) OVER (PARTITION BY vec_id) AS BIGINT) AS n_hits
         |  FROM (SELECT b.vec_id, a.vec_id AS bench_id,
         |      ${cosE6("a.q", "b.q", "a.n2", "b.n2")} AS cos_e6
         |    FROM n a JOIN n b
         |      ON a.vec_id % ${CurationOps.EmbDecontMod} = 0
         |     AND b.vec_id % ${CurationOps.EmbDecontMod} <> 0)
         |  WHERE cos_e6 >= ${CurationOps.EmbDecontCos})
         |SELECT vec_id, bench_id AS best_bench, cos_e6 AS max_cos_e6, n_hits
         |FROM hit WHERE rk = 1 ORDER BY vec_id""".stripMargin,
    // #91c: the same readout restricted to scaled-sign-bucket
    // collisions (nbw = the corpus-scaled wide bucket of the
    // embedding dedup family — one bucket definition), with Hamming-1
    // multi-probe on the benchmark side: r = 0 is the own bucket,
    // r = 1..p flips plane r-1
    "q_decon_embedding_lsh" ->
      s"""WITH $quantCte,
         |$lshBucketWideCtes,
         |lprobe AS (SELECT vec_id, q, n2,
         |    CASE WHEN r = 0 THEN bucket
         |         ELSE xor(bucket, CAST(1 AS BIGINT) << CAST(r - 1 AS INT)) END AS bucket
         |  FROM nbw, (SELECT unnest(generate_series(0, (SELECT p FROM pl))) AS r)
         |  WHERE vec_id % ${CurationOps.EmbDecontMod} = 0),
         |lhit AS (SELECT vec_id, bench_id, cos_e6,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cos_e6 DESC, bench_id ASC) AS rk,
         |    CAST(count(*) OVER (PARTITION BY vec_id) AS BIGINT) AS n_hits
         |  FROM (SELECT b.vec_id, a.vec_id AS bench_id,
         |      ${cosE6("a.q", "b.q", "a.n2", "b.n2")} AS cos_e6
         |    FROM lprobe a JOIN nbw b
         |      ON a.bucket = b.bucket
         |     AND b.vec_id % ${CurationOps.EmbDecontMod} <> 0)
         |  WHERE cos_e6 >= ${CurationOps.EmbDecontCos})
         |SELECT vec_id, bench_id AS best_bench, cos_e6 AS max_cos_e6, n_hits
         |FROM lhit WHERE rk = 1 ORDER BY vec_id""".stripMargin,
    "q_token_diversity" ->
      s"""WITH $tkCte,
         |cnt AS (SELECT doc_id, tok, count(*) AS c
         |  FROM (SELECT doc_id, unnest(tk) AS tok FROM tkv) GROUP BY 1, 2),
         |d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |    CAST(sum(c*c) AS BIGINT) AS sum_sq_counts FROM cnt GROUP BY 1)
         |SELECT doc_id, n_tokens, sum_sq_counts,
         |  CAST((CAST(n_tokens AS HUGEINT) * n_tokens - sum_sq_counts) * 1000000
         |    // (CAST(n_tokens AS HUGEINT) * n_tokens) AS BIGINT) AS simpson_e6
         |FROM d WHERE n_tokens > 0 ORDER BY doc_id""".stripMargin,
    "q_length_gate" ->
      s"""WITH $tkCte,
         |lens AS (SELECT d.source, t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens
         |  FROM tkv t JOIN documents d USING (doc_id)),
         |rk AS (SELECT source, n_tokens,
         |    row_number() OVER (PARTITION BY source ORDER BY n_tokens ASC, doc_id ASC) AS rk,
         |    count(*) OVER (PARTITION BY source) AS n FROM lens),
         |bounds AS (SELECT source,
         |    max(CASE WHEN rk = (n - 1) * ${CurationOps.LengthGateLoPct} // 100 + 1 THEN n_tokens END) AS lo_tokens,
         |    max(CASE WHEN rk = (n - 1) * ${CurationOps.LengthGateHiPct} // 100 + 1 THEN n_tokens END) AS hi_tokens
         |  FROM rk GROUP BY 1)
         |SELECT l.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  max(lo_tokens) AS lo_tokens, max(hi_tokens) AS hi_tokens,
         |  CAST(sum(CASE WHEN n_tokens < lo_tokens THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
         |  CAST(sum(CASE WHEN n_tokens > hi_tokens THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
         |  CAST(count(*) - sum(CASE WHEN n_tokens < lo_tokens THEN 1 ELSE 0 END)
         |     - sum(CASE WHEN n_tokens > hi_tokens THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM lens l JOIN bounds b USING (source) GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_hist_quantiles" ->
      s"""WITH lens AS (SELECT source, doc_id,
         |    CAST(len(list_filter(string_split(text,' '), t -> t <> '')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |h AS (SELECT source, n_tokens // ${CurationOps.HistBucketW} AS b, CAST(count(*) AS BIGINT) AS c
         |  FROM lens GROUP BY 1, 2),
         |cm AS (SELECT source, b, c,
         |    CAST(sum(c) OVER (PARTITION BY source ORDER BY b ASC) AS BIGINT) AS cum,
         |    CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n FROM h),
         |est AS (SELECT source,
         |    min(CASE WHEN cum >= floor((n-1) * 0.5) + 1 THEN (b+1)*${CurationOps.HistBucketW} - 1 END) AS p50_est,
         |    min(CASE WHEN cum >= floor((n-1) * 0.9) + 1 THEN (b+1)*${CurationOps.HistBucketW} - 1 END) AS p90_est,
         |    min(CASE WHEN cum >= floor((n-1) * 0.99) + 1 THEN (b+1)*${CurationOps.HistBucketW} - 1 END) AS p99_est
         |  FROM cm GROUP BY 1),
         |r AS (SELECT source, n_tokens,
         |    CAST(row_number() OVER (PARTITION BY source ORDER BY n_tokens ASC, doc_id ASC) AS BIGINT) AS rk,
         |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
         |  FROM lens),
         |ex AS (SELECT source, max(n) AS n_docs,
         |    max(CASE WHEN rk = floor((n-1) * 0.5) + 1 THEN n_tokens END) AS p50_tokens,
         |    max(CASE WHEN rk = floor((n-1) * 0.9) + 1 THEN n_tokens END) AS p90_tokens,
         |    max(CASE WHEN rk = floor((n-1) * 0.99) + 1 THEN n_tokens END) AS p99_tokens
         |  FROM r GROUP BY source)
         |SELECT ex.source, n_docs, p50_tokens, p50_est, p90_tokens, p90_est,
         |  p99_tokens, p99_est
         |FROM ex JOIN est USING (source) ORDER BY source""".stripMargin,
    "q_quality_percentile" ->
      s"""WITH $tkCte,
         |$lmCtes,
         |$qualityCtes
         |SELECT doc_id, lm_pct_e4, div_pct_e4, rep_pct_e4, composite_e4
         |FROM comp ORDER BY doc_id""".stripMargin,
    "q_order_aging" ->
      """WITH ref AS (SELECT max(o_orderdate) AS ref FROM orders)
        |SELECT o_orderstatus,
        |  greatest(CAST(date_diff('day', o_orderdate, ref) AS BIGINT), 0) // 7 AS age_weeks,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100.0, 0) AS BIGINT)) AS BIGINT) AS value_e2
        |FROM orders CROSS JOIN ref
        |WHERE o_orderstatus <> 'F'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_dead_parts" ->
      """WITH shipped AS (SELECT DISTINCT l_partkey FROM lineitem),
        |dead AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n_dead
        |  FROM part WHERE p_partkey NOT IN (SELECT l_partkey FROM shipped)
        |  GROUP BY 1),
        |cat AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts
        |  FROM part GROUP BY 1)
        |SELECT cat.p_brand, n_parts, coalesce(n_dead, 0) AS n_dead,
        |  CAST((10000 * coalesce(n_dead, 0)) // n_parts AS BIGINT) AS dead_e4
        |FROM cat LEFT JOIN dead ON cat.p_brand = dead.p_brand
        |ORDER BY cat.p_brand""".stripMargin,
    "q_dup_trend" -> {
      import graft.operators.CurationOps.NoveltyBuckets
      s"""WITH d AS (SELECT doc_id, md5(lower(trim(text))) AS h FROM documents),
         |f AS (SELECT h, min(doc_id) AS first_id FROM d GROUP BY 1),
         |b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
         |s AS (SELECT least(${NoveltyBuckets - 1L},
         |    (doc_id - lo) * $NoveltyBuckets // (hi - lo + 1)) AS bucket,
         |    CASE WHEN doc_id > first_id THEN 1 ELSE 0 END AS refetch
         |  FROM d JOIN f USING (h) CROSS JOIN b)
         |SELECT CAST(bucket AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(refetch) AS BIGINT) AS n_refetch,
         |  CAST((10000 * sum(refetch)) // count(*) AS BIGINT) AS refetch_e4
         |FROM s GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q_decon_trend" -> {
      import graft.operators.CurationOps.{DecontGram, DecontMod, NoveltyBuckets}
      s"""WITH $tkCte, ${gramsCte(DecontGram)},
         |bg AS (SELECT DISTINCT unnest(gs) AS h FROM g3 WHERE doc_id % $DecontMod = 0),
         |hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
         |  FROM (SELECT doc_id, unnest(gs) AS h FROM g3 WHERE doc_id % $DecontMod <> 0)
         |  JOIN bg USING (h) GROUP BY doc_id),
         |b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
         |s AS (SELECT least(${NoveltyBuckets - 1L},
         |    (d.doc_id - lo) * $NoveltyBuckets // (hi - lo + 1)) AS bucket,
         |    CASE WHEN hits.doc_id IS NOT NULL THEN 1 ELSE 0 END AS dirty,
         |    coalesce(hits.n_hit, 0) AS n_hit
         |  FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
         |  CROSS JOIN b
         |  WHERE d.doc_id % $DecontMod <> 0)
         |SELECT CAST(bucket AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(dirty) AS BIGINT) AS n_contaminated,
         |  CAST(sum(n_hit) AS BIGINT) AS n_gram_hits,
         |  CAST((10000 * sum(dirty)) // count(*) AS BIGINT) AS contaminated_e4
         |FROM s GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q_quality_trend" -> {
      import graft.operators.CurationOps.NoveltyBuckets
      s"""WITH $tkCte,
         |$lmCtes,
         |$qualityCtes,
         |b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
         |s AS (SELECT least(${NoveltyBuckets - 1L},
         |    (doc_id - lo) * $NoveltyBuckets // (hi - lo + 1)) AS bucket,
         |    composite_e4
         |  FROM comp CROSS JOIN b)
         |SELECT CAST(bucket AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(composite_e4) // count(*) AS BIGINT) AS mean_composite_e4,
         |  CAST(min(composite_e4) AS BIGINT) AS min_composite_e4,
         |  CAST(max(composite_e4) AS BIGINT) AS max_composite_e4
         |FROM s GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q_cluster_quality" ->
      s"""WITH RECURSIVE $tkCte, ${gramsCte(graft.operators.DedupOps.VerifyGram)},
         |$mhCtes,
         |$pairsCtes,
         |$reachCtes,
         |lab AS (SELECT s AS doc_id, CAST(least(s, min(d)) AS BIGINT) AS cluster_id
         |  FROM reach GROUP BY s),
         |$lmCtes,
         |$qualityCtes,
         |j AS (SELECT lab.doc_id, lab.cluster_id,
         |    CAST(coalesce(comp.composite_e4, -1) AS BIGINT) AS composite_e4,
         |    row_number() OVER (PARTITION BY lab.cluster_id
         |      ORDER BY coalesce(comp.composite_e4, -1) DESC, lab.doc_id ASC) AS rk
         |  FROM lab LEFT JOIN comp USING (doc_id))
         |SELECT doc_id, cluster_id, composite_e4,
         |  CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM j ORDER BY doc_id""".stripMargin,
    "q_cluster_hist" ->
      s"""WITH RECURSIVE $tkCte, ${gramsCte(graft.operators.DedupOps.VerifyGram)},
         |$mhCtes,
         |$pairsCtes,
         |$reachCtes,
         |lbl AS (SELECT s AS doc_id, least(s, min(d)) AS cluster_id FROM reach GROUP BY s),
         |cs AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size FROM lbl GROUP BY 1)
         |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
         |  CAST((cluster_size - 1) * count(*) AS BIGINT) AS n_redundant
         |FROM cs GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,
    "q_event_funnel" -> {
      val steps = graft.operators.CoreOps.FunnelSteps
      s"""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
         |s1 AS (SELECT user_id, min(us) AS t FROM ev
         |  WHERE event_type = '${steps(0)}' GROUP BY 1),
         |s2 AS (SELECT ev.user_id, min(us) AS t FROM ev JOIN s1 USING (user_id)
         |  WHERE event_type = '${steps(1)}' AND us > s1.t GROUP BY 1),
         |s3 AS (SELECT ev.user_id, min(us) AS t FROM ev JOIN s2 USING (user_id)
         |  WHERE event_type = '${steps(2)}' AND us > s2.t GROUP BY 1),
         |st AS (
         |  SELECT CAST(0 AS BIGINT) AS stage, 'all' AS step,
         |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM ev
         |  UNION ALL SELECT 1, '${steps(0)}', CAST(count(*) AS BIGINT) FROM s1
         |  UNION ALL SELECT 2, '${steps(1)}', CAST(count(*) AS BIGINT) FROM s2
         |  UNION ALL SELECT 3, '${steps(2)}', CAST(count(*) AS BIGINT) FROM s3)
         |SELECT stage, step, n_users,
         |  CAST(CASE WHEN stage = 0 THEN 10000
         |    WHEN lag(n_users) OVER (ORDER BY stage) = 0 THEN 0
         |    ELSE n_users * 10000 // lag(n_users) OVER (ORDER BY stage)
         |  END AS BIGINT) AS conv_e4
         |FROM st ORDER BY stage""".stripMargin
    },
    "q_ab_funnel" -> {
      val steps = graft.operators.CoreOps.FunnelSteps
      s"""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
         |s1 AS (SELECT user_id, min(us) AS t FROM ev
         |  WHERE event_type = '${steps(0)}' GROUP BY 1),
         |s2 AS (SELECT ev.user_id, min(us) AS t FROM ev JOIN s1 USING (user_id)
         |  WHERE event_type = '${steps(1)}' AND us > s1.t GROUP BY 1),
         |s3 AS (SELECT ev.user_id, min(us) AS t FROM ev JOIN s2 USING (user_id)
         |  WHERE event_type = '${steps(2)}' AND us > s2.t GROUP BY 1),
         |st AS (
         |  SELECT user_id % 2 AS variant, CAST(0 AS BIGINT) AS stage,
         |    'all' AS step, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         |  FROM ev GROUP BY 1
         |  UNION ALL SELECT user_id % 2, 1, '${steps(0)}', CAST(count(*) AS BIGINT) FROM s1 GROUP BY 1
         |  UNION ALL SELECT user_id % 2, 2, '${steps(1)}', CAST(count(*) AS BIGINT) FROM s2 GROUP BY 1
         |  UNION ALL SELECT user_id % 2, 3, '${steps(2)}', CAST(count(*) AS BIGINT) FROM s3 GROUP BY 1),
         |cv AS (SELECT variant, stage, step, n_users,
         |  CAST(CASE WHEN stage = 0 THEN 10000
         |    WHEN lag(n_users) OVER (PARTITION BY variant ORDER BY stage) = 0 THEN 0
         |    ELSE n_users * 10000 // lag(n_users) OVER (PARTITION BY variant ORDER BY stage)
         |  END AS BIGINT) AS conv_e4 FROM st)
         |SELECT a.stage, a.step, a.n_users AS n_a, b.n_users AS n_b,
         |  a.conv_e4 AS conv_a_e4, b.conv_e4 AS conv_b_e4,
         |  CAST(CASE WHEN a.conv_e4 = 0 THEN 0
         |    ELSE b.conv_e4 * 10000 // a.conv_e4 END AS BIGINT) AS lift_e4
         |FROM cv a JOIN cv b ON a.stage = b.stage AND a.step = b.step
         |  AND a.variant = 0 AND b.variant = 1
         |ORDER BY a.stage""".stripMargin
    },
    "q_corpus_diff" ->
      s"""WITH oldd AS (SELECT doc_id,
         |    CASE WHEN doc_id % 11 = 5 THEN text || ' v1'
         |      WHEN doc_id % 11 = 6 THEN array_to_string(tk[1:CAST((len(tk)*7+9)//10 AS INTEGER)], ' ')
         |      WHEN doc_id % 11 = 7 THEN array_to_string(list_reverse(tk), ' ')
         |      ELSE text END AS text
         |  FROM (SELECT doc_id, text, list_filter(string_split(text,' '), t -> t <> '') AS tk
         |        FROM documents) WHERE doc_id % 7 <> 3),
         |nw AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 2),
         |o AS (SELECT doc_id, md5(text) AS oh,
         |  CAST(len(list_filter(string_split(text,' '), t -> t <> '')) AS BIGINT) AS ot FROM oldd),
         |n AS (SELECT doc_id, md5(text) AS nh,
         |  CAST(len(list_filter(string_split(text,' '), t -> t <> '')) AS BIGINT) AS nt FROM nw),
         |j AS (SELECT CASE WHEN oh IS NULL THEN 'added'
         |    WHEN nh IS NULL THEN 'removed'
         |    WHEN oh <> nh THEN 'changed' ELSE 'unchanged' END AS change,
         |  coalesce(ot, 0) AS ot, coalesce(nt, 0) AS nt
         |  FROM o FULL OUTER JOIN n USING (doc_id))
         |SELECT change, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(ot) AS BIGINT) AS old_tokens,
         |  CAST(sum(nt) AS BIGINT) AS new_tokens
         |FROM j GROUP BY 1 ORDER BY change""".stripMargin,
    "q_diff_severity" -> {
      def g2(src: String): String =
        s"""SELECT doc_id, md5(text) AS h,
           |  list_transform(list_distinct(list_transform(
           |    generate_series(1, len(tk)-1), i -> tk[i] || ' ' || tk[i+1])),
           |    g -> ${graft.functions.TextFunctions.hash60Sql("g")}) AS gs
           |FROM (SELECT doc_id, text,
           |  list_filter(string_split(text,' '), t -> t <> '') AS tk FROM $src)""".stripMargin
      s"""WITH oldd AS (SELECT doc_id,
         |    CASE WHEN doc_id % 11 = 5 THEN text || ' v1'
         |      WHEN doc_id % 11 = 6 THEN array_to_string(tk[1:CAST((len(tk)*7+9)//10 AS INTEGER)], ' ')
         |      WHEN doc_id % 11 = 7 THEN array_to_string(list_reverse(tk), ' ')
         |      ELSE text END AS text
         |  FROM (SELECT doc_id, text, list_filter(string_split(text,' '), t -> t <> '') AS tk
         |        FROM documents) WHERE doc_id % 7 <> 3),
         |nw AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 2),
         |o AS (${g2("oldd")}),
         |n AS (${g2("nw")}),
         |ch AS (SELECT CAST(len(list_intersect(o.gs, n.gs)) AS BIGINT) AS n_common,
         |    CAST(len(o.gs) + len(n.gs) - len(list_intersect(o.gs, n.gs)) AS BIGINT) AS n_union
         |  FROM o JOIN n USING (doc_id) WHERE o.h <> n.h),
         |cl AS (SELECT
         |  CASE WHEN n_union = 0 THEN 'rewritten'
         |    WHEN n_common * 10 >= n_union * 9 THEN 'cosmetic'
         |    WHEN n_common * 2 >= n_union THEN 'revised'
         |    ELSE 'rewritten' END AS severity,
         |  CASE WHEN n_union = 0 THEN 0
         |    ELSE n_common * 10000 // n_union END AS j_e4 FROM ch)
         |SELECT severity, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(j_e4) // count(*) AS BIGINT) AS mean_j_e4
         |FROM cl GROUP BY 1 ORDER BY severity""".stripMargin
    },
    "q_novelty" ->
      s"""WITH $tkCte, ${gramsCte(graft.operators.CurationOps.ProfGram)},
         |dg AS (SELECT doc_id, unnest(gs) AS h FROM g3),
         |fst AS (SELECT h, min(doc_id) AS first_doc FROM dg GROUP BY 1),
         |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(sum(CASE WHEN first_doc < doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_seen
         |  FROM dg JOIN fst USING (h) GROUP BY 1),
         |bnds AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
         |ad AS (SELECT least(${graft.operators.CurationOps.NoveltyBuckets - 1},
         |    (d.doc_id - lo) * ${graft.operators.CurationOps.NoveltyBuckets} // (hi - lo + 1)) AS bucket,
         |  coalesce(pd.n_grams, 0) AS n_grams, coalesce(pd.n_seen, 0) AS n_seen
         |  FROM documents d LEFT JOIN pd USING (doc_id) CROSS JOIN bnds)
         |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_grams) AS BIGINT) AS n_grams, CAST(sum(n_seen) AS BIGINT) AS n_seen,
         |  CAST(CASE WHEN sum(n_grams) = 0 THEN 0
         |    ELSE sum(n_seen) * 10000 // sum(n_grams) END AS BIGINT) AS seen_e4
         |FROM ad GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_boilerplate" ->
      s"""WITH $tkCte, ${gramsCte(graft.operators.CurationOps.ProfGram)},
         |dg AS (SELECT doc_id, unnest(gs) AS h FROM g3),
         |dfq AS (SELECT h, CAST(count(*) AS BIGINT) AS df FROM dg GROUP BY 1),
         |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(sum(CASE WHEN df >= ${graft.operators.CurationOps.BoilerDf} THEN 1 ELSE 0 END) AS BIGINT) AS n_common
         |  FROM dg JOIN dfq USING (h) GROUP BY 1),
         |ad AS (SELECT d.source, coalesce(pd.n_grams, 0) AS n_grams,
         |    coalesce(pd.n_common, 0) AS n_common
         |  FROM documents d LEFT JOIN pd USING (doc_id))
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_grams) AS BIGINT) AS n_grams,
         |  CAST(sum(n_common) AS BIGINT) AS n_common,
         |  CAST(CASE WHEN sum(n_grams) = 0 THEN 0
         |    ELSE sum(n_common) * 10000 // sum(n_grams) END AS BIGINT) AS boiler_e4,
         |  CAST(sum(CASE WHEN n_grams > 0 AND n_common * 2 >= n_grams THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
         |FROM ad GROUP BY source ORDER BY source""".stripMargin,
    "q_source_sim" -> {
      import graft.functions.TextFunctions.{minhashAB, permuteSql}
      import graft.operators.DedupOps.{numHashes, VerifyGram}
      val ab = minhashAB(numHashes)
      val mins = (0 until numHashes).map(i =>
        s"min(${permuteSql("h", ab(i)._1, ab(i)._2)}) AS m${i + 1}").mkString(",\n    ")
      val matches = (1 to numHashes).map(i =>
        s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH $tkCte, ${gramsCte(VerifyGram)},
         |g AS (SELECT doc_id, unnest(gs) AS h FROM g3),
         |gsrc AS (SELECT d.source, g.h FROM g JOIN documents d USING (doc_id)),
         |ms AS (SELECT source, $mins FROM gsrc GROUP BY source)
         |SELECT a.source AS src_a, b.source AS src_b,
         |  CAST($matches AS BIGINT) AS n_match,
         |  CAST(($matches) * 10000 // $numHashes AS BIGINT) AS jaccard_e4
         |FROM ms a JOIN ms b ON a.source < b.source
         |ORDER BY src_a, src_b""".stripMargin
    },
    "q_session_stats" ->
      """WITH sess AS (
        |  SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS cnt,
        |    min(ts_us) AS session_start_us, max(ts_us) AS session_end_us
        |  FROM (
        |    SELECT user_id, ts_us,
        |      CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |    FROM (
        |      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |        CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC) IS NULL
        |               OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC) > 1800000000
        |             THEN 1 ELSE 0 END AS new_session
        |      FROM events))
        |  GROUP BY 1, 2)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(sum(cnt) AS BIGINT) AS n_events,
        |  CAST(max(cnt) AS BIGINT) AS max_events,
        |  CAST(sum(session_end_us - session_start_us) AS BIGINT) AS total_dur_us,
        |  CAST(max(session_end_us - session_start_us) AS BIGINT) AS max_dur_us,
        |  CAST(sum(session_end_us - session_start_us) // count(*) AS BIGINT) AS mean_dur_us
        |FROM sess GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_embed_outliers" ->
      // same determinism contract as q_event_outliers, on the e-3
      // coarsened quantized squared-norm
      """WITH v AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) // 1000 AS nrm
        |  FROM (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
        |    FROM embeddings)),
        |st AS (SELECT label, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(nrm) AS BIGINT) AS s1,
        |    CAST(sum(nrm * nrm) AS BIGINT) AS s2
        |  FROM v GROUP BY label)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(min(nrm) AS BIGINT) AS min_nrm, CAST(max(nrm) AS BIGINT) AS max_nrm,
        |  CAST(sum(nrm) // count(*) AS BIGINT) AS mean_nrm,
        |  CAST(sum(CASE WHEN dev * dev > 9.0 * spread THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM (
        |  SELECT v.*,
        |    CAST(n AS DOUBLE) * CAST(nrm AS DOUBLE) - CAST(s1 AS DOUBLE) AS dev,
        |    CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) AS spread
        |  FROM v JOIN st USING (label))
        |GROUP BY label ORDER BY label""".stripMargin,
    "q_revenue_filter" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(coalesce(sum(CAST(round(l_extendedprice * l_discount * 10000.0, 0) AS BIGINT)), 0) AS BIGINT) AS revenue_e4
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.04 AND 0.06 AND l_quantity < 24.0""".stripMargin,
    "q_shard_assign" -> {
      val n = graft.operators.CurationOps.NumShards
      s"""WITH $tkCte,
         |lens AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM tkv),
         |pre AS (SELECT doc_id, n_tokens,
         |  CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_prev
         |  FROM lens),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM lens),
         |a AS (SELECT least($n - 1, cum_prev * $n // greatest(total, 1)) AS shard,
         |  n_tokens, total FROM pre CROSS JOIN tot)
         |SELECT CAST(shard AS BIGINT) AS shard, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST((sum(n_tokens) - max(total) // $n) * 10000 // greatest(max(total) // $n, 1) AS BIGINT) AS dev_e4
         |FROM a GROUP BY shard ORDER BY shard""".stripMargin
    },
    "q_cust_order_hist" ->
      """SELECT n_orders, CAST(count(*) AS BIGINT) AS n_customers FROM (
        |  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS n_orders
        |  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        |  GROUP BY 1)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_ann_margin" ->
      s"""WITH $quantCte,
         |s AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
         |    ${cosE6("a.q", "b.q", "a.n2", "b.n2")} AS cos_e6
         |  FROM n a CROSS JOIN n b WHERE a.vec_id < 10 AND b.vec_id >= 10),
         |r AS (SELECT query_id, vec_id, cos_e6,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_e6 DESC, vec_id ASC) AS BIGINT) AS rank FROM s)
         |SELECT query_id,
         |  CAST(max(CASE WHEN rank = 1 THEN vec_id END) AS BIGINT) AS top_vec,
         |  CAST(max(CASE WHEN rank = 1 THEN cos_e6 END) AS BIGINT) AS cos1_e6,
         |  CAST(max(CASE WHEN rank = 2 THEN cos_e6 END) AS BIGINT) AS cos2_e6,
         |  CAST(max(CASE WHEN rank = 1 THEN cos_e6 END) - max(CASE WHEN rank = 2 THEN cos_e6 END) AS BIGINT) AS margin_e6
         |FROM r WHERE rank <= 2 GROUP BY query_id ORDER BY query_id""".stripMargin,
    "q_rp_distortion" -> {
      import graft.functions.VectorFunctions.{nPlanes, planes}
      import graft.operators.SimilarityOps.RpMod
      val projCols = (0 until nPlanes).map(j =>
        s"CAST(list_sum(list_transform(list_zip(q, [${planes(j).mkString(",")}]), z -> z[1]*z[2])) AS BIGINT) AS p$j")
        .mkString(",\n|    ")
      val dproj = (0 until nPlanes)
        .map(j => s"(a.p$j-b.p$j)*(a.p$j-b.p$j)").mkString(" + ")
      s"""WITH $quantCte,
         |s AS (SELECT vec_id, q, n2,
         |    $projCols
         |  FROM n WHERE vec_id % $RpMod = 0),
         |pr AS (SELECT
         |    a.n2 + b.n2 - 2*CAST(list_sum(list_transform(list_zip(a.q, b.q), z -> z[1]*z[2])) AS BIGINT) AS d2_orig,
         |    $dproj AS d2_proj
         |  FROM s a JOIN s b ON b.vec_id = a.vec_id + $RpMod),
         |r AS (SELECT d2_orig, d2_proj,
         |    CASE WHEN d2_orig = 0 THEN 1 ELSE 0 END AS degen,
         |    CAST(CAST(d2_proj AS HUGEINT) * 1000000 // CAST(greatest(d2_orig, 1) AS HUGEINT) AS BIGINT) AS ratio_e6
         |  FROM pr)
         |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(degen) AS BIGINT) AS n_degenerate,
         |  CAST(min(CASE WHEN degen = 0 THEN ratio_e6 END) AS BIGINT) AS min_ratio_e6,
         |  CAST(max(CASE WHEN degen = 0 THEN ratio_e6 END) AS BIGINT) AS max_ratio_e6,
         |  CAST(sum(CASE WHEN degen = 0 THEN CAST(ratio_e6 AS HUGEINT) END)
         |    // CAST(greatest(count(*) - sum(degen), 1) AS HUGEINT) AS BIGINT) AS mean_ratio_e6
         |FROM r""".stripMargin
    },
    "q_ann_pq" -> {
      import graft.operators.SimilarityOps.PqTopK
      s"""WITH $quantCte,
         |$pqCtes,
         |qd AS (SELECT q.vec_id AS query_id, q.m, cb.c,
         |    CAST(list_sum(list_transform(list_zip(q.s, cb.s), p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT) AS d2
         |  FROM subv q JOIN cb USING (m) WHERE q.vec_id < 10),
         |ad AS (SELECT qd.query_id, codes.vec_id, CAST(sum(qd.d2) AS BIGINT) AS adist_e6
         |  FROM codes JOIN qd ON codes.m = qd.m AND codes.c = qd.c GROUP BY 1, 2)
         |SELECT query_id, rank, vec_id, adist_e6 FROM (
         |  SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id ORDER BY adist_e6 ASC, vec_id ASC) AS BIGINT) AS rank, vec_id, adist_e6
         |  FROM ad) WHERE rank <= $PqTopK ORDER BY query_id, rank""".stripMargin
    },
    "q_pq_cells" ->
      s"""WITH $quantCte,
         |$pqCtes,
         |cells AS (SELECT m, c AS code, CAST(count(*) AS BIGINT) AS n_vecs,
         |    sum(CAST(d AS HUGEINT)) AS serr
         |  FROM cerr GROUP BY 1, 2),
         |tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n_corpus FROM cells WHERE m = 0)
         |SELECT m, code, n_vecs,
         |  CAST((10000 * n_vecs) // n_corpus AS BIGINT) AS share_e4,
         |  CAST(serr // n_vecs AS BIGINT) AS mean_err_e6
         |FROM cells CROSS JOIN tot ORDER BY m, code""".stripMargin,
    "q_user_reconcile" ->
      """SELECT
        |  CAST(sum(CASE WHEN e.user_id IS NOT NULL AND c.c_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        |  CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_events_only,
        |  CAST(sum(CASE WHEN e.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_customers_only
        |FROM (SELECT DISTINCT user_id FROM events) e
        |FULL OUTER JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |  ON e.user_id = c.c_custkey""".stripMargin,
    "q_novelty_source" ->
      s"""WITH $tkCte, ${gramsCte(graft.operators.CurationOps.ProfGram)},
         |dg AS (SELECT doc_id, unnest(gs) AS h FROM g3),
         |fst AS (SELECT h, min(doc_id) AS first_doc FROM dg GROUP BY 1),
         |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(sum(CASE WHEN first_doc < doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_seen
         |  FROM dg JOIN fst USING (h) GROUP BY 1),
         |ad AS (SELECT d.source, coalesce(pd.n_grams, 0) AS n_grams,
         |    coalesce(pd.n_seen, 0) AS n_seen
         |  FROM documents d LEFT JOIN pd USING (doc_id))
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_grams) AS BIGINT) AS n_grams, CAST(sum(n_seen) AS BIGINT) AS n_seen,
         |  CAST(CASE WHEN sum(n_grams) = 0 THEN 0
         |    ELSE sum(n_seen) * 10000 // sum(n_grams) END AS BIGINT) AS seen_e4
         |FROM ad GROUP BY source ORDER BY source""".stripMargin,
    "q_cluster_policy" ->
      s"""WITH RECURSIVE $tkCte, ${gramsCte(graft.operators.DedupOps.VerifyGram)},
         |$mhCtes,
         |$pairsCtes,
         |$reachCtes,
         |lab AS (SELECT s AS doc_id, CAST(least(s, min(d)) AS BIGINT) AS cluster_id
         |  FROM reach GROUP BY s),
         |lens AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM tkv),
         |$lmCtes,
         |$qualityCtes,
         |kmin AS (SELECT cluster_id, min(doc_id) AS k_min FROM lab GROUP BY 1),
         |klong AS (SELECT cluster_id, doc_id AS k_long FROM (
         |  SELECT lab.cluster_id, lab.doc_id, row_number() OVER (PARTITION BY lab.cluster_id
         |    ORDER BY lens.n_tokens DESC, lab.doc_id ASC) AS rk
         |  FROM lab JOIN lens USING (doc_id)) WHERE rk = 1),
         |kqual AS (SELECT cluster_id, doc_id AS k_qual FROM (
         |  SELECT lab.cluster_id, lab.doc_id, row_number() OVER (PARTITION BY lab.cluster_id
         |    ORDER BY coalesce(comp.composite_e4, -1) DESC, lab.doc_id ASC) AS rk
         |  FROM lab LEFT JOIN comp USING (doc_id)) WHERE rk = 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(sum(CASE WHEN k_min = k_long THEN 1 ELSE 0 END) AS BIGINT) AS n_min_long,
         |  CAST(sum(CASE WHEN k_min = k_qual THEN 1 ELSE 0 END) AS BIGINT) AS n_min_qual,
         |  CAST(sum(CASE WHEN k_long = k_qual THEN 1 ELSE 0 END) AS BIGINT) AS n_long_qual,
         |  CAST(sum(CASE WHEN k_min = k_long AND k_long = k_qual THEN 1 ELSE 0 END) AS BIGINT) AS n_unanimous
         |FROM kmin JOIN klong USING (cluster_id) JOIN kqual USING (cluster_id)""".stripMargin,
    "q_funnel_window" -> {
      val steps = graft.operators.CoreOps.FunnelSteps
      val gap = graft.operators.CoreOps.FunnelGapUs
      s"""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
         |s1 AS (SELECT user_id, min(us) AS t FROM ev
         |  WHERE event_type = '${steps(0)}' GROUP BY 1),
         |s2 AS (SELECT ev.user_id, min(us) AS t FROM ev JOIN s1 USING (user_id)
         |  WHERE event_type = '${steps(1)}' AND us > s1.t AND us <= s1.t + $gap GROUP BY 1),
         |s3 AS (SELECT ev.user_id, min(us) AS t FROM ev JOIN s2 USING (user_id)
         |  WHERE event_type = '${steps(2)}' AND us > s2.t AND us <= s2.t + $gap GROUP BY 1),
         |st AS (
         |  SELECT CAST(0 AS BIGINT) AS stage, 'all' AS step,
         |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM ev
         |  UNION ALL SELECT 1, '${steps(0)}', CAST(count(*) AS BIGINT) FROM s1
         |  UNION ALL SELECT 2, '${steps(1)}', CAST(count(*) AS BIGINT) FROM s2
         |  UNION ALL SELECT 3, '${steps(2)}', CAST(count(*) AS BIGINT) FROM s3)
         |SELECT stage, step, n_users,
         |  CAST(CASE WHEN stage = 0 THEN 10000
         |    WHEN lag(n_users) OVER (ORDER BY stage) = 0 THEN 0
         |    ELSE n_users * 10000 // lag(n_users) OVER (ORDER BY stage)
         |  END AS BIGINT) AS conv_e4
         |FROM st ORDER BY stage""".stripMargin
    },
    "q_funnel_latency" -> {
      val steps = graft.operators.CoreOps.FunnelSteps
      s"""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
         |s1 AS (SELECT user_id, min(us) AS t FROM ev
         |  WHERE event_type = '${steps(0)}' GROUP BY 1),
         |s2 AS (SELECT ev.user_id, min(us) AS t FROM ev JOIN s1 USING (user_id)
         |  WHERE event_type = '${steps(1)}' AND us > s1.t GROUP BY 1),
         |s3 AS (SELECT ev.user_id, min(us) AS t FROM ev JOIN s2 USING (user_id)
         |  WHERE event_type = '${steps(2)}' AND us > s2.t GROUP BY 1),
         |lat AS (
         |  SELECT CAST(1 AS BIGINT) AS from_stage, '${steps(0)}' AS from_step,
         |    '${steps(1)}' AS to_step, s2.t - s1.t AS lat_us
         |  FROM s1 JOIN s2 USING (user_id)
         |  UNION ALL
         |  SELECT CAST(2 AS BIGINT), '${steps(1)}', '${steps(2)}', s3.t - s2.t
         |  FROM s2 JOIN s3 USING (user_id))
         |SELECT from_stage, from_step, to_step,
         |  CAST(count(*) AS BIGINT) AS n_users,
         |  CAST(min(lat_us) AS BIGINT) AS min_us, CAST(max(lat_us) AS BIGINT) AS max_us,
         |  CAST(sum(lat_us) // count(*) AS BIGINT) AS mean_us
         |FROM lat GROUP BY 1, 2, 3 ORDER BY from_stage""".stripMargin
    },
    "q_order_priority" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_late_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_waiting_supplier" ->
      """WITH ol AS (
        |  SELECT l_orderkey AS okey, l_suppkey AS skey,
        |    max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
        |        THEN 1 ELSE 0 END) AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |  GROUP BY 1, 2),
        |og AS (
        |  SELECT okey, count(*) AS n_supp, sum(late) AS n_late,
        |    max(CASE WHEN late = 1 THEN skey END) AS late_skey
        |  FROM ol GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM og JOIN supplier ON late_skey = s_suppkey
        |WHERE n_supp >= 2 AND n_late = 1
        |GROUP BY 1, 2 ORDER BY numwait DESC, s_suppkey ASC LIMIT 20""".stripMargin,
    "q_supplier_diversity" ->
      """SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size IN (1, 4, 7, 10)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q_promo_share" ->
      """WITH sl AS (SELECT
        |    CAST(round(l_extendedprice * (1.0 - l_discount) * 10000.0, 0) AS BIGINT) AS rev_e4,
        |    p_type
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01')
        |SELECT
        |  CAST(coalesce(sum(CASE WHEN p_type = 'PROMO' THEN rev_e4 ELSE 0 END), 0) AS BIGINT) AS promo_rev_e4,
        |  CAST(coalesce(sum(rev_e4), 0) AS BIGINT) AS total_rev_e4,
        |  CAST(CAST(coalesce(sum(CASE WHEN p_type = 'PROMO' THEN rev_e4 ELSE 0 END), 0) AS HUGEINT)
        |    * 1000000 // CAST(coalesce(sum(rev_e4), 0) AS HUGEINT) AS BIGINT) AS promo_share_e6
        |FROM sl""".stripMargin,
    "q_local_supplier" ->
      """SELECT n_name,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000.0, 0) AS BIGINT)) AS BIGINT) AS revenue_e4
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY revenue_e4 DESC, n_name ASC""".stripMargin,
    "q_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
        |    CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000.0, 0) AS BIGINT)) AS BIGINT) AS total_rev_e4
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT l_suppkey AS s_suppkey, s_name, total_rev_e4
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev_e4 = (SELECT max(total_rev_e4) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "q_source_cap" ->
      s"""WITH $tkCte,
         |$lmCtes,
         |$qualityCtes,
         |base AS (SELECT d.source, d.doc_id,
         |    CAST(coalesce(comp.composite_e4, -1) AS BIGINT) AS composite_e4
         |  FROM documents d LEFT JOIN comp USING (doc_id))
         |SELECT source, rnk, doc_id, composite_e4 FROM (
         |  SELECT source, doc_id, composite_e4,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY composite_e4 DESC, doc_id ASC) AS BIGINT) AS rnk
         |  FROM base)
         |WHERE rnk <= ${graft.operators.CurationOps.SourceCapK}
         |ORDER BY source, rnk""".stripMargin,
    "q_dedup_thresholds" -> {
      import graft.operators.DedupOps.{numHashes, CalibTaus}
      val nMatch = (0 until numHashes)
        .map(i => s"CASE WHEN x.mh$i = y.mh$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $tkCte, ${gramsCte(graft.operators.DedupOps.VerifyGram)},
         |$mhCtes,
         |$pairsCtes,
         |nm AS (SELECT doc_a, doc_b, CAST($nMatch AS BIGINT) AS n_match
         |  FROM cand JOIN m x ON x.doc_id = doc_a JOIN m y ON y.doc_id = doc_b),
         |cal AS (SELECT n_match * 10000 // $numHashes AS est_e4,
         |    n_common * 10000 // n_union AS exact_e4
         |  FROM ver v JOIN nm USING (doc_a, doc_b)),
         |taus AS (SELECT CAST(unnest(list_value(${CalibTaus.mkString(", ")})) AS BIGINT) AS tau_e4)
         |SELECT tau_e4,
         |  CAST(coalesce(sum(CASE WHEN exact_e4 >= tau_e4 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_true,
         |  CAST(coalesce(sum(CASE WHEN est_e4 >= tau_e4 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_est,
         |  CAST(coalesce(sum(CASE WHEN est_e4 >= tau_e4 AND exact_e4 < tau_e4 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_est_only,
         |  CAST(coalesce(sum(CASE WHEN est_e4 < tau_e4 AND exact_e4 >= tau_e4 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_true_only
         |FROM taus JOIN cal ON TRUE
         |GROUP BY tau_e4 ORDER BY tau_e4""".stripMargin
    },
    "q_event_gaps" ->
      """WITH ev AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS us FROM events),
        |gaps AS (SELECT event_type,
        |    us - lag(us) OVER (PARTITION BY user_id, event_type
        |      ORDER BY us ASC, event_id ASC) AS gap_us
        |  FROM ev)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        |  CAST(min(gap_us) AS BIGINT) AS min_gap_us,
        |  CAST(max(gap_us) AS BIGINT) AS max_gap_us,
        |  CAST(sum(gap_us) // count(*) AS BIGINT) AS mean_gap_us
        |FROM gaps WHERE gap_us IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_pack_sweep" -> {
      import graft.operators.CurationOps.{PackBlock, PackSweepBudgets}
      // PackBlock is irrelevant to the answer (the two-level split is
      // a physical concern); the oracle uses the plain global prefix
      // sum, which PackingSpec proves equivalent
      s"""WITH $tkCte,
         |lens AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM tkv),
         |c AS (SELECT doc_id, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_prev
         |  FROM lens),
         |e AS (SELECT n_tokens, cum_prev, CAST(b.budget AS BIGINT) AS budget
         |  FROM c CROSS JOIN (VALUES (${PackSweepBudgets.mkString("), (")})) b(budget)),
         |p AS (SELECT budget, n_tokens,
         |    cum_prev // budget AS fp,
         |    (cum_prev + greatest(n_tokens, 1) - 1) // budget AS lp
         |  FROM e)
         |SELECT budget, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total,
         |  CAST(max(lp) + 1 AS BIGINT) AS n_packs,
         |  CAST(count(*) FILTER (lp > fp) AS BIGINT) AS n_straddling,
         |  CAST((10000 * count(*) FILTER (lp > fp)) // count(*) AS BIGINT) AS straddle_e4,
         |  CAST((max(lp) + 1) * budget - sum(n_tokens) AS BIGINT) AS waste_tokens
         |FROM p GROUP BY budget ORDER BY budget""".stripMargin
    },
    "q_vocab_coverage" ->
      s"""WITH $tkCte,
         |uni AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1
         |  FROM (SELECT unnest(tk) AS w1 FROM tkv) GROUP BY 1),
         |t AS (SELECT CAST(length(bin(c1)) - 1 AS BIGINT) AS log2_count,
         |    CAST(count(*) AS BIGINT) AS n_terms, CAST(sum(c1) AS BIGINT) AS n_occ
         |  FROM uni GROUP BY 1),
         |c AS (SELECT log2_count, n_terms, n_occ,
         |    CAST(sum(n_terms) OVER (ORDER BY log2_count DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_terms,
         |    CAST(sum(n_occ) OVER (ORDER BY log2_count DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_occ
         |  FROM t),
         |tot AS (SELECT CAST(sum(n_occ) AS BIGINT) AS tot FROM t)
         |SELECT log2_count, n_terms, n_occ, cum_terms, cum_occ,
         |  CAST((CAST(cum_occ AS HUGEINT) * 1000000) // tot AS BIGINT) AS coverage_e6
         |FROM c CROSS JOIN tot ORDER BY log2_count DESC""".stripMargin,
    "q_lang_diversity" ->
      """WITH cl AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |g AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
        |    CAST(count(*) AS BIGINT) AS n_langs,
        |    sum(CAST(c AS HUGEINT) * c) AS sq
        |  FROM cl GROUP BY 1)
        |SELECT source, n_docs, n_langs,
        |  CAST(((CAST(n_docs AS HUGEINT) * n_docs - sq) * 1000000)
        |    // (CAST(n_docs AS HUGEINT) * n_docs) AS BIGINT) AS simpson_e6
        |FROM g ORDER BY source""".stripMargin,
    "q_supplier_delay" -> {
      import graft.operators.JoinOps.DelayMinLines
      s"""WITH per AS (SELECT l_suppkey,
         |    CAST(count(*) AS BIGINT) AS n_lines,
         |    CAST(count(*) FILTER (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS BIGINT) AS n_late
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  GROUP BY 1
         |  HAVING count(*) >= $DelayMinLines)
         |SELECT s_suppkey, s_name, n_lines, n_late,
         |  CAST((10000 * n_late) // n_lines AS BIGINT) AS late_e4
         |FROM per JOIN supplier ON l_suppkey = s_suppkey
         |ORDER BY late_e4 DESC, s_suppkey ASC LIMIT 20""".stripMargin
    },
    "q_session_conversion" ->
      """WITH lab AS (
        |  SELECT user_id, event_type,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM (
        |    SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |      CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC) IS NULL
        |             OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC) > 1800000000
        |           THEN 1 ELSE 0 END AS new_session
        |    FROM events)),
        |s AS (SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
        |  FROM lab GROUP BY 1, 2),
        |g AS (SELECT CAST(length(bin(n_events)) - 1 AS BIGINT) AS log2_events,
        |    CAST(count(*) AS BIGINT) AS n_sessions,
        |    CAST(sum(converted) AS BIGINT) AS n_converted
        |  FROM s GROUP BY 1)
        |SELECT log2_events, n_sessions, n_converted,
        |  CAST((10000 * n_converted) // n_sessions AS BIGINT) AS conv_e4
        |FROM g ORDER BY log2_events""".stripMargin,
    "q_ship_delay" ->
      """WITH d AS (SELECT o_orderpriority,
        |    greatest(CAST(date_diff('day', o_orderdate, l_shipdate) AS BIGINT), 0) // 7 AS delay_weeks
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |g AS (SELECT o_orderpriority, delay_weeks, CAST(count(*) AS BIGINT) AS n_lines
        |  FROM d GROUP BY 1, 2)
        |SELECT o_orderpriority, delay_weeks, n_lines,
        |  CAST((10000 * n_lines) // sum(n_lines) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS share_e4
        |FROM g ORDER BY o_orderpriority, delay_weeks""".stripMargin,
    "q_order_cohorts" ->
      """WITH o AS (SELECT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS yr FROM orders),
        |f AS (SELECT o_custkey, min(yr) AS cohort FROM o GROUP BY 1),
        |a AS (SELECT DISTINCT o_custkey, yr FROM o),
        |cells AS (SELECT cohort, yr, CAST(count(*) AS BIGINT) AS n_active
        |  FROM a JOIN f USING (o_custkey) GROUP BY 1, 2),
        |s AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_cohort FROM f GROUP BY 1)
        |SELECT cohort, yr, n_active, n_cohort,
        |  CAST((10000 * n_active) // n_cohort AS BIGINT) AS retention_e4
        |FROM cells JOIN s USING (cohort) ORDER BY cohort, yr""".stripMargin,
    "q_brand_basket" ->
      """WITH ob AS (SELECT DISTINCT l_orderkey, p_brand
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |pb AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n_t FROM ob GROUP BY 1),
        |tot AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders_tot FROM ob),
        |pairs AS (SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
        |    CAST(count(*) AS BIGINT) AS n_both
        |  FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        |  GROUP BY 1, 2)
        |SELECT brand_a, brand_b, n_both, pa.n_t AS n_a, pb2.n_t AS n_b,
        |  CAST((CAST(n_both AS HUGEINT) * n_orders_tot * 10000)
        |    // (CAST(pa.n_t AS HUGEINT) * pb2.n_t) AS BIGINT) AS lift_e4
        |FROM pairs
        |JOIN pb pa ON pairs.brand_a = pa.p_brand
        |JOIN pb pb2 ON pairs.brand_b = pb2.p_brand
        |CROSS JOIN tot
        |ORDER BY brand_a, brand_b""".stripMargin,
    "q_rate_profile" ->
      """WITH pm AS (SELECT user_id, epoch_us(ts) // 60000000 AS minute,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |pu AS (SELECT user_id, max(n) AS peak FROM pm GROUP BY 1)
        |SELECT CAST(length(bin(peak)) - 1 AS BIGINT) AS log2_peak,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(max(peak) AS BIGINT) AS max_peak
        |FROM pu GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_rfm_segments" ->
      """WITH per AS (SELECT o_custkey, max(o_orderdate) AS last_order,
        |    CAST(count(*) AS BIGINT) AS f,
        |    CAST(sum(CAST(round(o_totalprice * 100.0, 0) AS BIGINT)) AS BIGINT) AS m_e2
        |  FROM orders GROUP BY 1),
        |ref AS (SELECT max(o_orderdate) AS ref FROM orders),
        |b AS (SELECT
        |    CAST(length(bin(CAST(date_diff('day', last_order, ref) AS BIGINT) + 1)) - 1 AS BIGINT) AS r_bucket,
        |    CAST(length(bin(f)) - 1 AS BIGINT) AS f_bucket,
        |    CAST(length(bin(m_e2)) - 1 AS BIGINT) AS m_bucket,
        |    m_e2
        |  FROM per CROSS JOIN ref)
        |SELECT r_bucket, f_bucket, m_bucket,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(m_e2) AS BIGINT) AS total_spend_e2
        |FROM b GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q_event_transitions" ->
      """WITH ev AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS us FROM events),
        |p AS (SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY us ASC, event_id ASC) AS to_type
        |  FROM ev),
        |g AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  CAST((10000 * n) // sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS share_e4
        |FROM g ORDER BY from_type, to_type""".stripMargin,
    "q_embed_drift" ->
      s"""WITH $quantCte,
         |b AS (SELECT min(vec_id) AS lo, max(vec_id) AS hi FROM n),
         |c AS (SELECT CASE WHEN vec_id * 2 <= lo + hi THEN 0 ELSE 1 END AS half,
         |    unnest(range(len(q))) AS dim, unnest(q) AS qv
         |  FROM n CROSS JOIN b),
         |g AS (SELECT dim, half, CAST(count(*) AS BIGINT) AS cnt,
         |    CAST(sum(qv) AS BIGINT) AS s
         |  FROM c GROUP BY 1, 2),
         |pv AS (SELECT CAST(dim AS BIGINT) AS dim,
         |    max(CASE WHEN half = 0 THEN cnt END) AS n_a,
         |    max(CASE WHEN half = 1 THEN cnt END) AS n_b,
         |    max(CASE WHEN half = 0 THEN CAST(round(CAST(s AS DOUBLE)/cnt) AS BIGINT) END) AS mean_a_e3,
         |    max(CASE WHEN half = 1 THEN CAST(round(CAST(s AS DOUBLE)/cnt) AS BIGINT) END) AS mean_b_e3
         |  FROM g GROUP BY 1)
         |SELECT dim, n_a, n_b, mean_a_e3, mean_b_e3,
         |  CAST(mean_b_e3 - mean_a_e3 AS BIGINT) AS delta_e3
         |FROM pv ORDER BY dim""".stripMargin,
    "q_oov_rate" ->
      s"""WITH $tkCte,
         |uni AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1
         |  FROM (SELECT unnest(tk) AS w1 FROM tkv) GROUP BY w1),
         |vocab AS (SELECT w1 FROM uni ORDER BY c1 DESC, w1 ASC
         |  LIMIT ${graft.operators.TextOps.OovVocabK}),
         |tok AS (SELECT d.source, unnest(tkv.tk) AS token
         |  FROM tkv JOIN documents d USING (doc_id))
         |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(sum(CASE WHEN token NOT IN (SELECT w1 FROM vocab)
         |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_oov,
         |  CAST(CAST(coalesce(sum(CASE WHEN token NOT IN (SELECT w1 FROM vocab)
         |      THEN 1 ELSE 0 END), 0) AS HUGEINT) * 1000000
         |    // CAST(count(*) AS HUGEINT) AS BIGINT) AS oov_e6
         |FROM tok GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_quality_slope" ->
      s"""WITH $tkCte,
         |$lmCtes,
         |$qualityCtes,
         |base AS (SELECT d.source, CAST(len(tkv.tk) AS BIGINT) AS x,
         |    comp.composite_e4 AS y
         |  FROM tkv JOIN comp USING (doc_id) JOIN documents d USING (doc_id)),
         |ag AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(x) AS BIGINT) AS sum_tokens, CAST(sum(y) AS BIGINT) AS sum_q,
         |    sum(CAST(x AS HUGEINT) * y) AS sxy,
         |    sum(CAST(x AS HUGEINT) * x) AS sxx
         |  FROM base GROUP BY 1),
         |fin AS (SELECT source, n_docs, sum_tokens, sum_q,
         |    CAST(n_docs AS HUGEINT) * sxy - CAST(sum_tokens AS HUGEINT) * sum_q AS num,
         |    CAST(n_docs AS HUGEINT) * sxx - CAST(sum_tokens AS HUGEINT) * sum_tokens AS den
         |  FROM ag)
         |SELECT source, n_docs, sum_tokens, sum_q,
         |  CAST(CASE WHEN den = 0 THEN 0
         |    WHEN num < 0 THEN -(((-num) * 1000000) // den)
         |    ELSE (num * 1000000) // den END AS BIGINT) AS slope_e6
         |FROM fin ORDER BY source""".stripMargin,
    "q_quality_yield" ->
      s"""WITH $tkCte,
         |$lmCtes,
         |$qualityCtes,
         |base AS (SELECT comp.composite_e4, CAST(len(tkv.tk) AS BIGINT) AS n_tok
         |  FROM comp JOIN tkv USING (doc_id)),
         |b AS (SELECT least(composite_e4 // 1000, 9) AS decile,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |  FROM base GROUP BY 1)
         |SELECT decile, n_docs, n_tokens,
         |  CAST(sum(n_docs) OVER (ORDER BY decile DESC) AS BIGINT) AS cum_docs,
         |  CAST(sum(n_tokens) OVER (ORDER BY decile DESC) AS BIGINT) AS cum_tokens
         |FROM b ORDER BY decile""".stripMargin,
    "q_ann_purity" ->
      s"""WITH $quantCte,
         |s AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
         |    ${cosE6("a.q", "b.q", "a.n2", "b.n2")} AS cos_e6
         |  FROM n a CROSS JOIN n b WHERE a.vec_id < 10 AND b.vec_id >= 10),
         |r AS (SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos_e6 DESC, vec_id ASC) AS rank FROM s),
         |t AS (SELECT query_id, vec_id FROM r WHERE rank <= 5),
         |e AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings)
         |SELECT q.label AS q_label, CAST(count(*) AS BIGINT) AS n_neighbors,
         |  CAST(coalesce(sum(CASE WHEN q.label = n.label THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_same,
         |  CAST(coalesce(sum(CASE WHEN q.label = n.label THEN 1 ELSE 0 END), 0)
         |    * 10000 // count(*) AS BIGINT) AS purity_e4
         |FROM t JOIN e q ON t.query_id = q.vec_id JOIN e n ON t.vec_id = n.vec_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_pair_degree" ->
      s"""WITH $tkCte, ${gramsCte(graft.operators.DedupOps.VerifyGram)},
         |$mhCtes,
         |$pairsCtes,
         |deg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS degree
         |  FROM (SELECT doc_a AS doc_id FROM pr
         |        UNION ALL SELECT doc_b AS doc_id FROM pr)
         |  GROUP BY 1)
         |SELECT degree, CAST(count(*) AS BIGINT) AS n_docs
         |FROM deg GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_split_leakage" ->
      s"""WITH $tkCte, ${gramsCte(graft.operators.DedupOps.VerifyGram)},
         |$mhCtes,
         |$pairsCtes,
         |sp AS (SELECT doc_id,
         |    CASE WHEN ${h60("source")} % 100 < 90 THEN 'train'
         |         WHEN ${h60("source")} % 100 < 95 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents),
         |px AS (SELECT least(a.split, b.split) AS split_lo,
         |    greatest(a.split, b.split) AS split_hi
         |  FROM pr JOIN sp a ON pr.doc_a = a.doc_id
         |          JOIN sp b ON pr.doc_b = b.doc_id)
         |SELECT split_lo, split_hi, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(CASE WHEN split_lo <> split_hi THEN 1 ELSE 0 END AS BIGINT) AS leaky
         |FROM px GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_funnel_tokens" ->
      s"""WITH RECURSIVE $tkCte, ${gramsCte(graft.operators.DedupOps.VerifyGram)},
         |$mhCtes,
         |$pairsCtes,
         |$reachCtes,
         |$curationFlagsCtes,
         |keep AS (SELECT doc_id, source, n_tokens, md5(lower(trim(text))) AS h
         |  FROM flags WHERE q_ok = 1 AND l_ok = 1),
         |kp AS (SELECT min(doc_id) AS doc_id FROM keep GROUP BY h),
         |kpx AS (SELECT kp.doc_id, keep.source, keep.n_tokens
         |  FROM kp JOIN keep USING (doc_id)),
         |ku AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS t_unique
         |  FROM kpx GROUP BY source),
         |lab AS (SELECT s AS doc_id, CAST(least(s, min(d)) AS BIGINT) AS cluster_id
         |  FROM reach GROUP BY s),
         |surv AS (SELECT coalesce(lab.cluster_id, k.doc_id) AS cl, min(k.doc_id) AS doc_id
         |  FROM kpx k LEFT JOIN lab USING (doc_id) GROUP BY 1),
         |nnd AS (SELECT k.source, CAST(sum(k.n_tokens) AS BIGINT) AS t_neardup
         |  FROM surv JOIN kpx k USING (doc_id) GROUP BY 1)
         |SELECT f.source, CAST(sum(n_tokens) AS BIGINT) AS t_raw,
         |  CAST(sum(q_ok * n_tokens) AS BIGINT) AS t_quality,
         |  CAST(sum(q_ok * l_ok * n_tokens) AS BIGINT) AS t_gated,
         |  CAST(coalesce(max(ku.t_unique), 0) AS BIGINT) AS t_unique,
         |  CAST(coalesce(max(nnd.t_neardup), 0) AS BIGINT) AS t_neardup
         |FROM flags f LEFT JOIN ku USING (source) LEFT JOIN nnd USING (source)
         |GROUP BY f.source ORDER BY f.source""".stripMargin,
    "q_char_profile" ->
      """WITH per AS (SELECT source,
        |    CAST(len(text) AS BIGINT) AS n,
        |    CAST(len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS na,
        |    CAST(len(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS nd,
        |    CAST(len(regexp_replace(text, '[^ ]', '', 'g')) AS BIGINT) AS ns
        |  FROM documents),
        |ag AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_chars,
        |    CAST(sum(na) AS BIGINT) AS n_alpha, CAST(sum(nd) AS BIGINT) AS n_digit,
        |    CAST(sum(ns) AS BIGINT) AS n_space
        |  FROM per GROUP BY 1)
        |SELECT source, n_chars, n_alpha, n_digit, n_space,
        |  CAST(CAST(n_alpha AS HUGEINT) * 1000000 // CAST(n_chars AS HUGEINT) AS BIGINT) AS alpha_e6,
        |  CAST(CAST(n_digit AS HUGEINT) * 1000000 // CAST(n_chars AS HUGEINT) AS BIGINT) AS digit_e6,
        |  CAST(CAST(n_space AS HUGEINT) * 1000000 // CAST(n_chars AS HUGEINT) AS BIGINT) AS space_e6
        |FROM ag ORDER BY source""".stripMargin,
    "q_mixture_temp" ->
      s"""WITH $tkCte,
         |av AS (SELECT d.source, CAST(sum(len(tkv.tk)) AS BIGINT) AS avail_tokens
         |  FROM tkv JOIN documents d USING (doc_id) GROUP BY 1),
         |sq AS (SELECT source, avail_tokens,
         |    CAST(floor(sqrt(CAST(avail_tokens AS DOUBLE))) AS BIGINT) AS s0
         |  FROM av),
         |wt AS (SELECT source, avail_tokens,
         |    CASE WHEN avail_tokens <= 0 THEN 0
         |      WHEN (s0 + 1) * (s0 + 1) <= avail_tokens THEN s0 + 1
         |      WHEN s0 * s0 > avail_tokens THEN s0 - 1
         |      ELSE s0 END AS weight
         |  FROM sq),
         |tot AS (SELECT CAST(sum(avail_tokens) AS BIGINT) AS tot_avail,
         |    CAST(sum(weight) AS BIGINT) AS tot_w FROM wt)
         |SELECT source, avail_tokens, CAST(weight AS BIGINT) AS weight,
         |  CAST(CAST(avail_tokens AS HUGEINT) * 1000000 // CAST(tot_avail AS HUGEINT) AS BIGINT) AS natural_share_e6,
         |  CAST(weight * 1000000 // tot_w AS BIGINT) AS temp_share_e6
         |FROM wt CROSS JOIN tot ORDER BY source""".stripMargin,
    "q_trade_volume" -> {
      val (na, nb) = graft.operators.JoinOps.TradeNations
      s"""SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
         |  CAST(year(l_shipdate) AS BIGINT) AS ship_year,
         |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000.0, 0) AS BIGINT)) AS BIGINT) AS revenue_e4
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ns ON s_nationkey = ns.n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation nc ON c_nationkey = nc.n_nationkey
         |WHERE ns.n_name IN ('$na', '$nb') AND nc.n_name IN ('$na', '$nb')
         |  AND ns.n_name <> nc.n_name
         |  AND l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate < TIMESTAMP '1998-01-01'
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
    },
    "q_active_rolling" ->
      """WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |w AS (SELECT DISTINCT user_id, day + o AS day
        |  FROM ud CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS o)),
        |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
        |wau AS (SELECT day, CAST(count(*) AS BIGINT) AS wau7 FROM w GROUP BY 1)
        |SELECT day, dau, wau7 FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin,
    "q_decon_split" ->
      s"""WITH $tkCte, ${gramsCte(graft.operators.CurationOps.DecontGram)},
         |bg AS (SELECT DISTINCT unnest(gs) AS h FROM g3
         |  WHERE doc_id % ${graft.operators.CurationOps.DecontMod} = 0),
         |hits AS (SELECT DISTINCT doc_id
         |  FROM (SELECT doc_id, unnest(gs) AS h FROM g3
         |        WHERE doc_id % ${graft.operators.CurationOps.DecontMod} <> 0)
         |  JOIN bg USING (h)),
         |sp AS (SELECT doc_id,
         |    CASE WHEN ${h60("source")} % 100 < 90 THEN 'train'
         |         WHEN ${h60("source")} % 100 < 95 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents
         |  WHERE doc_id % ${graft.operators.CurationOps.DecontMod} <> 0)
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(coalesce(sum(CASE WHEN hits.doc_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_contaminated,
         |  CAST(CAST(coalesce(sum(CASE WHEN hits.doc_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS HUGEINT)
         |    * 1000000 // CAST(count(*) AS HUGEINT) AS BIGINT) AS rate_e6
         |FROM sp LEFT JOIN hits USING (doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_revenue_mtd" ->
      """WITH d AS (SELECT strftime(o_orderdate, '%Y-%m-%d') AS order_day,
        |    count(*) AS total_num,
        |    CAST(sum(CAST(round(o_totalprice * 100.0, 0) AS BIGINT)) AS BIGINT) AS total_money_e2
        |  FROM orders GROUP BY 1)
        |SELECT order_day, total_num, total_money_e2,
        |  CAST(sum(total_money_e2) OVER (PARTITION BY substr(order_day, 1, 7)
        |    ORDER BY order_day ASC) AS BIGINT) AS mtd_money_e2
        |FROM d ORDER BY order_day""".stripMargin,
    "q_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000.0, 0) AS BIGINT)) AS BIGINT) AS lost_rev_e4
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-10-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1, 2, 3 ORDER BY lost_rev_e4 DESC, c_custkey ASC LIMIT 20""".stripMargin,
    "q_big_orders" ->
      s"""WITH q AS (SELECT l_orderkey,
        |    CAST(sum(CAST(round(l_quantity * 100.0, 0) AS BIGINT)) AS BIGINT) AS total_qty_e2
        |  FROM lineitem GROUP BY 1 HAVING total_qty_e2 > ${graft.operators.JoinOps.BigOrderQtyE2})
        |SELECT c_custkey, c_name, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_day,
        |  CAST(round(o_totalprice * 100.0, 0) AS BIGINT) AS total_price_e2,
        |  total_qty_e2
        |FROM q JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty_e2 DESC, o_orderkey ASC""".stripMargin,
    "q_small_qty_rev" ->
      s"""WITH li AS (SELECT l_partkey,
        |    CAST(round(l_quantity * 100.0, 0) AS BIGINT) AS qty_e2,
        |    l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = '${graft.operators.JoinOps.SmallQtyBrand}'),
        |st AS (SELECT l_partkey AS pk, count(*) AS n_lines,
        |    CAST(sum(qty_e2) AS BIGINT) AS sum_qty_e2
        |  FROM li GROUP BY 1)
        |SELECT count(*) AS n_small_lines,
        |  coalesce(CAST(sum(CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)) AS BIGINT), 0) AS small_rev_e2
        |FROM li JOIN st ON l_partkey = pk
        |WHERE qty_e2 * 5 * n_lines < sum_qty_e2""".stripMargin,
    "q_disjunct_rev" ->
      """SELECT count(*) AS n_lines,
        |  coalesce(CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000.0, 0) AS BIGINT)) AS BIGINT), 0) AS revenue_e4
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_quantity >= 1.0 AND l_quantity <= 30.0 AND (
        |  (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity <= 11.0)
        |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10.0 AND 20.0)
        |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 20.0))""".stripMargin,
    "q_dormant_rich" ->
      s"""WITH c AS (SELECT c_custkey, c_nationkey,
        |    CAST(round(c_acctbal * 100.0, 0) AS BIGINT) AS bal_e2
        |  FROM customer),
        |pos AS (SELECT CAST(sum(bal_e2) AS BIGINT) AS sum_bal_e2,
        |    count(*) AS n_pos FROM c WHERE bal_e2 > 0),
        |active AS (SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '${graft.operators.JoinOps.DormantCutoff}')
        |SELECT n_name, count(*) AS n_cust,
        |  CAST(sum(bal_e2) AS BIGINT) AS total_bal_e2
        |FROM c CROSS JOIN pos
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE bal_e2 * n_pos > sum_bal_e2
        |  AND NOT EXISTS (SELECT 1 FROM active WHERE o_custkey = c_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_market_share" ->
      s"""WITH asia_cust AS (SELECT c_custkey FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA'),
        |yr AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
        |    CAST(sum(CASE WHEN n_name = '${graft.operators.JoinOps.MarketNation}'
        |      THEN CAST(round(l_extendedprice * (1.0 - l_discount) * 10000.0, 0) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS nation_rev_e4,
        |    CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000.0, 0) AS BIGINT)) AS BIGINT) AS total_rev_e4
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE p_type = 'MEDIUM'
        |    AND o_custkey IN (SELECT c_custkey FROM asia_cust)
        |  GROUP BY 1)
        |SELECT order_year, nation_rev_e4, total_rev_e4,
        |  CAST((CAST(nation_rev_e4 AS HUGEINT) * 1000000)
        |    // CAST(total_rev_e4 AS HUGEINT) AS BIGINT) AS mkt_share_e6
        |FROM yr ORDER BY order_year""".stripMargin,
    "q_hourly_profile" ->
      """SELECT CAST(hour(ts) AS BIGINT) AS hod, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_event_affinity" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |pt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_t FROM ut GROUP BY 1),
        |tot AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM ut),
        |bo AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    CAST(count(*) AS BIGINT) AS n_both
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, n_both, pa.n_t AS n_a, pb.n_t AS n_b,
        |  CAST((CAST(n_both AS HUGEINT) * n_users * 10000)
        |    // (CAST(pa.n_t AS HUGEINT) * pb.n_t) AS BIGINT) AS lift_e4
        |FROM bo JOIN pt pa ON type_a = pa.event_type
        |  JOIN pt pb ON type_b = pb.event_type
        |  CROSS JOIN tot
        |ORDER BY 1, 2""".stripMargin,
    "q_label_centroids" ->
      """WITH vq AS (SELECT CAST(label AS BIGINT) AS label,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
        |  FROM embeddings),
        |ex AS (SELECT label, unnest(range(len(q))) AS dim, unnest(q) AS qv FROM vq),
        |cells AS (SELECT label, CAST(dim AS BIGINT) AS dim,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(round(CAST(sum(qv) AS DOUBLE) / count(*)) AS BIGINT) AS c
        |  FROM ex GROUP BY 1, 2),
        |sizes AS (SELECT label, CAST(max(n) AS BIGINT) AS n_vecs FROM cells GROUP BY 1),
        |norms AS (SELECT label, CAST(sum(c*c) AS BIGINT) AS n2 FROM cells GROUP BY 1),
        |dots AS (SELECT a.label AS label_a, b.label AS label_b,
        |    CAST(sum(a.c * b.c) AS BIGINT) AS dot
        |  FROM cells a JOIN cells b ON a.dim = b.dim AND a.label < b.label
        |  GROUP BY 1, 2)
        |SELECT label_a, label_b, sa.n_vecs AS n_a, sb.n_vecs AS n_b,
        |  CAST(round(dot / sqrt(CAST(na.n2 * nb.n2 AS DOUBLE)) * 1000000.0) AS BIGINT) AS cos_e6
        |FROM dots JOIN norms na ON label_a = na.label
        |  JOIN norms nb ON label_b = nb.label
        |  JOIN sizes sa ON label_a = sa.label
        |  JOIN sizes sb ON label_b = sb.label
        |ORDER BY 1, 2""".stripMargin,
    "q_zipf_topk" ->
      s"""WITH $tkCte, $lmCtes,
         |ztop AS (SELECT w1, c1 FROM uni ORDER BY c1 DESC, w1 ASC LIMIT ${graft.operators.TextOps.ZipfTopK}),
         |zrk AS (SELECT w1, c1,
         |    CAST(row_number() OVER (ORDER BY c1 DESC, w1 ASC) AS BIGINT) AS rank
         |  FROM ztop),
         |zct AS (SELECT CAST(max(c1) AS BIGINT) AS c_top FROM ztop)
         |SELECT rank, w1 AS token, c1 AS cnt,
         |  CAST((CAST(c_top AS HUGEINT) * 10000) // CAST(c1 AS HUGEINT) AS BIGINT) AS head_ratio_e4,
         |  CAST(c1 * rank AS BIGINT) AS rank_product
         |FROM zrk CROSS JOIN zct ORDER BY rank""".stripMargin,
    "q_bpe_merges" -> {
      val k = graft.operators.TextOps.BpeTrainRounds
      val union = (1 to k)
        .map(r => s"SELECT CAST($r AS BIGINT) AS round, s1, s2, n FROM bb$r")
        .mkString("\n|  UNION ALL ")
      s"""WITH $tkCte, $lmCtes,
         |${bpeCtes(k)}
         |SELECT round, s1, s2, n FROM (
         |  $union
         |) ORDER BY round""".stripMargin
    },
    "q_bpe_apply" -> {
      val k = graft.operators.TextOps.BpeTrainRounds
      s"""WITH $tkCte, $lmCtes,
         |${bpeCtes(k)},
         |bsrc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT d.source, unnest(t.tk) AS w
         |        FROM tkv t JOIN documents d USING (doc_id))
         |  GROUP BY 1, 2),
         |bapp AS (SELECT source, bsrc.cnt AS cnt, CAST(length(w) AS BIGINT) AS wlen,
         |    CAST(coalesce(length(seq) - length(replace(seq, '(', '')),
         |                  length(w)) AS BIGINT) AS units
         |  FROM bsrc LEFT JOIN bt$k ON bsrc.w = bt$k.w1)
         |SELECT source,
         |  CAST(sum(cnt) AS BIGINT) AS n_tokens,
         |  CAST(sum(cnt * wlen) AS BIGINT) AS n_chars,
         |  CAST(sum(cnt * units) AS BIGINT) AS n_units,
         |  CAST(sum(cnt * units) * 1000 // sum(cnt) AS BIGINT) AS units_per_token_e3,
         |  CAST(sum(cnt * wlen) * 1000 // sum(cnt * units) AS BIGINT) AS chars_per_unit_e3
         |FROM bapp GROUP BY source ORDER BY source""".stripMargin
    },
    "q_lang_confusion" -> {
      import graft.functions.TextFunctions.{enMarkers, deMarkers, frMarkers}
      s"""WITH $tkCte,
         |m AS (SELECT d.lang,
         |    ${detectedLangSql(
               s"len(list_filter(tk, t -> list_contains(${inList(enMarkers)}, t)))",
               s"len(list_filter(tk, t -> list_contains(${inList(deMarkers)}, t)))",
               s"len(list_filter(tk, t -> list_contains(${inList(frMarkers)}, t)))")} AS detected
         |  FROM tkv JOIN documents d USING (doc_id)),
         |cm AS (SELECT lang, detected, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM m GROUP BY 1, 2),
         |rt AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS n_lang
         |  FROM cm GROUP BY 1)
         |SELECT lang, detected, n_docs,
         |  CAST(n_docs * 10000 // n_lang AS BIGINT) AS share_e4
         |FROM cm JOIN rt USING (lang) ORDER BY 1, 2""".stripMargin
    },
    "q_token_len" ->
      s"""WITH $tkCte,
         |tl AS (SELECT CAST(length(t) AS BIGINT) AS tok_len,
         |    CAST(count(*) AS BIGINT) AS n_occ,
         |    CAST(count(DISTINCT t) AS BIGINT) AS n_terms
         |  FROM (SELECT unnest(tk) AS t FROM tkv) GROUP BY 1),
         |tt AS (SELECT CAST(sum(n_occ) AS BIGINT) AS n_total FROM tl)
         |SELECT tok_len, n_occ, n_terms,
         |  CAST((CAST(n_occ AS HUGEINT) * 1000000) // CAST(n_total AS HUGEINT) AS BIGINT) AS share_e6
         |FROM tl CROSS JOIN tt ORDER BY tok_len""".stripMargin,
    "q_cluster_span" ->
      s"""WITH RECURSIVE $tkCte, ${gramsCte(graft.operators.DedupOps.VerifyGram)},
         |$mhCtes,
         |$pairsCtes,
         |$reachCtes,
         |lbl AS (SELECT s AS doc_id, least(s, min(d)) AS cluster_id FROM reach GROUP BY s),
         |sp AS (SELECT cluster_id,
         |    CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources,
         |    CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM lbl JOIN documents d USING (doc_id) GROUP BY 1)
         |SELECT n_sources, CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(sum(cluster_size) AS BIGINT) AS n_docs
         |FROM sp GROUP BY n_sources ORDER BY n_sources""".stripMargin,
    "q_pair_dist" ->
      s"""WITH $tkCte, ${gramsCte(graft.operators.DedupOps.VerifyGram)},
         |$mhCtes,
         |$pairsCtes
         |SELECT CAST(length(bin(doc_b - doc_a)) - 1 AS BIGINT) AS log2_dist,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(min(doc_b - doc_a) AS BIGINT) AS min_dist,
         |  CAST(max(doc_b - doc_a) AS BIGINT) AS max_dist
         |FROM pr GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_quality_lang" ->
      s"""WITH $tkCte,
         |$lmCtes,
         |$qualityCtes
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(composite_e4) // count(*) AS BIGINT) AS mean_comp_e4,
         |  CAST(min(composite_e4) AS BIGINT) AS min_comp_e4,
         |  CAST(max(composite_e4) AS BIGINT) AS max_comp_e4
         |FROM comp JOIN documents USING (doc_id)
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_order_lines" ->
      """WITH per AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines
        |  FROM lineitem GROUP BY 1)
        |SELECT n_lines, CAST(count(*) AS BIGINT) AS n_orders
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_ann_buckets" ->
      s"""WITH $quantCte,
         |$lshBucketCtes,
         |per AS (SELECT CAST(bucket AS BIGINT) AS bucket,
         |    CAST(count(*) AS BIGINT) AS n_vecs
         |  FROM nb WHERE vec_id >= 10 GROUP BY 1),
         |tt AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n_total FROM per)
         |SELECT bucket, n_vecs,
         |  CAST((CAST(n_vecs AS HUGEINT) * 10000) // CAST(n_total AS HUGEINT) AS BIGINT) AS share_e4
         |FROM per CROSS JOIN tt ORDER BY bucket""".stripMargin,
    "q_supplier_conc" ->
      """WITH rev AS (SELECT l_suppkey,
        |    CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000.0, 0) AS BIGINT)) AS BIGINT) AS rev_e4
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT CAST(sum(rev_e4) AS BIGINT) AS tot_e4,
        |    CAST(count(*) AS BIGINT) AS n_suppliers FROM rev),
        |sh AS (SELECT l_suppkey,
        |    CAST((CAST(rev_e4 AS HUGEINT) * 1000000) // CAST(tot_e4 AS HUGEINT) AS BIGINT) AS share_e6
        |  FROM rev CROSS JOIN tot),
        |hhi AS (SELECT CAST(sum(share_e6 * share_e6) // 1000000 AS BIGINT) AS hhi_e6 FROM sh),
        |t10 AS (SELECT CAST(sum(share_e6) AS BIGINT) AS top10_share_e6
        |  FROM (SELECT share_e6 FROM sh ORDER BY share_e6 DESC, l_suppkey ASC LIMIT 10))
        |SELECT n_suppliers, tot_e4 AS total_rev_e4, hhi_e6, top10_share_e6
        |FROM tot CROSS JOIN hhi CROSS JOIN t10""".stripMargin,
    "q_daily_anomaly" ->
      """WITH daily AS (SELECT strftime(ts, '%Y-%m-%d') AS day,
        |    CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1),
        |mom AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(n_events) AS BIGINT) AS s,
        |    CAST(sum(n_events * n_events) AS BIGINT) AS q FROM daily)
        |SELECT day, n_events,
        |  n_events - coalesce(lag(n_events, 1) OVER (ORDER BY day), n_events) AS delta,
        |  CAST(CASE WHEN
        |      (CAST(n_days AS HUGEINT) * n_events - s)
        |        * (CAST(n_days AS HUGEINT) * n_events - s)
        |      > 9 * (CAST(n_days AS HUGEINT) * q - CAST(s AS HUGEINT) * s)
        |    THEN 1 ELSE 0 END AS BIGINT) AS is_spike
        |FROM daily CROSS JOIN mom ORDER BY day""".stripMargin,
    "q_dedup_gain" ->
      s"""WITH RECURSIVE $tkCte, ${gramsCte(graft.operators.DedupOps.VerifyGram)},
         |$mhCtes,
         |$pairsCtes,
         |$reachCtes,
         |lbl AS (SELECT s AS doc_id, least(s, min(d)) AS cluster_id FROM reach GROUP BY s),
         |gbase AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |    md5(lower(trim(text))) AS raw_hash,
         |    md5(trim(regexp_replace(
         |      regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_hash,
         |    CASE WHEN len(tk) >= ${graft.operators.DedupOps.PrefixTok}
         |      THEN md5(array_to_string(list_slice(list_transform(tk, x -> lower(x)), 1, ${graft.operators.DedupOps.PrefixTok}), ' '))
         |    END AS prefix_hash
         |  FROM tkv),
         |gex AS (SELECT raw_hash, min(doc_id) AS ek FROM gbase GROUP BY 1),
         |gnm AS (SELECT norm_hash, min(doc_id) AS nk FROM gbase GROUP BY 1),
         |gpf AS (SELECT prefix_hash, min(doc_id) AS pk FROM gbase
         |  WHERE prefix_hash IS NOT NULL GROUP BY 1),
         |gfl AS (SELECT n_tokens,
         |    (doc_id = ek) AS kx, (doc_id = nk) AS kn,
         |    (gbase.prefix_hash IS NULL OR doc_id = pk) AS kp,
         |    (lbl.cluster_id IS NULL OR doc_id = lbl.cluster_id) AS kc
         |  FROM gbase JOIN gex USING (raw_hash) JOIN gnm USING (norm_hash)
         |  LEFT JOIN gpf USING (prefix_hash) LEFT JOIN lbl USING (doc_id)),
         |gout AS (
         |  SELECT 'none' AS policy, CAST(count(*) AS BIGINT) AS n_docs_kept,
         |    CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS n_tokens_kept FROM gfl
         |  UNION ALL SELECT 'exact', CAST(count(*) FILTER (kx) AS BIGINT),
         |    CAST(coalesce(sum(n_tokens) FILTER (kx), 0) AS BIGINT) FROM gfl
         |  UNION ALL SELECT 'normalized', CAST(count(*) FILTER (kn) AS BIGINT),
         |    CAST(coalesce(sum(n_tokens) FILTER (kn), 0) AS BIGINT) FROM gfl
         |  UNION ALL SELECT 'prefix', CAST(count(*) FILTER (kp) AS BIGINT),
         |    CAST(coalesce(sum(n_tokens) FILTER (kp), 0) AS BIGINT) FROM gfl
         |  UNION ALL SELECT 'neardup', CAST(count(*) FILTER (kc) AS BIGINT),
         |    CAST(coalesce(sum(n_tokens) FILTER (kc), 0) AS BIGINT) FROM gfl)
         |SELECT policy, n_docs_kept, n_tokens_kept FROM gout ORDER BY policy""".stripMargin,
    "q_revenue_yoy" ->
      """WITH m AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |    CAST(month(o_orderdate) AS BIGINT) AS mo,
        |    CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(sum(CAST(round(o_totalprice * 100.0, 0) AS BIGINT)) AS BIGINT) AS rev_e2
        |  FROM orders GROUP BY 1, 2)
        |SELECT m.yr, m.mo, m.n_orders, m.rev_e2, p.rev_e2 AS prev_rev_e2,
        |  CASE WHEN p.rev_e2 IS NULL OR p.rev_e2 = 0 THEN NULL
        |    WHEN m.rev_e2 >= p.rev_e2
        |      THEN (m.rev_e2 - p.rev_e2) * 10000 // p.rev_e2
        |    ELSE -((p.rev_e2 - m.rev_e2) * 10000 // p.rev_e2)
        |  END AS yoy_e4
        |FROM m LEFT JOIN m p ON m.yr = p.yr + 1 AND m.mo = p.mo
        |ORDER BY m.yr, m.mo""".stripMargin,
    "q_trade_balance" ->
      """WITH li AS (SELECT l_orderkey, l_suppkey,
        |    CAST(round(l_extendedprice * (1.0 - l_discount) * 10000.0, 0) AS BIGINT) AS rev_e4
        |  FROM lineitem),
        |ex AS (SELECT n_name, CAST(sum(rev_e4) AS BIGINT) AS export_rev_e4
        |  FROM li JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey GROUP BY 1),
        |im AS (SELECT n_name, CAST(sum(rev_e4) AS BIGINT) AS import_rev_e4
        |  FROM li JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey GROUP BY 1)
        |SELECT coalesce(ex.n_name, im.n_name) AS n_name,
        |  coalesce(export_rev_e4, 0) AS export_rev_e4,
        |  coalesce(import_rev_e4, 0) AS import_rev_e4,
        |  coalesce(export_rev_e4, 0) - coalesce(import_rev_e4, 0) AS net_e4
        |FROM ex FULL OUTER JOIN im ON ex.n_name = im.n_name
        |ORDER BY 1""".stripMargin,
    "q_exact_span" ->
      """WITH cls AS (SELECT md5(lower(trim(text))) AS raw_hash,
        |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM documents GROUP BY 1 HAVING cnt >= 2)
        |SELECT n_sources, CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(sum(cnt) AS BIGINT) AS n_docs
        |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_decon_widths" -> {
      val ws = graft.operators.CurationOps.DeconWidths
      val mod = graft.operators.CurationOps.DecontMod
      val legs = ws.map { w =>
        s"""bgw$w AS (SELECT DISTINCT unnest(gs) AS h FROM gw$w WHERE doc_id % $mod = 0),
           |chw$w AS (SELECT doc_id, unnest(gs) AS h FROM gw$w WHERE doc_id % $mod <> 0),
           |rw$w AS (SELECT CAST($w AS BIGINT) AS gram_w,
           |  (SELECT CAST(count(*) AS BIGINT) FROM bgw$w) AS n_bench_grams,
           |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_hit,
           |  CAST(count(*) AS BIGINT) AS n_gram_hits
           |  FROM chw$w JOIN bgw$w USING (h))""".stripMargin
      }
      s"""WITH $tkCte,
         |${ws.map(w => gramsCte(w, s"gw$w")).mkString(",\n")},
         |${legs.mkString(",\n")}
         |SELECT * FROM (${ws.map(w => s"SELECT * FROM rw$w").mkString(" UNION ALL ")})
         |ORDER BY gram_w""".stripMargin
    },
    "q_dup_by_length" ->
      s"""WITH $tkCte,
         |db AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |    md5(lower(trim(text))) AS raw_hash FROM tkv),
         |dc AS (SELECT raw_hash, count(*) AS cnt FROM db GROUP BY 1)
         |SELECT CAST(length(bin(n_tokens)) - 1 AS BIGINT) AS log2_len,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(*) FILTER (cnt >= 2) AS BIGINT) AS n_dup,
         |  CAST(count(*) FILTER (cnt >= 2) * 10000 // count(*) AS BIGINT) AS dup_rate_e4
         |FROM db JOIN dc USING (raw_hash) GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_quality_vs_dup" ->
      s"""WITH RECURSIVE $tkCte, ${gramsCte(graft.operators.DedupOps.VerifyGram)},
         |$mhCtes,
         |$pairsCtes,
         |$reachCtes,
         |lab AS (SELECT s AS doc_id, CAST(least(s, min(d)) AS BIGINT) AS cluster_id
         |  FROM reach GROUP BY s),
         |$lmCtes,
         |$qualityCtes,
         |qf AS (SELECT comp.composite_e4,
         |    CASE WHEN lab.doc_id IS NULL THEN 'unclustered'
         |         WHEN comp.doc_id = lab.cluster_id THEN 'kept'
         |         ELSE 'dropped' END AS fate
         |  FROM comp LEFT JOIN lab USING (doc_id))
         |SELECT fate, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(composite_e4) // count(*) AS BIGINT) AS mean_comp_e4,
         |  CAST(min(composite_e4) AS BIGINT) AS min_comp_e4,
         |  CAST(max(composite_e4) AS BIGINT) AS max_comp_e4
         |FROM qf GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_band_occupancy" ->
      s"""WITH $tkCte, ${gramsCte(graft.operators.DedupOps.VerifyGram)},
         |$mhCtes,
         |oc AS (SELECT b, band_hash, CAST(count(*) AS BIGINT) AS sz
         |  FROM bnd GROUP BY 1, 2)
         |SELECT CAST(b AS BIGINT) AS band,
         |  CAST(count(*) AS BIGINT) AS n_buckets,
         |  CAST(max(sz) AS BIGINT) AS max_bucket,
         |  CAST(sum(sz) AS BIGINT) AS n_rows,
         |  CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS n_cand_pairs
         |FROM oc GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_reorder_gaps" ->
      """WITH g AS (SELECT o_custkey,
        |    (epoch_us(o_orderdate) - epoch_us(lag(o_orderdate, 1) OVER
        |      (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)))
        |      // 86400000000 AS gap_days
        |  FROM orders)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_gaps,
        |  CAST(min(gap_days) AS BIGINT) AS min_days,
        |  CAST(max(gap_days) AS BIGINT) AS max_days,
        |  CAST(sum(gap_days) // count(*) AS BIGINT) AS mean_days
        |FROM g JOIN customer ON o_custkey = c_custkey
        |WHERE gap_days IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_spend_hist" ->
      """WITH sp AS (SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100.0, 0) AS BIGINT)) AS BIGINT) AS spend_e2
        |  FROM orders GROUP BY 1)
        |SELECT CAST(length(bin(spend_e2)) - 1 AS BIGINT) AS log2_spend,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(spend_e2) AS BIGINT) AS total_spend_e2
        |FROM sp GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_brand_returns" ->
      """SELECT p_brand, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(count(*) FILTER (l_returnflag = 'R') AS BIGINT) AS n_returned,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000.0, 0) AS BIGINT)) AS BIGINT) AS rev_e4,
        |  CAST(coalesce(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000.0, 0) AS BIGINT)) FILTER (l_returnflag = 'R'), 0) AS BIGINT) AS returned_rev_e4,
        |  CAST((CAST(count(*) FILTER (l_returnflag = 'R') AS HUGEINT) * 10000)
        |    // CAST(count(*) AS HUGEINT) AS BIGINT) AS return_rate_e4
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_discount_effect" ->
      """SELECT CAST(round(l_discount * 100.0, 0) AS BIGINT) AS discount_e2,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(round(l_quantity * 100.0, 0) AS BIGINT)) AS BIGINT) AS sum_qty_e2,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000.0, 0) AS BIGINT)) AS BIGINT) AS revenue_e4
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
