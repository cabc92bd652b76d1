package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.query.{EventQueries, RelationalQueries, ScalarQueries}
import graft.ext.ExtQueries

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the operator registry (one entry per SURVEY §2 row /
  * extension operator); `oracleSql` carries the DuckDB-equivalent ANSI SQL
  * the driver hash-compares against at sf0.01. Column names and rounded
  * numeric values are aligned engine-to-engine (see the per-module
  * Scaladoc for the portability rules: md5-derived hashing, explicit
  * casts to BIGINT where Spark returns int, round() on every float that
  * crosses the boundary).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the jetstream replay scan (SURVEY §3.3) — cursor range scan, ordered,
    * limited.
    */
  def entry(spark: SparkSession): DataFrame =
    EventQueries.replayScan(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- jetstream core surface (SURVEY §2.1) over the events log
    "replay_scan"        -> EventQueries.replayScan _,
    "collection_filter"  -> EventQueries.collectionFilter _,
    "did_filter"         -> EventQueries.didFilter _,
    "subscribe_filter"   -> EventQueries.subscribeFilter _,
    "seq_assign"         -> EventQueries.seqAssign _,
    "router_counts"      -> EventQueries.routerCounts _,
    "mixed_decode"       -> EventQueries.mixedDecode _,
    "op_counts"          -> EventQueries.opCounts _,
    "value_histogram"    -> EventQueries.valueHistogram _,
    "hourly_counts"      -> EventQueries.hourlyCounts _,
    "histogram_quantiles" -> EventQueries.histogramQuantiles _,
    "lag_gauge"          -> EventQueries.lagGauge _,
    "json_extract"       -> EventQueries.jsonExtract _,
    "overlap_dedup"      -> EventQueries.overlapDedup _,
    "ttl_retention"      -> EventQueries.ttlRetention _,
    "latest_per_user"    -> EventQueries.latestPerUser _,
    "type_share"         -> EventQueries.typeShare _,
    "syntax_validate"    -> EventQueries.syntaxValidate _,
    "variant_extract"    -> EventQueries.variantExtract _,
    "sessionize"         -> EventQueries.sessionize _,
    "funnel_conversion"  -> EventQueries.funnelConversion _,
    "retention_cohorts"  -> EventQueries.retentionCohorts _,
    "car_decode"         -> EventQueries.carDecode _,
    // --- general relational surface (SURVEY §2.2) over TPC-H fixtures
    "q1_pricing_summary" -> RelationalQueries.q1PricingSummary _,
    "q3_top_revenue"     -> RelationalQueries.q3TopRevenue _,
    "q5_local_supplier"  -> RelationalQueries.q5LocalSupplier _,
    "salted_join"        -> RelationalQueries.saltedJoin _,
    "bucketed_join"      -> RelationalQueries.bucketedJoin _,
    "q4_order_priority"  -> RelationalQueries.q4OrderPriority _,
    "q6_forecast_revenue" -> RelationalQueries.q6ForecastRevenue _,
    "q14_promo_share"    -> RelationalQueries.q14PromoShare _,
    "q18_large_orders"   -> RelationalQueries.q18LargeOrders _,
    "q19_disjunctive"    -> RelationalQueries.q19Disjunctive _,
    "above_avg_orders"   -> RelationalQueries.aboveAvgOrders _,
    "q13_custdist"       -> RelationalQueries.q13CustDist _,
    "join_left_outer"    -> RelationalQueries.joinLeftOuter _,
    "join_semi"          -> RelationalQueries.joinSemi _,
    "join_anti"          -> RelationalQueries.joinAnti _,
    "window_running_total" -> RelationalQueries.windowRunningTotal _,
    "window_top_per_key" -> RelationalQueries.windowTopPerKey _,
    "window_order_gap"   -> RelationalQueries.windowOrderGap _,
    "set_intersect"      -> RelationalQueries.setIntersect _,
    "set_except"         -> RelationalQueries.setExcept _,
    "set_except_all"     -> RelationalQueries.setExceptAll _,
    "set_union"          -> RelationalQueries.setUnion _,
    "listagg_top_parts"  -> RelationalQueries.listaggTopParts _,
    "rollup_pricing"     -> RelationalQueries.rollupPricing _,
    "topk_parts"         -> RelationalQueries.topkParts _,
    "distinct_users"     -> RelationalQueries.distinctUsers _,
    "asof_join"          -> RelationalQueries.asofJoin _,
    "range_join_bands"   -> RelationalQueries.rangeJoinBands _,
    "pivot_priority_year" -> RelationalQueries.pivotPriorityYear _,
    "unpivot_measures"   -> RelationalQueries.unpivotMeasures _,
    "window_extras"      -> RelationalQueries.windowExtras _,
    "regr_agg"           -> RelationalQueries.regrAgg _,
    "date_funcs"         -> ScalarQueries.dateFuncs _,
    "string_funcs"       -> ScalarQueries.stringFuncs _,
    "regexp_funcs"       -> ScalarQueries.regexpFuncs _,
    "array_funcs"        -> ScalarQueries.arrayFuncs _,
    "cube_pricing"       -> ScalarQueries.cubePricing _,
    "stats_agg"          -> ScalarQueries.statsAgg _,
    "grouping_sets"      -> ScalarQueries.groupingSets _,
    // sketch aggregates: registered without oracle (rows-only check) —
    // approximate results are engine-specific; exact twins are gated above
    "hll_distinct_users" -> ScalarQueries.hllDistinctUsers _,
    "approx_quantiles"   -> ScalarQueries.approxQuantiles _,
    // --- LLM-pipeline extensions (E1-E3)
    "text_stats"         -> ExtQueries.textStats _,
    "token_counts"       -> ExtQueries.tokenCounts _,
    "lang_id"            -> ExtQueries.langId _,
    "quality_score"      -> ExtQueries.qualityScore _,
    "doc_fingerprint"    -> ExtQueries.docFingerprint _,
    "dedup_exact"        -> ExtQueries.dedupExact _,
    "dedup_ngram_jaccard" -> ExtQueries.dedupNgramJaccard _,
    "dedup_minhash_lsh"  -> ExtQueries.dedupMinhashLsh _,
    "dedup_verified"     -> ExtQueries.dedupVerified _,
    "dedup_components"   -> ExtQueries.dedupComponents _,
    "stratified_sample"  -> ExtQueries.stratifiedSample _,
    "ivf_probe"          -> ExtQueries.ivfProbe _,
    "embed_quantize"     -> ExtQueries.embedQuantize _,
    "simhash"            -> ExtQueries.simhash _,
    "simhash_hamming"    -> ExtQueries.simhashHamming _,
    "dedup_embed_cosine" -> ExtQueries.dedupEmbedCosine _,
    "bpe_token_vocab"    -> ExtQueries.bpeTokenVocab _,
    "bpe_merges"         -> ExtQueries.bpeMerges _,
    "bpe_encode"         -> ExtQueries.bpeEncode _,
    "sequence_pack_bpe"  -> ExtQueries.sequencePackBpe _,
    "gopher_rules"       -> ExtQueries.gopherRules _,
    "repetition_stats"   -> ExtQueries.repetitionStats _,
    "decontam_flags"     -> ExtQueries.decontamFlags _,
    "sequence_pack"      -> ExtQueries.sequencePack _,
    "rolling_fingerprint" -> ExtQueries.rollingFingerprint _,
    "knn_brute"          -> ExtQueries.knnBrute _,
    "embed_norms"        -> ExtQueries.embedNorms _,
    "ann_lsh_buckets"    -> ExtQueries.annLshBuckets _,
    "embed_centroids"    -> ExtQueries.embedCentroids _,
    "multimodal_meta"    -> ExtQueries.multimodalMeta _,
    "image_dims"         -> ExtQueries.imageDims _,
    "audio_meta"         -> ExtQueries.audioMeta _,
    "video_meta"         -> ExtQueries.videoMeta _,
    "cbor_roundtrip"     -> ScalarQueries.cborRoundtrip _,
    "ivf_probe2"         -> ExtQueries.ivfProbe2 _,
    "ivf_probe_auto"     -> ExtQueries.ivfProbeAuto _,
    // learned-quantizer probe: ORACLE-GATED since round 13 (quantized
    // k-means made the iterative learning SQL-expressible — Similarity
    // .ivfKmeansProbeOracleSql), plus RecallSpec's recall floor
    "ivf_probe_kmeans"   -> ExtQueries.ivfProbeKmeans _,
    // --- round 7: sub-document boilerplate dedup + PII scrubbing
    "chunk_dedup"        -> ExtQueries.chunkDedup _,
    // --- round 11: exact substring-duplication spans (Lee et al. 2021)
    "substring_spans"    -> ExtQueries.substringSpans _,
    "substring_cut"      -> ExtQueries.substringCut _,
    "pii_redact"         -> ExtQueries.piiRedact _,
    "payload_chunks"     -> ExtQueries.payloadChunks _,
    // --- round 4: retrieval, LM-quality, corpus-shrink, export ops
    "inverted_index"     -> ExtQueries.invertedIndex _,
    "bm25_topk"          -> ExtQueries.bm25TopK _,
    "phrase_search"      -> ExtQueries.phraseSearch _,
    "phrase_search3"     -> ExtQueries.phraseSearch3 _,
    "phrase_search_rep"  -> ExtQueries.phraseSearchRep _,
    "quality_lr_train"   -> ExtQueries.qualityLrTrain _,
    "quality_lr_score"   -> ExtQueries.qualityLrScore _,
    "quality_lr_bigram"  -> ExtQueries.qualityLrBigram _,
    "kmeans_centroids"   -> ExtQueries.kmeansCentroidsQuery _,
    "pq_codes"           -> ExtQueries.pqCodes _,
    "pq_adc_topk"        -> ExtQueries.pqAdcTopk _,
    "pq_rerank_topk"     -> ExtQueries.pqRerankTopk _,
    "ivf_pq_topk"        -> ExtQueries.ivfPqTopk _,
    "ivf_pq_residual"    -> ExtQueries.ivfPqResidual _,
    "ivf_pq_batch"       -> ExtQueries.ivfPqBatch _,
    "ivf_pq_residual_batch" -> ExtQueries.ivfPqResidualBatch _,
    "sq8_topk"           -> ExtQueries.sq8Topk _,
    "opq_topk"           -> ExtQueries.opqTopk _,
    "ivf_opq_topk"       -> ExtQueries.ivfOpqTopk _,
    "ivf_sq8_topk"       -> ExtQueries.ivfSq8Topk _,
    "bq_hamming_topk"    -> ExtQueries.bqHammingTopk _,
    "sq8_batch"          -> ExtQueries.sq8Batch _,
    "ivf_sq8_batch"      -> ExtQueries.ivfSq8Batch _,
    "bq_hamming_batch"   -> ExtQueries.bqHammingBatch _,
    "ivf_bq_topk"        -> ExtQueries.ivfBqTopk _,
    "ivf_bq_batch"       -> ExtQueries.ivfBqBatch _,
    "bigram_logprob"     -> ExtQueries.bigramLogProb _,
    "unigram_logprob"    -> ExtQueries.unigramLogprob _,
    "quality_lang_gate"  -> ExtQueries.qualityLangGate _,
    "shard_assign"       -> ExtQueries.shardAssign _,
    "char_entropy"       -> ExtQueries.charEntropy _,
    "source_caps"        -> ExtQueries.sourceCaps _,
    "mixture_sample"     -> ExtQueries.mixtureSample _,
    "dsir_weights"       -> ExtQueries.dsirWeights _,
    "dsir_weights_bigram" -> ExtQueries.dsirWeightsBigram _,
    "dsir_sample"        -> ExtQueries.dsirSample _,
    "vocab_zipf"         -> ExtQueries.vocabZipf _,
    "dedup_reps"         -> ExtQueries.dedupReps _,
    "dedup_reps_quality" -> ExtQueries.dedupRepsQuality _,
    "semdedup_prune"     -> ExtQueries.semdedupPrune _,
  )

  /** DSIR oracle twin (Xie 2023): per-occurrence hashed-unigram buckets,
    * add-one-smoothed target/raw bucket counts, per-term 1e-9-quantized
    * log-ratio, decimal-exact doc sum — composed by `dsir_weights`
    * (CTEs + select) and `dsir_sample` (CTEs + weights-as-CTE + the
    * Gumbel-top-k select).
    */
  private val DsirWeightsSql: String =
    """WITH occ AS MATERIALIZED (
      |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT % 4096 AS b
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
      |tocc AS MATERIALIZED (
      |  SELECT ('0x' || substr(md5(tok), 1, 8))::BIGINT % 4096 AS b
      |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents
      |        WHERE source IN ('src0', 'src1', 'src2', 'src3'))),
      |tc AS (SELECT b, count(*)::BIGINT AS ct_t FROM tocc GROUP BY b),
      |rc AS (SELECT b, count(*)::BIGINT AS ct_r FROM occ GROUP BY b),
      |tot AS (SELECT (SELECT count(*)::BIGINT FROM tocc) AS n_t,
      |               (SELECT count(*)::BIGINT FROM occ) AS n_r),
      |term AS (SELECT occ.doc_id,
      |    floor((ln(coalesce(tc.ct_t, 0) + 1.0) - ln(rc.ct_r + 1.0)
      |         + ln(tot.n_r + 4096.0) - ln(tot.n_t + 4096.0)) * 1e9 + 0.5) / 1e9 AS t
      |  FROM occ JOIN rc USING (b) LEFT JOIN tc USING (b), tot)""".stripMargin

  private val DsirWeightsSelect: String =
    """
      |SELECT doc_id, count(*)::BIGINT AS n_tokens,
      |  floor(sum(t::DECIMAL(38,18))::DOUBLE * 1e6 + 0.5) / 1e6 AS dsir_w
      |FROM term GROUP BY doc_id""".stripMargin

  /** [[DsirWeightsSql]] over hashed unigram ∪ BIGRAM features: the
    * token stream is every word plus every "w_i w_i+1" pair (the
    * constant numbers table + length filter — DuckDB 1.0 cannot
    * lateral-join range against a column), hashed into the same 4096
    * buckets. Everything downstream is byte-identical to the unigram
    * chain.
    */
  private val DsirWeightsBigramSql: String =
    """WITH wl AS MATERIALIZED (
      |  SELECT doc_id, source, string_split(text, ' ') AS l FROM documents),
      |toks AS MATERIALIZED (
      |  SELECT doc_id, source, unnest(l) AS tok FROM wl
      |  UNION ALL
      |  SELECT doc_id, source, l[i] || ' ' || l[i+1] AS tok
      |  FROM wl, (SELECT unnest(range(1, 1000)) AS i) n
      |  WHERE i + 1 <= len(l)),
      |occ AS MATERIALIZED (
      |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT % 4096 AS b
      |  FROM toks),
      |tocc AS MATERIALIZED (
      |  SELECT ('0x' || substr(md5(tok), 1, 8))::BIGINT % 4096 AS b
      |  FROM toks WHERE source IN ('src0', 'src1', 'src2', 'src3')),
      |tc AS (SELECT b, count(*)::BIGINT AS ct_t FROM tocc GROUP BY b),
      |rc AS (SELECT b, count(*)::BIGINT AS ct_r FROM occ GROUP BY b),
      |tot AS (SELECT (SELECT count(*)::BIGINT FROM tocc) AS n_t,
      |               (SELECT count(*)::BIGINT FROM occ) AS n_r),
      |term AS (SELECT occ.doc_id,
      |    floor((ln(coalesce(tc.ct_t, 0) + 1.0) - ln(rc.ct_r + 1.0)
      |         + ln(tot.n_r + 4096.0) - ln(tot.n_t + 4096.0)) * 1e9 + 0.5) / 1e9 AS t
      |  FROM occ JOIN rc USING (b) LEFT JOIN tc USING (b), tot)""".stripMargin

  /** Shared CTE chain producing the LSH-verified near-dup pairs
    * (`verified(doc_a, doc_b, jaccard)`) — composed by `dedup_verified`
    * and `dedup_components`.
    */
  private val NearDupPairCtes: String =
    """words AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      |sh0 AS (SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS s0
      |       FROM words, (SELECT unnest(range(1, 1000)) AS i) n
      |       WHERE i + 2 <= len(l)),
      |sh AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(s0), 1, 8))::BIGINT AS s
      |       FROM sh0),
      |mh AS (SELECT doc_id, j,
      |              min(((2*j+1) * s + j*7919 + 1) % 2147483647) AS mh
      |       FROM sh, (SELECT unnest(range(0, 16)) AS j) js
      |       GROUP BY doc_id, j),
      |bands AS (SELECT doc_id, j // 4 AS band,
      |                 string_agg(mh::VARCHAR, ',' ORDER BY j) AS sig
      |          FROM mh GROUP BY doc_id, j // 4),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |         FROM bands a JOIN bands b
      |           ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |verified AS (
      |  SELECT p.doc_a, p.doc_b,
      |         floor((c::DOUBLE / (sa.n + sb.n - c)) * 1e4 + 0.5) / 1e4 AS jaccard
      |  FROM pairs p
      |  JOIN cand k ON p.doc_a = k.doc_a AND p.doc_b = k.doc_b
      |  JOIN sizes sa ON p.doc_a = sa.doc_id
      |  JOIN sizes sb ON p.doc_b = sb.doc_id
      |  WHERE floor((c::DOUBLE / (sa.n + sb.n - c)) * 1e4 + 0.5) / 1e4 >= 0.8)""".stripMargin

  /** Shared CTE chain producing `sigs(doc_id, simhash)` — composed by
    * `simhash` and `simhash_hamming`.
    */
  private val SimHashCtes: String =
    """wc AS (SELECT doc_id, word, count(*) AS cnt FROM
      |         (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |          FROM documents)
      |       GROUP BY doc_id, word),
      |h AS (SELECT doc_id, cnt, ('0x' || substr(md5(word), 1, 15))::BIGINT AS h
      |      FROM wc),
      |bits AS (SELECT doc_id, b, sum(cnt * (((h >> b) % 2) * 2 - 1)) AS s
      |         FROM h, (SELECT unnest(range(0, 60)) AS b) bs
      |         GROUP BY doc_id, b),
      |sigs AS (SELECT doc_id,
      |                sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
      |         FROM bits GROUP BY doc_id)""".stripMargin

  /** The blended quality score expression (TextStats.qualityScore) —
    * shared by `quality_score` and `quality_lang_gate`.
    */
  private val QualityExpr: String =
    """floor((0.4 * least(1.0, len(string_split(text, ' ')) / 100.0)
      |      + 0.4 * (len(list_distinct(string_split(text, ' ')))::DOUBLE
      |               / len(string_split(text, ' ')))
      |      + 0.2 * (len(list_filter(string_split(text, ' '),
      |           w -> w = 'the' OR w = 'a' OR w = 'of' OR w = 'and' OR w = 'is'))::DOUBLE
      |               / len(string_split(text, ' ')))) * 1e4 + 0.5) / 1e4""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "car_decode" ->
      // Spark synthesizes a REAL XRPC commit frame per doc (records →
      // CAR blocks → MST → commit → two-item framing) and decodes it
      // back through the native CAR/MST/CID path; the oracle recomputes
      // the surviving ops arithmetically: 3 creates per doc minus the
      // forged-CID op (doc_id%7=3 drops suffix 'a'), plus a delete op
      // on every 5th doc
      """SELECT 'did:plc:car' || doc_id AS did, 'c' AS op_type,
        |       'app.graft.doc' AS collection,
        |       'rk' || doc_id || sub.sfx AS rkey,
        |       doc_id AS k, (doc_id * 7 + sub.j) % 1000 AS v,
        |       't' || doc_id AS s
        |FROM documents
        |CROSS JOIN (VALUES (0, 'a'), (1, 'b'), (2, 'c')) AS sub(j, sfx)
        |WHERE NOT (doc_id % 7 = 3 AND sub.j = 0)
        |UNION ALL
        |SELECT 'did:plc:car' || doc_id, 'd', 'app.graft.doc',
        |       'rkdel' || doc_id, NULL, NULL, NULL
        |FROM documents WHERE doc_id % 5 = 0""".stripMargin,
    "replay_scan" ->
      s"""SELECT event_id, epoch_us(ts) AS time_us, user_id, event_type
         |FROM events WHERE epoch_us(ts) >= ${EventQueries.CursorUs}
         |ORDER BY time_us, event_id LIMIT 5000""".stripMargin,
    "collection_filter" ->
      """SELECT event_id, event_type, user_id FROM events
        |WHERE event_type IN ('click', 'purchase')""".stripMargin,
    "hourly_counts" ->
      """SELECT date_trunc('hour', ts)::TIMESTAMP AS hour_start, event_type,
        |       count(*) AS n_events
        |FROM events GROUP BY 1, 2""".stripMargin,
    "mixed_decode" ->
      """SELECT CASE WHEN event_id % 3 = 0 THEN 'com'
        |            WHEN event_id % 3 = 1 THEN 'id'
        |            ELSE 'acc' END AS type,
        |       count(*) AS n_events,
        |       min(epoch_us(ts)) AS min_us,
        |       max(epoch_us(ts)) AS max_us
        |FROM events GROUP BY 1""".stripMargin,
    "did_filter" ->
      """SELECT event_id, user_id, event_type FROM events
        |WHERE user_id IN (1, 3, 5, 7)""".stripMargin,
    "subscribe_filter" ->
      s"""SELECT event_id, epoch_us(ts) AS time_us, user_id, event_type
         |FROM events
         |WHERE event_type IN ('click', 'view', 'purchase')
         |  AND user_id IN (0, 2, 4, 6, 8, 10, 12, 14)
         |  AND epoch_us(ts) > ${EventQueries.HwmUs}""".stripMargin,
    "seq_assign" ->
      """SELECT event_id, epoch_us(ts) AS time_us,
        |       row_number() OVER (ORDER BY epoch_us(ts), event_id) AS seq
        |FROM events""".stripMargin,
    "router_counts" ->
      "SELECT event_type, count(*) AS n_events FROM events GROUP BY event_type",
    "op_counts" ->
      """SELECT event_type, user_id, count(*) AS n_events,
        |       floor((sum(value)) * 1e2 + 0.5) / 1e2 AS sum_value
        |FROM events GROUP BY event_type, user_id""".stripMargin,
    "value_histogram" ->
      """SELECT floor(value / 10)::BIGINT AS bucket, count(*) AS n_events
        |FROM events GROUP BY 1""".stripMargin,
    "histogram_quantiles" ->
      """SELECT event_type,
        |       floor((quantile_cont(value, 0.5)) * 1e4 + 0.5) / 1e4 AS p50,
        |       floor((quantile_cont(value, 0.95)) * 1e4 + 0.5) / 1e4 AS p95,
        |       floor((quantile_cont(value, 0.99)) * 1e4 + 0.5) / 1e4 AS p99
        |FROM events GROUP BY event_type""".stripMargin,
    "lag_gauge" ->
      """SELECT event_type,
        |       (SELECT max(epoch_us(ts)) FROM events) - max(epoch_us(ts)) AS lag_us
        |FROM events GROUP BY event_type""".stripMargin,
    "json_extract" ->
      """SELECT json_extract_string(props, '$.k')::BIGINT AS k, count(*) AS n_events
        |FROM events GROUP BY 1""".stripMargin,
    "variant_extract" ->
      """SELECT event_type,
        |       min(json_extract_string(props, '$.k')::BIGINT) AS min_k,
        |       max(json_extract_string(props, '$.k')::BIGINT) AS max_k,
        |       count(json_extract_string(props, '$.k')) AS n_with_k
        |FROM events GROUP BY event_type""".stripMargin,
    "overlap_dedup" ->
      s"""WITH e AS (SELECT event_id, epoch_us(ts) AS time_us, event_type FROM events),
         |u AS (
         |  SELECT * FROM e WHERE time_us >= ${EventQueries.CursorUs}
         |                    AND time_us < ${EventQueries.HwmUs + 86400000000L}
         |  UNION ALL
         |  SELECT * FROM e WHERE time_us > ${EventQueries.HwmUs})
         |SELECT event_id, min(time_us) AS time_us, min(event_type) AS event_type
         |FROM u GROUP BY event_id""".stripMargin,
    "ttl_retention" ->
      """SELECT ts::DATE AS event_date, count(*) AS n_events
        |FROM events
        |WHERE epoch_us(ts) >= (SELECT max(epoch_us(ts)) FROM events) - 604800000000
        |GROUP BY 1""".stripMargin,
    "latest_per_user" ->
      """SELECT event_id, time_us, user_id, event_type FROM (
        |  SELECT event_id, epoch_us(ts) AS time_us, user_id, event_type,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,
    "type_share" ->
      """SELECT event_type, count(*) AS n_events,
        |       floor((count(*) / (SELECT count(*) FROM events)) * 1e6 + 0.5) / 1e6 AS share
        |FROM events GROUP BY event_type""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       floor((sum(l_quantity)) * 1e2 + 0.5) / 1e2 AS sum_qty,
        |       floor((sum(l_extendedprice)) * 1e2 + 0.5) / 1e2 AS sum_base_price,
        |       floor((sum(l_extendedprice * (1 - l_discount))) * 1e2 + 0.5) / 1e2 AS sum_disc_price,
        |       floor((avg(l_quantity)) * 1e4 + 0.5) / 1e4 AS avg_qty,
        |       floor((avg(l_discount)) * 1e4 + 0.5) / 1e4 AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "salted_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |       floor(sum(o_totalprice) * 1e2 + 0.5) / 1e2 AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "bucketed_join" ->
      """SELECT c_custkey, count(*) AS n_orders,
        |       floor(sum(o_totalprice) * 1e2 + 0.5) / 1e2 AS total_spent
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority""".stripMargin,
    "q13_custdist" ->
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |      FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |      GROUP BY c_custkey)
        |GROUP BY c_count""".stripMargin,
    "q3_top_revenue" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |       floor((sum(l_extendedprice * (1 - l_discount))) * 1e2 + 0.5) / 1e2 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_local_supplier" ->
      """SELECT n_name,
        |       floor((sum(l_extendedprice * (1 - l_discount))) * 1e2 + 0.5) / 1e2 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY n_name""".stripMargin,
    "join_left_outer" ->
      """SELECT c_custkey, c_mktsegment, count(o_orderkey) AS n_orders,
        |       floor((coalesce(sum(o_totalprice), 0)) * 1e2 + 0.5) / 1e2 AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_mktsegment""".stripMargin,
    "join_semi" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders
        |                    WHERE o_orderpriority = '1-URGENT')""".stripMargin,
    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""".stripMargin,
    "window_running_total" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |       floor((sum(o_totalprice) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 1e2 + 0.5) / 1e2 AS running_spend
        |FROM orders""".stripMargin,
    "window_top_per_key" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders) WHERE rnk <= 3""".stripMargin,
    "window_order_gap" ->
      """SELECT o_custkey, o_orderkey,
        |       date_diff('day',
        |         lag(o_orderdate) OVER (PARTITION BY o_custkey
        |                                ORDER BY o_orderdate, o_orderkey),
        |         o_orderdate)::BIGINT AS gap_days
        |FROM orders""".stripMargin,
    "set_intersect" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'purchase'""".stripMargin,
    "set_except" ->
      """SELECT user_id, ts::DATE AS event_date FROM events WHERE event_type = 'view'
        |EXCEPT
        |SELECT user_id, ts::DATE AS event_date FROM events
        |WHERE event_type = 'purchase'""".stripMargin,
    "syntax_validate" ->
      """SELECT regexp_full_match(
        |         CASE WHEN event_id % 7 = 0 THEN 'not a nsid'
        |              ELSE 'app.bsky.' || event_type || '.rec' END,
        |         '[a-zA-Z]([a-zA-Z0-9-]*)(\.[a-zA-Z0-9-]+)+\.[a-zA-Z]([a-zA-Z0-9]*)')
        |         AS nsid_ok,
        |       regexp_full_match(
        |         CASE WHEN event_id % 11 = 0 THEN 'bogus'
        |              ELSE 'did:plc:u' || user_id::VARCHAR END,
        |         'did:[a-z]+:[a-zA-Z0-9._:%-]*[a-zA-Z0-9._-]') AS did_ok,
        |       count(*) AS n_events
        |FROM events GROUP BY 1, 2""".stripMargin,
    "set_union" ->
      """SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
        |UNION
        |SELECT o_custkey AS custkey FROM orders
        |WHERE o_orderpriority = '1-URGENT'""".stripMargin,
    "rollup_pricing" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_items,
        |       floor((sum(l_quantity)) * 1e2 + 0.5) / 1e2 AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "topk_parts" ->
      """SELECT p_partkey, p_name, p_retailprice FROM part
        |ORDER BY p_retailprice DESC, p_partkey LIMIT 10""".stripMargin,
    "distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type""".stripMargin,
    "asof_join" ->
      """SELECT event_id, user_id, max(o_orderdate) AS asof_orderdate
        |FROM events LEFT JOIN orders
        |  ON user_id = o_custkey AND o_orderdate <= ts
        |GROUP BY event_id, user_id""".stripMargin,
    "range_join_bands" ->
      """WITH bands(band, lo, hi) AS (VALUES
        |  ('small', 0.0, 100000.0), ('medium', 100000.0, 250000.0),
        |  ('large', 250000.0, 450000.0), ('jumbo', 450000.0, 1e9))
        |SELECT band, count(*) AS n_orders,
        |       floor((sum(o_totalprice)) * 1e2 + 0.5) / 1e2 AS band_total
        |FROM orders JOIN bands
        |  ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY band""".stripMargin,
    "pivot_priority_year" ->
      """SELECT o_orderpriority,
        |       count(*) FILTER (year(o_orderdate) = 1995) AS y1995,
        |       count(*) FILTER (year(o_orderdate) = 1996) AS y1996,
        |       count(*) FILTER (year(o_orderdate) = 1997) AS y1997,
        |       count(*) FILTER (year(o_orderdate) = 1998) AS y1998,
        |       count(*) FILTER (year(o_orderdate) = 1999) AS y1999,
        |       count(*) FILTER (year(o_orderdate) = 2000) AS y2000,
        |       count(*) FILTER (year(o_orderdate) = 2001) AS y2001
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "unpivot_measures" ->
      """WITH agg AS (
        |  SELECT l_returnflag,
        |         floor((sum(l_quantity)) * 1e2 + 0.5) / 1e2 AS qty,
        |         floor((sum(l_extendedprice)) * 1e2 + 0.5) / 1e2 AS price,
        |         floor((sum(l_discount)) * 1e2 + 0.5) / 1e2 AS disc
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, 'qty' AS measure, qty AS total FROM agg
        |UNION ALL
        |SELECT l_returnflag, 'price', price FROM agg
        |UNION ALL
        |SELECT l_returnflag, 'disc', disc FROM agg""".stripMargin,
    "window_extras" ->
      """SELECT o_custkey, o_orderkey,
        |       first_value(o_totalprice) OVER w_full AS first_price,
        |       last_value(o_totalprice) OVER w_full AS last_price,
        |       ntile(4) OVER w AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |       w_full AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,
    "regr_agg" ->
      """SELECT o_orderpriority,
        |       floor((regr_slope(o_totalprice, x)) * 1e6 + 0.5) / 1e6 AS slope,
        |       floor((regr_intercept(o_totalprice, x)) * 1e4 + 0.5) / 1e4 AS intercept,
        |       floor((regr_r2(o_totalprice, x)) * 1e6 + 0.5) / 1e6 AS r2
        |FROM (SELECT o_orderpriority, o_totalprice,
        |             date_diff('day', DATE '1995-01-01', o_orderdate)::DOUBLE AS x
        |      FROM orders)
        |GROUP BY o_orderpriority""".stripMargin,
    "date_funcs" ->
      """SELECT date_trunc('month', o_orderdate)::TIMESTAMP AS order_month,
        |       year(o_orderdate) AS order_year,
        |       count(*) AS n_orders,
        |       min(o_orderdate + INTERVAL 30 DAY) AS min_due
        |FROM orders GROUP BY 1, 2""".stripMargin,
    "string_funcs" ->
      """SELECT p_partkey, upper(substr(p_name, 1, 5)) AS head,
        |       length(p_name) AS name_len,
        |       p_brand || '/' || p_type AS brand_type,
        |       regexp_replace(p_name, 'a', '@', 'g') AS masked
        |FROM part""".stripMargin,
    "array_funcs" ->
      """SELECT doc_id,
        |       list_contains(string_split(text, ' '), 'spark') AS has_spark,
        |       array_to_string(string_split(text, ' ')[1:3], ' ') AS first3,
        |       list_sort(string_split(text, ' '))[1] AS first_sorted,
        |       len(list_distinct(string_split(text, ' '))) AS n_distinct
        |FROM documents""".stripMargin,
    "cube_pricing" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_items
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    "grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_items
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""".stripMargin,
    "stats_agg" ->
      """SELECT event_type,
        |       floor((stddev_samp(value)) * 1e4 + 0.5) / 1e4 AS sd_value,
        |       floor((var_samp(value)) * 1e4 + 0.5) / 1e4 AS var_value,
        |       floor((corr(value, (epoch_us(ts) % 1000000)::DOUBLE)) * 1e6 + 0.5) / 1e6
        |         AS corr_vt
        |FROM events GROUP BY event_type""".stripMargin,
    // Sketch gates: the sketch VALUES are engine-specific (DuckDB cannot
    // reproduce Spark's HLL registers or percentile sketch), so the
    // Spark query verifies the sketch against the exact answer IN-QUERY
    // and emits booleans; the oracle recomputes the exact columns and
    // asserts TRUE. A sketch drifting past its stated error bound flips
    // a boolean → hash mismatch → the gate fails.
    "hll_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |       TRUE AS within_bound
        |FROM events GROUP BY event_type""".stripMargin,
    "approx_quantiles" ->
      """SELECT event_type, count(*) AS n_events,
        |       TRUE AS p50_ok, TRUE AS p95_ok, TRUE AS p99_ok
        |FROM events GROUP BY event_type""".stripMargin,
    "text_stats" ->
      """SELECT doc_id, length(text) AS n_chars,
        |       len(string_split(text, ' ')) AS n_words,
        |       floor((length(replace(text, ' ', ''))::DOUBLE /
        |             len(string_split(text, ' '))) * 1e4 + 0.5) / 1e4 AS avg_word_len
        |FROM documents""".stripMargin,
    "token_counts" ->
      """SELECT source, count(*) AS n_tokens,
        |       count(DISTINCT token) AS n_distinct_tokens
        |FROM (SELECT source, unnest(regexp_split_to_array(text, '\s+')) AS token
        |      FROM documents)
        |GROUP BY source""".stripMargin,
    "lang_id" ->
      """SELECT doc_id, stop_ratio,
        |       CASE WHEN stop_ratio >= 0.05 THEN 'en' ELSE 'unknown' END AS pred_lang
        |FROM (
        |  SELECT doc_id,
        |         floor((len(list_filter(string_split(text, ' '),
        |           w -> w = 'the' OR w = 'a' OR w = 'of' OR w = 'and' OR w = 'is'))::DOUBLE
        |           / len(string_split(text, ' '))) * 1e4 + 0.5) / 1e4 AS stop_ratio
        |  FROM documents)""".stripMargin,
    "quality_score" ->
      s"""SELECT doc_id, $QualityExpr AS quality
         |FROM documents""".stripMargin,
    "doc_fingerprint" ->
      """SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents""".stripMargin,
    "dedup_exact" ->
      """SELECT min(doc_id) AS canonical_doc_id, md5(text) AS fingerprint,
        |       count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "dedup_ngram_jaccard" ->
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |sh0 AS (SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS s0
        |       FROM words, (SELECT unnest(range(1, 1000)) AS i) n
        |       WHERE i + 2 <= len(l)),
        |sh AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(s0), 1, 8))::BIGINT AS s
        |       FROM sh0),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |       floor((c::DOUBLE / (sa.n + sb.n - c)) * 1e4 + 0.5) / 1e4 AS jaccard
        |FROM pairs
        |JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE floor((c::DOUBLE / (sa.n + sb.n - c)) * 1e4 + 0.5) / 1e4 >= 0.8""".stripMargin,
    "dedup_verified" ->
      s"""WITH $NearDupPairCtes
         |SELECT doc_a, doc_b, jaccard FROM verified""".stripMargin,
    "dedup_components" ->
      s"""WITH RECURSIVE $NearDupPairCtes,
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM verified
         |          UNION SELECT doc_b, doc_a FROM verified),
         |reach(a, b) AS (SELECT a, b FROM edges
         |                UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         |SELECT a AS doc_id, least(a, min(b)) AS comp FROM reach GROUP BY a""".stripMargin,
    "dedup_minhash_lsh" ->
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |sh AS (SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS s
        |       FROM words, (SELECT unnest(range(1, 1000)) AS i) n
        |       WHERE i + 2 <= len(l)),
        |h AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS h FROM sh),
        |mh AS (SELECT doc_id, j,
        |              min(((2*j+1) * h + j*7919 + 1) % 2147483647) AS mh
        |       FROM h, (SELECT unnest(range(0, 16)) AS j) js
        |       GROUP BY doc_id, j),
        |bands AS (SELECT doc_id, j // 4 AS band,
        |                 string_agg(mh::VARCHAR, ',' ORDER BY j) AS sig
        |          FROM mh GROUP BY doc_id, j // 4)
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM bands a JOIN bands b
        |  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id""".stripMargin,
    "simhash" ->
      s"""WITH $SimHashCtes
         |SELECT doc_id, simhash FROM sigs""".stripMargin,
    "simhash_hamming" ->
      s"""WITH $SimHashCtes,
         |banded0 AS (SELECT doc_id, simhash, b.b AS b,
         |                   (simhash >> (b.b * 15)) & 32767 AS piece
         |            FROM sigs, (SELECT unnest(range(0, 4)) AS b) b),
         |banded AS (SELECT doc_id, simhash, b, piece FROM (
         |             SELECT doc_id, simhash, b, piece,
         |                    count(*) OVER (PARTITION BY b, piece) AS bsz
         |             FROM banded0)
         |           WHERE bsz <= 20)
         |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |       bit_count(xor(x.simhash, y.simhash))::BIGINT AS hamming
         |FROM banded x JOIN banded y
         |  ON x.b = y.b AND x.piece = y.piece AND x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3""".stripMargin,
    "dedup_embed_cosine" ->
      """WITH pdims AS (
        |  SELECT e.vec_id, p.p, i.i,
        |         e.embedding[i.i + 1]::DOUBLE *
        |         ((('0x' || substr(md5(p.p::VARCHAR || '_' || i.i::VARCHAR), 1, 8))::BIGINT
        |           % 1000 - 500)::DOUBLE) AS term
        |  FROM embeddings e,
        |       (SELECT unnest(range(0, 8)) AS p) p,
        |       (SELECT unnest(range(0, 64)) AS i) i),
        |dots AS (SELECT vec_id, p, sum(term) AS dot FROM pdims GROUP BY vec_id, p),
        |sigs AS (SELECT vec_id,
        |                sum(CASE WHEN dot > 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT
        |                  AS bucket
        |         FROM dots GROUP BY vec_id),
        |cand AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |         FROM sigs a JOIN sigs b
        |           ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
        |cdims AS (
        |  SELECT c.vec_a, c.vec_b,
        |         ea.embedding[i.i]::DOUBLE AS x, eb.embedding[i.i]::DOUBLE AS y
        |  FROM cand c
        |  JOIN embeddings ea ON ea.vec_id = c.vec_a
        |  JOIN embeddings eb ON eb.vec_id = c.vec_b,
        |       (SELECT unnest(range(1, 65)) AS i) i)
        |SELECT vec_a, vec_b,
        |       floor((sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y)))) * 1e6 + 0.5) / 1e6 AS cos
        |FROM cdims GROUP BY vec_a, vec_b
        |HAVING floor((sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y)))) * 1e6 + 0.5) / 1e6 >= 0.3""".stripMargin,
    "gopher_rules" ->
      """SELECT doc_id, n_words, mean_word_len, stop_hits, alpha_frac,
        |       (n_words >= 50 AND n_words <= 100000
        |        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |        AND stop_hits >= 2 AND alpha_frac >= 0.8) AS keep
        |FROM (
        |  SELECT doc_id,
        |         len(string_split(text, ' '))::BIGINT AS n_words,
        |         floor((length(replace(text, ' ', ''))::DOUBLE /
        |                len(string_split(text, ' '))) * 1e4 + 0.5) / 1e4 AS mean_word_len,
        |         len(list_filter(string_split(text, ' '),
        |           w -> w = 'the' OR w = 'a' OR w = 'of' OR w = 'and' OR w = 'is'))::BIGINT
        |           AS stop_hits,
        |         floor((len(list_filter(string_split(text, ' '),
        |                w -> regexp_matches(w, '[a-zA-Z]')))::DOUBLE /
        |                len(string_split(text, ' '))) * 1e4 + 0.5) / 1e4 AS alpha_frac
        |  FROM documents)""".stripMargin,
    "repetition_stats" ->
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |grams AS (SELECT doc_id, l[i] || ' ' || l[i+1] AS g
        |          FROM words, (SELECT unnest(range(1, 1000)) AS i) n
        |          WHERE i + 1 <= len(l)),
        |cnt AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g)
        |SELECT doc_id, sum(c)::BIGINT AS n_grams, max(c)::BIGINT AS top_gram_n,
        |       floor((max(c)::DOUBLE / sum(c)) * 1e4 + 0.5) / 1e4 AS top_frac
        |FROM cnt GROUP BY doc_id""".stripMargin,
    "decontam_flags" ->
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |sh0 AS (SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS s0
        |        FROM words, (SELECT unnest(range(1, 1000)) AS i) n
        |        WHERE i + 2 <= len(l)),
        |sh AS (SELECT doc_id, ('0x' || substr(md5(s0), 1, 15))::BIGINT AS s FROM sh0),
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0)
        |SELECT a.doc_id, count(*) AS n_overlap
        |FROM sh a JOIN bench b ON a.s = b.s
        |WHERE a.doc_id % 50 <> 0
        |GROUP BY a.doc_id""".stripMargin,
    "sequence_pack" ->
      """SELECT source, doc_id,
        |       len(string_split(text, ' '))::BIGINT AS n_tokens,
        |       ((sum(len(string_split(text, ' '))) OVER (
        |           PARTITION BY source ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         - len(string_split(text, ' '))) // 512)::BIGINT AS pack_id
        |FROM documents""".stripMargin,
    "bpe_token_vocab" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(regexp_extract_all(text, '([a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s])')) AS token
        |  FROM documents)
        |GROUP BY token""".stripMargin,
    "bpe_merges" -> graft.ext.Bpe.mergesOracleSql(graft.ext.ExtQueries.BpeMergeRounds),
    "bpe_encode" -> graft.ext.Bpe.encodeOracleSql(graft.ext.ExtQueries.BpeMergeRounds),
    "sequence_pack_bpe" ->
      graft.ext.Bpe.packOracleSql(graft.ext.ExtQueries.BpeMergeRounds, 512L),
    "rolling_fingerprint" ->
      """SELECT doc_id,
        |       list_reduce(list_transform(string_split(text, ''), c -> unicode(c)::BIGINT),
        |                   (acc, c) -> (acc * 31 + c) % 1000000007) AS rolling_hash
        |FROM documents""".stripMargin,
    "knn_brute" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |dims AS (SELECT e.vec_id, e.embedding[i]::DOUBLE AS x, q.qe[i]::DOUBLE AS y
        |         FROM embeddings e, q, (SELECT unnest(range(1, 65)) AS i) i
        |         WHERE e.vec_id != 0)
        |SELECT vec_id,
        |       floor((sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y)))) * 1e6 + 0.5) / 1e6 AS cos
        |FROM dims GROUP BY vec_id
        |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
    "embed_norms" ->
      """SELECT vec_id, label,
        |       floor((sqrt(sv)) * 1e6 + 0.5) / 1e6 AS l2_norm
        |FROM (SELECT vec_id, label,
        |             (SELECT sum(x*x) FROM
        |               (SELECT unnest(embedding)::DOUBLE AS x)) AS sv
        |      FROM embeddings)""".stripMargin,
    "ann_lsh_buckets" ->
      """WITH dims AS (
        |  SELECT e.vec_id, p.p, i.i,
        |         e.embedding[i.i + 1]::DOUBLE *
        |         ((('0x' || substr(md5(p.p::VARCHAR || '_' || i.i::VARCHAR), 1, 8))::BIGINT
        |           % 1000 - 500)::DOUBLE) AS term
        |  FROM embeddings e,
        |       (SELECT unnest(range(0, 8)) AS p) p,
        |       (SELECT unnest(range(0, 64)) AS i) i),
        |dots AS (SELECT vec_id, p, sum(term) AS dot FROM dims GROUP BY vec_id, p),
        |sigs AS (SELECT vec_id,
        |                sum(CASE WHEN dot > 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT
        |                  AS bucket
        |         FROM dots GROUP BY vec_id)
        |SELECT bucket, count(*) AS n_vecs FROM sigs GROUP BY bucket""".stripMargin,
    "stratified_sample" ->
      """SELECT source, count(*) AS n_sampled, sum(doc_id)::BIGINT AS sum_doc_id
        |FROM documents
        |WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 1000 < 200
        |GROUP BY source""".stripMargin,
    "ivf_probe" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |rest AS (SELECT * FROM embeddings WHERE vec_id != 0),
        |cdims AS (SELECT label, i.i AS i, avg(e.embedding[i.i]::DOUBLE) AS c
        |          FROM rest e, (SELECT unnest(range(1, 65)) AS i) i
        |          GROUP BY label, i.i),
        |scores AS (SELECT cd.label,
        |                  floor((sum(cd.c * q.qe[cd.i]::DOUBLE) / sqrt(sum(cd.c * cd.c)))
        |                        * 1e6 + 0.5) / 1e6 AS score
        |           FROM cdims cd, q GROUP BY cd.label),
        |best AS (SELECT label FROM scores ORDER BY score DESC, label LIMIT 1),
        |dims AS (SELECT e.vec_id, e.embedding[i.i]::DOUBLE AS x, q.qe[i.i]::DOUBLE AS y
        |         FROM rest e JOIN best b ON e.label = b.label, q,
        |              (SELECT unnest(range(1, 65)) AS i) i)
        |SELECT vec_id,
        |       floor((sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y)))) * 1e6 + 0.5) / 1e6 AS cos
        |FROM dims GROUP BY vec_id
        |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
    "embed_quantize" ->
      """WITH dims AS (SELECT vec_id, i.i AS i, embedding[i.i]::DOUBLE AS x
        |              FROM embeddings, (SELECT unnest(range(1, 65)) AS i) i),
        |sc AS (SELECT vec_id, 127.0 / greatest(max(abs(x)), 1e-12) AS s
        |       FROM dims GROUP BY vec_id),
        |q AS (SELECT d.vec_id,
        |             greatest(-127.0, least(127.0, floor(d.x * sc.s + 0.5))) AS qx,
        |             d.x, sc.s
        |      FROM dims d JOIN sc ON d.vec_id = sc.vec_id)
        |SELECT vec_id, sum(qx)::BIGINT AS q_sum,
        |       floor(sqrt(sum((qx/s - x) * (qx/s - x))) * 1e6 + 0.5) / 1e6 AS recon_err
        |FROM q GROUP BY vec_id""".stripMargin,
    "embed_centroids" ->
      """WITH dims AS (SELECT label, i.i, e.embedding[i.i]::DOUBLE AS v
        |              FROM embeddings e, (SELECT unnest(range(1, 65)) AS i) i),
        |cent AS (SELECT label, i, avg(v) AS c FROM dims GROUP BY label, i)
        |SELECT label, floor((sqrt(sum(c*c))) * 1e6 + 0.5) / 1e6 AS centroid_norm
        |FROM cent GROUP BY label""".stripMargin,
    "multimodal_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |       md5(text) AS content_digest,
        |       substr(text, 1, 8) AS head
        |FROM documents""".stripMargin,
    "image_dims" ->
      // the Spark side builds a REAL container per doc and parses its
      // dimensions back off the magic bytes; the oracle recomputes the
      // planted numbers arithmetically
      """SELECT doc_id,
        |       CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
        |            ELSE 'jpeg' END AS img_format,
        |       (16 + doc_id % 1000)::BIGINT AS width,
        |       (16 + (doc_id * 7) % 1000)::BIGINT AS height
        |FROM documents""".stripMargin,
    "audio_meta" ->
      // Spark builds a REAL canonical PCM WAV per doc and chunk-walks
      // the RIFF header back; the oracle recomputes the planted
      // parameters arithmetically. duration_ms mirrors the parser's
      // integer math exactly: dataBytes * 8000 // (rate * ch * bits),
      // dataBytes = nSamples * ch * 2 (16-bit)
      """SELECT doc_id,
        |       (1 + doc_id % 2)::BIGINT AS channels,
        |       (8000 * (1 + doc_id % 5))::BIGINT AS sample_rate,
        |       16::BIGINT AS bits,
        |       (((100 + doc_id % 900) * (1 + doc_id % 2) * 2 * 8000)
        |        // ((8000 * (1 + doc_id % 5)) * (1 + doc_id % 2) * 16))::BIGINT
        |         AS duration_ms
        |FROM documents""".stripMargin,
    "video_meta" ->
      // Spark builds a REAL ISO BMFF (ftyp + moov/mvhd + trak/tkhd) per
      // doc and walks the box tree back; the oracle recomputes the
      // planted parameters arithmetically. duration_ms is exact because
      // the planted timescale is a multiple of 1000.
      """SELECT doc_id,
        |       'isom' AS brand,
        |       (500 + doc_id % 10000)::BIGINT AS duration_ms,
        |       (16 + doc_id % 640)::BIGINT AS width,
        |       (16 + (doc_id * 3) % 480)::BIGINT AS height,
        |       (1 + doc_id % 2)::BIGINT AS n_tracks
        |FROM documents""".stripMargin,
    "cbor_roundtrip" ->
      // the Spark side serializes each row to JSON, encodes canonical
      // DAG-CBOR, decodes back, and extracts the fields from the
      // round-tripped document; the oracle projects the same fields
      // directly — any codec defect hash-mismatches
      """SELECT doc_id, lang, n_chars, md5(text) AS text_md5
        |FROM documents""".stripMargin,
    "ivf_probe_auto" ->
      // same centroid ranking as ivf_probe, but nprobe is DERIVED from
      // the cell count exactly as Similarity.nprobeFor(K, 0.9) does:
      // ceil(sqrt(K)/4 * ln(1/(1-0.9))), clamped to [1, K]
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |rest AS (SELECT * FROM embeddings WHERE vec_id != 0),
        |cdims AS (SELECT label, i.i AS i, avg(e.embedding[i.i]::DOUBLE) AS c
        |          FROM rest e, (SELECT unnest(range(1, 65)) AS i) i
        |          GROUP BY label, i.i),
        |scores AS (SELECT cd.label,
        |                  floor((sum(cd.c * q.qe[cd.i]::DOUBLE) / sqrt(sum(cd.c * cd.c)))
        |                        * 1e6 + 0.5) / 1e6 AS score
        |           FROM cdims cd, q GROUP BY cd.label),
        |best AS (SELECT label FROM scores ORDER BY score DESC, label
        |         LIMIT (SELECT greatest(1, least(count(*),
        |                  ceil(sqrt(count(*)::DOUBLE) / 4 * ln(10.0))))::BIGINT
        |                FROM scores)),
        |dims AS (SELECT e.vec_id, e.embedding[i.i]::DOUBLE AS x, q.qe[i.i]::DOUBLE AS y
        |         FROM rest e JOIN best b ON e.label = b.label, q,
        |              (SELECT unnest(range(1, 65)) AS i) i)
        |SELECT vec_id,
        |       floor((sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y)))) * 1e6 + 0.5) / 1e6 AS cos
        |FROM dims GROUP BY vec_id
        |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
    "ivf_probe2" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |rest AS (SELECT * FROM embeddings WHERE vec_id != 0),
        |cdims AS (SELECT label, i.i AS i, avg(e.embedding[i.i]::DOUBLE) AS c
        |          FROM rest e, (SELECT unnest(range(1, 65)) AS i) i
        |          GROUP BY label, i.i),
        |scores AS (SELECT cd.label,
        |                  floor((sum(cd.c * q.qe[cd.i]::DOUBLE) / sqrt(sum(cd.c * cd.c)))
        |                        * 1e6 + 0.5) / 1e6 AS score
        |           FROM cdims cd, q GROUP BY cd.label),
        |best AS (SELECT label FROM scores ORDER BY score DESC, label LIMIT 2),
        |dims AS (SELECT e.vec_id, e.embedding[i.i]::DOUBLE AS x, q.qe[i.i]::DOUBLE AS y
        |         FROM rest e JOIN best b ON e.label = b.label, q,
        |              (SELECT unnest(range(1, 65)) AS i) i)
        |SELECT vec_id,
        |       floor((sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y)))) * 1e6 + 0.5) / 1e6 AS cos
        |FROM dims GROUP BY vec_id
        |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
    "payload_chunks" ->
      // the numbers-table bound is derived from the longest document
      // (DuckDB 1.0 can't lateral-join range() against a column, but a
      // scalar subquery bound is fine), so the oracle agrees with the
      // unbounded Multimodal.chunkPayload for ANY input length
      """SELECT doc_id, i AS chunk_idx,
        |       length(substr(text, i * 64 + 1, 64))::BIGINT AS chunk_len,
        |       md5(substr(text, i * 64 + 1, 64)) AS chunk_md5
        |FROM documents,
        |     (SELECT unnest(range(0, (SELECT ((max(length(text)) - 1) // 64) + 1
        |                             FROM documents))) AS i) n
        |WHERE length(text) > 0 AND i <= (length(text) - 1) // 64""".stripMargin,
    "regexp_funcs" ->
      """SELECT event_id,
        |       regexp_extract(props, '"k": ([0-9]+)', 1) AS k_str,
        |       len(regexp_extract_all(props, '[0-9]+'))::BIGINT AS n_digit_runs,
        |       regexp_matches(props, '"k": [0-9]{2}') AS two_digit_k
        |FROM events""".stripMargin,
    "chunk_dedup" ->
      // word-aligned 10-word chunks; corpus-frequency >= 3 on the
      // md5-derived 60-bit chunk hash = boilerplate, dropped from every
      // doc; numbers-table bound derived from the longest document
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |c AS (SELECT doc_id, g.i AS pos,
        |             array_to_string(ws[g.i*10+1 : g.i*10+10], ' ') AS chunk
        |      FROM w, (SELECT unnest(range(0, (SELECT CAST(ceil(max(len(string_split(text, ' '))) / 10.0) AS BIGINT)
        |                                       FROM documents))) AS i) g
        |      WHERE g.i*10 < len(ws)),
        |h AS (SELECT doc_id, pos, chunk,
        |             ('0x' || substr(md5(chunk), 1, 15))::BIGINT AS hh FROM c),
        |cnt AS (SELECT hh, count(*) AS n FROM h GROUP BY 1)
        |SELECT doc_id,
        |       coalesce(string_agg(chunk, ' ' ORDER BY pos) FILTER (WHERE n < 3), '') AS clean_text,
        |       count(*)::BIGINT AS n_chunks,
        |       (count(*) FILTER (WHERE n >= 3))::BIGINT AS n_dropped
        |FROM h JOIN cnt USING (hh)
        |GROUP BY doc_id""".stripMargin,
    "substring_spans" ->
      // duplicated-8-gram windows (corpus-wide count >= 2 on the
      // md5-derived 60-bit window hash) merged per doc into maximal
      // spans via gaps-and-islands; word offsets, span_end exclusive
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, n.i AS pos,
        |             array_to_string(ws[n.i+1 : n.i+8], ' ') AS gram
        |      FROM w, (SELECT unnest(range(0, (SELECT max(len(string_split(text, ' ')))
        |                                       FROM documents))) AS i) n
        |      WHERE n.i + 8 <= len(ws)),
        |h AS (SELECT doc_id, pos,
        |             ('0x' || substr(md5(gram), 1, 15))::BIGINT AS hh FROM g),
        |dup AS (SELECT hh FROM h GROUP BY hh HAVING count(*) >= 2),
        |f AS (SELECT doc_id, pos, pos + 8 AS e FROM h JOIN dup USING (hh)),
        |isl AS (SELECT doc_id, pos, e,
        |               CASE WHEN pos > coalesce(max(e) OVER (
        |                      PARTITION BY doc_id ORDER BY pos
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |                    THEN 1 ELSE 0 END AS ni
        |        FROM f),
        |isl2 AS (SELECT doc_id, pos, e,
        |                sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |         FROM isl)
        |SELECT doc_id, min(pos)::BIGINT AS span_start, max(e)::BIGINT AS span_end,
        |       (max(e) - min(pos))::BIGINT AS span_words
        |FROM isl2 GROUP BY doc_id, island""".stripMargin,
    "substring_cut" ->
      // the same span derivation, then per-word excision: a word is cut
      // when some merged span covers its 0-based position (span_end
      // exclusive); surviving words reassemble in position order
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, n.i AS pos,
        |             array_to_string(ws[n.i+1 : n.i+8], ' ') AS gram
        |      FROM w, (SELECT unnest(range(0, (SELECT max(len(string_split(text, ' ')))
        |                                       FROM documents))) AS i) n
        |      WHERE n.i + 8 <= len(ws)),
        |h AS (SELECT doc_id, pos,
        |             ('0x' || substr(md5(gram), 1, 15))::BIGINT AS hh FROM g),
        |dup AS (SELECT hh FROM h GROUP BY hh HAVING count(*) >= 2),
        |f AS (SELECT doc_id, pos, pos + 8 AS e FROM h JOIN dup USING (hh)),
        |isl AS (SELECT doc_id, pos, e,
        |               CASE WHEN pos > coalesce(max(e) OVER (
        |                      PARTITION BY doc_id ORDER BY pos
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |                    THEN 1 ELSE 0 END AS ni
        |        FROM f),
        |isl2 AS (SELECT doc_id, pos, e,
        |                sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |         FROM isl),
        |sp AS (SELECT doc_id, min(pos) AS s, max(e) AS e
        |       FROM isl2 GROUP BY doc_id, island),
        |words AS (SELECT doc_id, n.i AS pos, ws[n.i+1] AS word
        |          FROM w, (SELECT unnest(range(0, (SELECT max(len(ws)) FROM w))) AS i) n
        |          WHERE n.i < len(ws)),
        |kept AS (SELECT wd.doc_id, wd.pos, wd.word
        |         FROM words wd LEFT JOIN sp ON wd.doc_id = sp.doc_id
        |              AND wd.pos >= sp.s AND wd.pos < sp.e
        |         WHERE sp.doc_id IS NULL),
        |ka AS (SELECT doc_id, array_to_string(list(word ORDER BY pos), ' ') AS ct,
        |              count(*)::BIGINT AS nk FROM kept GROUP BY doc_id)
        |SELECT w.doc_id, coalesce(ka.ct, '') AS clean_text,
        |       coalesce(ka.nk, 0)::BIGINT AS n_words_kept,
        |       (len(w.ws) - coalesce(ka.nk, 0))::BIGINT AS n_words_cut
        |FROM w LEFT JOIN ka USING (doc_id)""".stripMargin,
    "pii_redact" ->
      // patterns restricted to the Java-regex ∩ RE2 common dialect;
      // DuckDB regexp_replace needs the 'g' flag to match Spark's
      // replace-all semantics
      // counts are taken on the text as the earlier passes left it
      // (never double-reporting a match an earlier pattern consumed) —
      // mirroring TextStats.redactPii exactly
      """WITH t AS (
        |  SELECT doc_id,
        |         text || ' contact u' || doc_id || '@example.com via +1555000'
        |              || (doc_id % 90 + 10) || ' from 10.0.' || (doc_id % 256) || '.7' AS text
        |  FROM documents),
        |e AS (SELECT doc_id, text,
        |             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS t1
        |      FROM t),
        |i AS (SELECT doc_id, text, t1,
        |             regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS t2
        |      FROM e)
        |SELECT doc_id,
        |       regexp_replace(t2, '\+\d{8,15}', '[PHONE]', 'g') AS redacted,
        |       len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
        |       len(regexp_extract_all(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ips,
        |       len(regexp_extract_all(t2, '\+\d{8,15}'))::BIGINT AS n_phones
        |FROM i""".stripMargin,
    "set_except_all" ->
      """WITH v AS (SELECT user_id, ts::DATE AS event_date FROM events
        |           WHERE event_type = 'view'),
        |p AS (SELECT user_id, ts::DATE AS event_date FROM events
        |      WHERE event_type = 'purchase'),
        |d AS (SELECT * FROM v EXCEPT ALL SELECT * FROM p)
        |SELECT user_id, event_date, count(*) AS n_surplus
        |FROM d GROUP BY 1, 2""".stripMargin,
    "listagg_top_parts" ->
      """WITH ranked AS (
        |  SELECT p_brand, p_name,
        |         row_number() OVER (PARTITION BY p_brand
        |                            ORDER BY p_retailprice DESC, p_partkey) AS rn
        |  FROM part)
        |SELECT p_brand, string_agg(p_name, ',' ORDER BY rn) AS top_parts
        |FROM ranked WHERE rn <= 3 GROUP BY p_brand""".stripMargin,
    "sessionize" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS time_us FROM events),
        |m AS (SELECT user_id, event_id, time_us,
        |             CASE WHEN lag(time_us) OVER w IS NULL
        |                    OR time_us - lag(time_us) OVER w > 1800000000
        |                  THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY time_us, event_id)),
        |s AS (SELECT user_id, time_us,
        |             (sum(new_s) OVER (PARTITION BY user_id ORDER BY time_us, event_id
        |                               ROWS UNBOUNDED PRECEDING))::BIGINT AS session_id
        |      FROM m)
        |SELECT user_id, session_id, min(time_us) AS session_start_us,
        |       count(*) AS n_events, (max(time_us) - min(time_us)) AS duration_us
        |FROM s GROUP BY user_id, session_id""".stripMargin,
    "funnel_conversion" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
        |v AS (SELECT user_id, min(t) AS t1 FROM e WHERE event_type = 'view'
        |      GROUP BY user_id),
        |c AS (SELECT e.user_id, min(t) AS t2 FROM e JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND t > t1 GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(t) AS t3 FROM e JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND t > t2 GROUP BY e.user_id)
        |SELECT (SELECT count(*) FROM v) AS n_view,
        |       (SELECT count(*) FROM c) AS n_view_click,
        |       (SELECT count(*) FROM p) AS n_full_funnel""".stripMargin,
    "retention_cohorts" ->
      """WITH e AS (SELECT user_id, ts::DATE AS d FROM events),
        |f AS (SELECT user_id, min(d) AS cohort_date FROM e GROUP BY user_id),
        |a AS (SELECT DISTINCT e.user_id, f.cohort_date,
        |             (e.d - f.cohort_date)::BIGINT AS day_offset
        |      FROM e JOIN f USING (user_id))
        |SELECT cohort_date, day_offset, count(*) AS n_users
        |FROM a GROUP BY 1, 2""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT floor((sum(l_extendedprice * l_discount)) * 1e2 + 0.5) / 1e2 AS revenue,
        |       count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.025 AND l_discount <= 0.075
        |  AND l_quantity < 24""".stripMargin,
    "q14_promo_share" ->
      """SELECT floor((100.0 * sum(CASE WHEN p_type = 'PROMO'
        |                              THEN l_extendedprice * (1 - l_discount)
        |                              ELSE 0.0 END) /
        |              sum(l_extendedprice * (1 - l_discount))) * 1e4 + 0.5) / 1e4
        |         AS promo_share
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-07-01'""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (SELECT l_orderkey, sum(l_quantity) AS sum_qty
        |             FROM lineitem GROUP BY l_orderkey
        |             HAVING sum(l_quantity) > 150)
        |SELECT c_custkey, o_orderkey, o_orderdate,
        |       floor(o_totalprice * 1e2 + 0.5) / 1e2 AS o_price, sum_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_price DESC, o_orderkey LIMIT 10""".stripMargin,
    "q19_disjunctive" ->
      """SELECT floor((sum(l_extendedprice * (1 - l_discount))) * 1e2 + 0.5) / 1e2
        |         AS revenue,
        |       count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
        |       AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
        |       AND l_quantity BETWEEN 20 AND 40)""".stripMargin,
    "above_avg_orders" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |       floor(sum(o_totalprice) * 1e2 + 0.5) / 1e2 AS sum_price
        |FROM orders o
        |WHERE o_totalprice > (SELECT avg(o2.o_totalprice) FROM orders o2
        |                      WHERE o2.o_custkey = o.o_custkey)
        |GROUP BY o_orderpriority""".stripMargin,
    "inverted_index" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS token
        |             FROM documents),
        |stats AS (SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
        |          FROM tok GROUP BY token),
        |dist AS (SELECT DISTINCT token, doc_id FROM tok),
        |ranked AS (SELECT token, doc_id,
        |                  row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
        |           FROM dist),
        |posts AS (SELECT token, string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS postings
        |          FROM ranked WHERE rn <= 10 GROUP BY token)
        |SELECT s.token, s.tf, s.df, p.postings
        |FROM stats s JOIN posts p ON s.token = p.token""".stripMargin,
    "phrase_search" ->
      // positional-postings join: term i anchors on (doc, pos - i);
      // single-space split so offsets match the substring/packing ops
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |pts AS (SELECT doc_id, n.i AS pos, ws[n.i+1] AS token
        |        FROM w, (SELECT unnest(range(0, (SELECT max(len(ws)) FROM w))) AS i) n
        |        WHERE n.i < len(ws))
        |SELECT a.doc_id, count(*)::BIGINT AS n_occurrences
        |FROM (SELECT doc_id, pos AS p0 FROM pts WHERE token = 'data') a
        |JOIN (SELECT doc_id, pos - 1 AS p0 FROM pts WHERE token = 'table') b
        |  USING (doc_id, p0)
        |GROUP BY a.doc_id""".stripMargin,
    "quality_lr_train" -> graft.ext.Classifier.trainOracleSql(),
    "quality_lr_score" -> graft.ext.Classifier.scoreOracleSql(),
    "quality_lr_bigram" -> graft.ext.Classifier.scoreOracleSql(bigrams = true),
    "kmeans_centroids" -> graft.ext.Similarity.kmeansOracleSql(k = 8, iters = 3),
    "ivf_probe_kmeans" -> graft.ext.Similarity.ivfKmeansProbeOracleSql(),
    "pq_codes" -> graft.ext.Similarity.pqCodesOracleSql(dim = 64, m = 4, ksub = 16),
    "pq_adc_topk" -> graft.ext.Similarity.pqAdcOracleSql(dim = 64, m = 4, ksub = 16),
    "pq_rerank_topk" -> graft.ext.Similarity.pqOracleSql(dim = 64, m = 4, ksub = 16),
    "ivf_pq_topk" -> graft.ext.Similarity.pqOracleSql(dim = 64, m = 4, ksub = 16, k = 8),
    "ivf_pq_residual" -> graft.ext.Similarity.pqOracleSql(dim = 64, m = 4, ksub = 16, k = 8, residual = true),
    "ivf_pq_batch" -> graft.ext.Similarity.pqOracleSql(dim = 64, m = 4, ksub = 16, k = 8, nQueries = 3),
    "ivf_pq_residual_batch" -> graft.ext.Similarity.pqOracleSql(dim = 64, m = 4, ksub = 16, k = 8, nQueries = 3, residual = true),
    "sq8_topk" -> graft.ext.Similarity.sq8OracleSql(dim = 64),
    "opq_topk" -> graft.ext.ExtQueries.opqOracleSqlLive(),
    "ivf_opq_topk" -> graft.ext.ExtQueries.ivfOpqOracleSqlLive(),
    "ivf_sq8_topk" -> graft.ext.Similarity.sq8OracleSql(dim = 64, k = 8),
    "bq_hamming_topk" -> graft.ext.Similarity.bqOracleSql(dim = 64),
    "sq8_batch" -> graft.ext.Similarity.sq8OracleSql(dim = 64, nQueries = 3),
    "ivf_sq8_batch" -> graft.ext.Similarity.sq8OracleSql(dim = 64, k = 8, nQueries = 3),
    "bq_hamming_batch" -> graft.ext.Similarity.bqOracleSql(dim = 64, nQueries = 3),
    "ivf_bq_topk" -> graft.ext.Similarity.bqOracleSql(dim = 64, k = 8),
    "ivf_bq_batch" -> graft.ext.Similarity.bqOracleSql(dim = 64, k = 8, nQueries = 3),
    "phrase_search3" ->
      // 3-term anchor-align: term i joins on (doc, pos - i)
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |pts AS (SELECT doc_id, n.i AS pos, ws[n.i+1] AS token
        |        FROM w, (SELECT unnest(range(0, (SELECT max(len(ws)) FROM w))) AS i) n
        |        WHERE n.i < len(ws))
        |SELECT a.doc_id, count(*)::BIGINT AS n_occurrences
        |FROM (SELECT doc_id, pos AS p0 FROM pts WHERE token = 'window') a
        |JOIN (SELECT doc_id, pos - 1 AS p0 FROM pts WHERE token = 'fast') b
        |  USING (doc_id, p0)
        |JOIN (SELECT doc_id, pos - 2 AS p0 FROM pts WHERE token = 'query') c
        |  USING (doc_id, p0)
        |GROUP BY a.doc_id""".stripMargin,
    "phrase_search_rep" ->
      // repeated-token phrase: overlapping occurrences count ("a a a"
      // contains "a a" twice — standard positional-postings semantics)
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |pts AS (SELECT doc_id, n.i AS pos, ws[n.i+1] AS token
        |        FROM w, (SELECT unnest(range(0, (SELECT max(len(ws)) FROM w))) AS i) n
        |        WHERE n.i < len(ws))
        |SELECT a.doc_id, count(*)::BIGINT AS n_occurrences
        |FROM (SELECT doc_id, pos AS p0 FROM pts WHERE token = 'sort') a
        |JOIN (SELECT doc_id, pos - 1 AS p0 FROM pts WHERE token = 'sort') b
        |  USING (doc_id, p0)
        |GROUP BY a.doc_id""".stripMargin,
    "bm25_topk" ->
      """WITH dl AS (SELECT doc_id, len(regexp_split_to_array(text, '\s+'))::BIGINT AS dl
        |            FROM documents),
        |corpus AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
        |tok AS (SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS token
        |        FROM documents),
        |qtok AS (SELECT doc_id, token FROM tok WHERE token IN ('the', 'of', 'and')),
        |dft AS (SELECT token, count(DISTINCT doc_id)::DOUBLE AS df FROM qtok GROUP BY token),
        |tft AS (SELECT doc_id, token, count(*)::DOUBLE AS tf FROM qtok GROUP BY doc_id, token),
        |scored AS (
        |  SELECT t.doc_id,
        |         sum(ln(1 + (c.n - d.df + 0.5) / (d.df + 0.5)) *
        |             (t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / c.avgdl))) AS s
        |  FROM tft t
        |  JOIN dft d ON t.token = d.token
        |  JOIN dl l ON t.doc_id = l.doc_id
        |  CROSS JOIN corpus c
        |  GROUP BY t.doc_id)
        |SELECT doc_id, floor(s * 1e4 + 0.5) / 1e4 AS score
        |FROM scored ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "bigram_logprob" ->
      // add-one-smoothed transitions p(w2|w1) = (c(w1,w2)+1)/(c(w1)+V);
      // single-space split to match the word-position operators; docs
      // with <2 words keep a row with 0 bigrams and null NLL
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |bg AS (SELECT doc_id, ws[n.i+1] AS w1, ws[n.i+2] AS w2
        |       FROM w, (SELECT unnest(range(0, (SELECT max(len(ws)) FROM w))) AS i) n
        |       WHERE n.i + 2 <= len(ws)),
        |cp AS (SELECT w1, w2, count(*) AS cp FROM bg GROUP BY 1, 2),
        |cl AS (SELECT w1, count(*) AS cl FROM bg GROUP BY 1),
        |v AS (SELECT count(DISTINCT word)::BIGINT AS v FROM (
        |  SELECT unnest(ws) AS word FROM w)),
        |sc AS (SELECT bg.doc_id, count(*)::BIGINT AS n_bigrams,
        |              floor(avg(-ln((cp.cp + 1)::DOUBLE / (cl.cl + v.v)::DOUBLE)) * 1e4 + 0.5) / 1e4 AS mean_nll
        |       FROM bg JOIN cp USING (w1, w2) JOIN cl USING (w1) CROSS JOIN v
        |       GROUP BY bg.doc_id)
        |SELECT w.doc_id, coalesce(sc.n_bigrams, 0)::BIGINT AS n_bigrams, sc.mean_nll
        |FROM w LEFT JOIN sc USING (doc_id)""".stripMargin,
    "unigram_logprob" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS token
        |             FROM documents),
        |cnt AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
        |tot AS (SELECT sum(c)::DOUBLE AS t FROM cnt)
        |SELECT tok.doc_id, count(*)::BIGINT AS n_tokens,
        |       floor(avg(-ln(cnt.c::DOUBLE / tot.t)) * 1e4 + 0.5) / 1e4 AS mean_nll
        |FROM tok JOIN cnt ON tok.token = cnt.token CROSS JOIN tot
        |GROUP BY tok.doc_id""".stripMargin,
    "quality_lang_gate" ->
      s"""WITH q AS (SELECT doc_id, lang, $QualityExpr AS quality FROM documents),
         |thr AS (SELECT lang,
         |               floor(quantile_cont(quality, 0.7) * 1e4 + 0.5) / 1e4 AS t
         |        FROM q GROUP BY lang)
         |SELECT q.doc_id, q.lang, q.quality
         |FROM q JOIN thr ON q.lang = thr.lang
         |WHERE q.quality >= thr.t""".stripMargin,
    "shard_assign" ->
      """SELECT ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 16 AS shard,
        |       count(*) AS n_docs,
        |       sum(n_chars)::BIGINT AS sum_n_chars,
        |       sum(doc_id)::BIGINT AS sum_doc_id
        |FROM documents GROUP BY 1""".stripMargin,
    "source_caps" ->
      s"""WITH q AS (SELECT doc_id, source, $QualityExpr AS quality FROM documents),
         |r AS (SELECT doc_id, source, quality,
         |             row_number() OVER (PARTITION BY source
         |                                ORDER BY quality DESC, doc_id) AS rank
         |      FROM q)
         |SELECT doc_id, source, quality, rank FROM r WHERE rank <= 15""".stripMargin,
    "mixture_sample" ->
      // token-budget mixture: per-source running token total in id-hash
      // order, cut at the source's budget (even-numbered sources 600,
      // odd 300) — integer-exact end to end
      """WITH t AS (SELECT doc_id, source,
        |    len(string_split(text, ' '))::BIGINT AS n_tokens,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT AS h
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_tokens
        |  FROM t)
        |SELECT doc_id, source, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= CASE WHEN substr(source, 4)::INT % 2 = 0
        |                         THEN 600 ELSE 300 END""".stripMargin,
    "dsir_weights" -> (DsirWeightsSql + DsirWeightsSelect),
    "dsir_weights_bigram" -> (DsirWeightsBigramSql + DsirWeightsSelect),
    "dsir_sample" ->
      (DsirWeightsSql +
        """, w AS (""" + DsirWeightsSelect + """)
          |SELECT doc_id, dsir_w,
          |  floor((dsir_w - ln(-ln(((('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT + 0.5) / 4294967296.0)))) * 1e6 + 0.5) / 1e6 AS gumbel_key
          |FROM w ORDER BY gumbel_key DESC, doc_id LIMIT 50""".stripMargin),
    "char_entropy" ->
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
        |cc AS (SELECT doc_id, ch, count(*)::DOUBLE AS c FROM ch GROUP BY doc_id, ch)
        |SELECT doc_id,
        |       floor((log2(sum(c)) - sum(c * log2(c)) / sum(c)) * 1e4 + 0.5) / 1e4
        |         AS entropy_bits
        |FROM cc GROUP BY doc_id""".stripMargin,
    "vocab_zipf" ->
      """WITH tok AS (SELECT unnest(regexp_split_to_array(text, '\s+')) AS token
        |             FROM documents),
        |cnt AS (SELECT token, count(*) AS freq FROM tok GROUP BY token),
        |r AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, token) AS rank
        |      FROM cnt)
        |SELECT count(*) AS n_terms,
        |       floor(regr_slope(ln(freq), ln(rank)) * 1e4 + 0.5) / 1e4 AS zipf_slope
        |FROM r""".stripMargin,
    "dedup_reps" ->
      s"""WITH RECURSIVE $NearDupPairCtes,
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM verified
         |          UNION SELECT doc_b, doc_a FROM verified),
         |reach(a, b) AS (SELECT a, b FROM edges
         |                UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |comps AS (SELECT a AS doc_id, least(a, min(b)) AS comp FROM reach GROUP BY a)
         |SELECT c.comp AS rep_doc, count(*) AS n_members,
         |       sum(CASE WHEN c.doc_id <> c.comp THEN d.n_chars ELSE 0 END)::BIGINT
         |         AS n_chars_pruned
         |FROM comps c JOIN documents d ON c.doc_id = d.doc_id
         |GROUP BY c.comp""".stripMargin,
    "dedup_reps_quality" ->
      s"""WITH RECURSIVE $NearDupPairCtes,
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM verified
         |          UNION SELECT doc_b, doc_a FROM verified),
         |reach(a, b) AS (SELECT a, b FROM edges
         |                UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |comps AS (SELECT a AS doc_id, least(a, min(b)) AS comp FROM reach GROUP BY a),
         |members AS (SELECT c.comp, c.doc_id, d.n_chars, $QualityExpr AS quality
         |            FROM comps c JOIN documents d ON c.doc_id = d.doc_id),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY comp
         |             ORDER BY quality DESC, doc_id ASC) AS rn FROM members),
         |sums AS (SELECT comp, count(*) AS n_members, sum(n_chars) AS total
         |         FROM members GROUP BY comp)
         |SELECT r.doc_id AS rep_doc, r.quality AS rep_quality, s.n_members,
         |       (s.total - r.n_chars)::BIGINT AS n_chars_pruned
         |FROM ranked r JOIN sums s USING (comp) WHERE r.rn = 1""".stripMargin,
    "semdedup_prune" ->
      """WITH cand AS (SELECT a.vec_id AS va, b.vec_id AS vb
        |              FROM embeddings a JOIN embeddings b
        |                ON a.label = b.label AND a.vec_id < b.vec_id),
        |cdims AS (SELECT c.va, c.vb,
        |                 ea.embedding[i.i]::DOUBLE AS x, eb.embedding[i.i]::DOUBLE AS y
        |          FROM cand c
        |          JOIN embeddings ea ON ea.vec_id = c.va
        |          JOIN embeddings eb ON eb.vec_id = c.vb,
        |               (SELECT unnest(range(1, 65)) AS i) i),
        |pruned AS (SELECT DISTINCT vb FROM (
        |             SELECT va, vb FROM cdims
        |             GROUP BY va, vb
        |             HAVING floor((sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))))
        |                          * 1e6 + 0.5) / 1e6 >= 0.3))
        |SELECT e.vec_id, e.label, (p.vb IS NOT NULL) AS pruned
        |FROM embeddings e LEFT JOIN pruned p ON e.vec_id = p.vb""".stripMargin,
  )
}
