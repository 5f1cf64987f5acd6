package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps every implemented operator from SURVEY.md §2 to a
  * DataFrame program; `oracleSql` maps the same key to DuckDB SQL the driver
  * runs over the same parquet tables. Column names and float rounding are
  * kept identical on both sides (SURVEY.md §6).
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the full reference pipeline end to end: events → OHLC bars →
    * rolling CCI → crossover signals → grid trade simulation → strategy
    * aggregation → best-condition-per-series tables. */
  def entry(spark: SparkSession): DataFrame =
    CciPipeline.bestOf(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (Relational.q01PricingSummary _),
    "q02_filter_project" -> (Relational.q02FilterProject _),
    "q03_shipping_priority" -> (Relational.q03ShippingPriority _),
    "q05_local_supplier" -> (Relational.q05LocalSupplier _),
    "q06_forecast_revenue" -> (Relational.q06ForecastRevenue _),
    "q07_semi_join" -> (Relational.q07SemiJoin _),
    "q08_anti_join" -> (Relational.q08AntiJoin _),
    "q09_rollup" -> (Relational.q09Rollup _),
    "q10_window_rank" -> (Relational.q10WindowRank _),
    "q11_running_sum" -> (Relational.q11RunningSum _),
    "q12_distinct_topk" -> (Relational.q12DistinctTopk _),
    "q13_quantiles" -> (Relational.q13Quantiles _),
    "q14_cross_ref" -> (Relational.q14CrossRef _),
    "r01_symbol_dim" -> (CciPipeline.symbolDim _),
    "r02_ohlc_bars" -> (CciPipeline.ohlcBarsQuery _),
    "r03_upsert_keep_last" -> (CciPipeline.upsertKeepLast _),
    "r48_item_chart" -> (CciPipeline.itemChartQuery _),
    "r04_cci" -> (CciPipeline.cciQuery _),
    "r05_signals" -> (CciPipeline.signalsQuery _),
    "r06_trade_sim" -> (CciPipeline.tradesQuery _),
    "r07_strategy_agg" -> (CciPipeline.strategyAggQuery _),
    "r08_best_of" -> (CciPipeline.bestOf _),
    "r09_recommendations" -> (CciPipeline.recommendations _),
    "r10_candidate_filter" -> (CciPipeline.candidateFilter _),
    "r11_net_revenue" -> (CciPipeline.netRevenue _),
    "d01_dedup_exact" -> (graft.dedup.Dedup.exact _),
    "d02_dedup_ngram_jaccard" -> (graft.dedup.Dedup.ngramJaccard _),
    "d03_dedup_minhash_lsh" -> (graft.dedup.Dedup.minhashLsh _),
    "d04_dedup_simhash" -> (graft.dedup.Dedup.simhash _),
    "d05_dedup_embedding" -> (graft.dedup.Dedup.embeddingCosine _),
    "s01_ann_bruteforce" -> (graft.similarity.Similarity.bruteForceTopK _),
    "s02_ann_lsh" -> (graft.similarity.Similarity.lshTopK _),
    "t01_token_count" -> (TextAnalysis.tokenCount _),
    "t02_quality_score" -> (TextAnalysis.qualityScore _),
    "t03_lang_id" -> (TextAnalysis.langId _),
    "t04_fingerprint" -> (TextAnalysis.fingerprint _),
    "m01_multimodal_meta" -> (graft.multimodal.Multimodal.mediaMeta _),
    "v01_sessionize" -> (graft.streaming.EventStream.sessionize _),
    "q15_pivot" -> (Extras.pivotCounts _),
    "q16_json_extract" -> (Extras.jsonExtract _),
    "q17_range_window" -> (Extras.rangeWindow _),
    "r12_csv_roundtrip" -> (Extras.csvRoundtrip _),
    "q18_typed_agg" -> (Typed.typedStats _),
    "a01_approx_sketches" -> (Typed.approxSketches _),
    "q19_correlated_avg" -> (Extras.correlatedAvg _),
    "r13_order_lifecycle" -> (CciPipeline.orderLifecycle _),
    "s03_ann_ivf" -> (graft.similarity.Similarity.ivfTopK _),
    "q20_ntile" -> (Extras.ntileBuckets _),
    "q21_cube" -> (Extras.cubeAgg _),
    "p01_profile" -> (Extras.profileColumns _),
    "r14_json_roundtrip" -> (Extras.jsonRoundtrip _),
    "q22_asof_join" -> (Extras.asofJoin _),
    "ml01_trade_features" -> (graft.ml.Features.tradeFeaturesQuery _),
    "ml02_win_model" -> (graft.ml.Features.trainWinModel _),
    "ml03_kmeans_cells" -> ((s: org.apache.spark.sql.SparkSession, d: String) => graft.ml.Features.kmeansCells(s, d)),
    "r15_history_filter" -> (CciPipeline.historyFilter _),
    "p02_train_test_split" -> (Extras.trainTestSplit _),
    "q23_set_ops" -> (Extras.setOps _),
    "d06_fuzzy_levenshtein" -> (graft.dedup.Dedup.fuzzyLevenshtein _),
    "r16_partitioned_sink" -> (Extras.partitionedSink _),
    "r17_incremental_merge" -> (Extras.incrementalMerge _),
    "q24_time_dims" -> (Extras.timeDims _),
    "r18_order_reconcile" -> (CciPipeline.orderReconcile _),
    "r19_latest_snapshot" -> (Extras.latestSnapshot _),
    "r20_history_grid_sim" -> (CciPipeline.tradesHistoryGrid _),
    "r21_fetch_watermark" -> (CciPipeline.fetchWatermark _),
    "d07_dedup_clusters" -> (graft.dedup.Dedup.dedupClusters _),
    "d08_dedup_incremental" -> (graft.dedup.Dedup.incrementalDedup _),
    "d09_dedup_embedding_ivf" -> (graft.similarity.Similarity.embeddingDedupIvf _),
    "t05_vocab" -> (TextAnalysis.vocab _),
    "t06_decontaminate" -> (TextAnalysis.decontaminate _),
    "t11_decontaminate_fuzzy" -> (TextAnalysis.decontaminateFuzzy _),
    // t12: PII scrub — deterministic in-query contamination, then regex
    // detect + redact; pure projection pass (no shuffle before the sort)
    "t12_pii_redact" -> (TextAnalysis.piiRedact _),
    "t07_bigram_lm" -> (TextAnalysis.bigramLm _),
    // t17: interpolated Kneser-Ney bigram model — discounted observed
    // mass + continuation-probability backoff, all from three
    // type-table-scale partial-aggregable passes; spec proves the exact
    // normalization identity over the continuation vocabulary
    "t17_kneser_ney" -> (TextAnalysis.knBigram _),
    "p03_curated_corpus" -> (Curation.curatedCorpus _),
    "r22_trading_calendar" -> (CciPipeline.tradingCalendar _),
    "r24_orc_roundtrip" -> (Extras.orcRoundtrip _),
    "r25_scd2_dimension" -> (CciPipeline.scd2Bands _),
    "q25_grouping_sets" -> (Extras.groupingSets _),
    "p04_sequence_pack" -> (Curation.sequencePack _),
    "p05_stratified_sample" -> (Curation.stratifiedSample _),
    "m02_payload_features" -> (graft.multimodal.Multimodal.payloadFeatures _),
    "m03_frame_sample" -> (graft.multimodal.Multimodal.frameSamples _),
    "s04_ann_ivf_trained" -> (graft.similarity.Similarity.ivfTrainedTopK _),
    "t08_repetition" -> (TextAnalysis.repetitionScore _),
    "p06_domain_mix" -> (Curation.domainMix _),
    "r23_run_digest" -> (CciPipeline.runDigest _),
    "r26_position_ledger" -> (CciPipeline.positionLedger _),
    "t09_lm_score" -> (TextAnalysis.lmScore _),
    "q26_large_orders" -> (Relational.q26LargeOrders _),
    "p07_corpus_report" -> (Curation.corpusReport _),
    "q27_cheapest_supplier" -> (Relational.q27CheapestSupplier _),
    "m04_media_report" -> (graft.multimodal.Multimodal.mediaReport _),
    "d10_dedup_normalized" -> (graft.dedup.Dedup.normalizedDedup _),
    "d11_span_dedup" -> (graft.dedup.Dedup.spanDedup _),
    "d12_dedup_substring" -> (graft.dedup.Dedup.substringRewrite _),
    "d13_dedup_bloom" -> (graft.dedup.Dedup.bloomDedup _),
    "q04_order_priority" -> (Relational.q04OrderPriority _),
    "q28_waiting_suppliers" -> (Relational.q28WaitingSuppliers _),
    "q29_market_share" -> (Relational.q29MarketShare _),
    "q30_volume_shipping" -> (TpchMore.q30VolumeShipping _),
    "q31_custdist" -> (TpchMore.q31CustDist _),
    "q32_promo_share" -> (TpchMore.q32PromoShare _),
    "q33_parts_supplier" -> (TpchMore.q33PartsSupplier _),
    "q34_disjunctive" -> (TpchMore.q34Disjunctive _),
    "q35_global_sales" -> (TpchMore.q35GlobalSales _),
    "q36_returned_items" -> (TpchMore.q36ReturnedItems _),
    "q37_top_supplier" -> (TpchMore.q37TopSupplier _),
    "q38_nation_profit" -> (TpchMore.q38NationProfit _),
    "q39_promo_suppliers" -> (TpchMore.q39PromoSuppliers _),
    "q40_late_by_class" -> (TpchMore.q40LateByClass _),
    "t10_tfidf" -> (TextAnalysis.tfidfTopTerms _),
    // r27: file-layout maintenance — sizes are environment-dependent, so
    // rows-only (the spec asserts the planner contract + row parity)
    "r27_compaction" -> (Compaction.compactionReport _),
    // ml04: ALS factors are optimizer state, not SQL-expressible -> rows-only
    "ml04_als_recommend" -> (graft.ml.Features.alsRecommend _),
    "m05_binary_ingest" -> (graft.multimodal.Multimodal.binaryIngest _),
    "q41_funnel" -> (EventAnalytics.funnel _),
    "q42_retention" -> (EventAnalytics.retention _),
    "q43_trade_rank" -> (GraphRank.tradeRank _),
    // q43b: the large-domain rank-vector layout (rankPartitions = 8) —
    // layout-independent output, gated on the SAME oracle as q43
    "q43b_trade_rank_part" -> (GraphRank.tradeRankPartitioned _),
    // q44: interval-overlap concurrency via sweep-line deltas — the range
    // join Spark lacks, answered with one groupBy(day) + a dimension-scale
    // cumsum; oracle is the independent naive non-equi join
    "q44_interval_concurrency" -> (Intervals.intervalConcurrency _),
    // q48: general pairwise range join (bin bucketing + point-side salt);
    // q44's sweep-line covers the decomposable aggregate family, q48 the
    // pair-payload family (argmax over covering intervals)
    "q48_range_join" -> (Intervals.rangeJoin _),
    // q49: interval×interval overlap join — meet-once bin assignment
    // (pair credited only in the bin of max(s1,s2)) replaces a dedup pass
    "q49_interval_join" -> (Intervals.intervalJoin _),
    // r40: file-level min/max zone-map skipping on a non-partition column
    // over a range-clustered layout (Delta/Iceberg data skipping with
    // plain parquet + a metadata table); oracle is the full-scan filter
    "r40_zonemap_skip" -> (ZoneMap.zonemapSkip _),
    // r46: 2-D Z-ORDER layout (Morton-interleaved rank buckets) + a
    // two-column zone map, so a conjunctive band prunes on BOTH columns
    "r46_zorder_skip" -> (ZoneMap.zorderSkip _),
    // r47: the same 2-D band answered through the PLANNER-integrated
    // zone-map FileIndex — the query is the naive filter spelling and
    // the skip happens in listFiles at planning time; same oracle as r46
    "r47_zonemap_planner" -> (ZoneMap.zorderPlanned _),
    "r28_schema_evolution" -> (Extras.schemaEvolution _),
    // s05: approximate by construction (PQ codes) -> rows-only; recall
    // vs the exact s01 baseline asserted in LlmOpsSpec
    "s05_ann_pq" -> (graft.similarity.Similarity.pqTopK _),
    "p08_curriculum" -> (Curation.curriculum _),
    "p09_temperature_sample" -> (Curation.temperatureSample _),
    // r29: the bounded-task chunked form of the flagship rolling CCI —
    // bit-equal to r04 by construction (shared rollingCci fold), checked
    // against the SAME oracle; chunkRows=64 forces multiple chunk
    // boundaries per series at sf0.01 so the context replication is
    // actually exercised under the driver gate
    "r29_cci_chunked" -> ((s: SparkSession, d: String) =>
      CciPipeline.cciChunkedQuery(s, d, 64)),
    // r30: the base-table + append-delta incremental recompute (work ∝
    // delta) — must be indistinguishable from the full r04 run, so it is
    // gated on r04's UNCHANGED oracle
    "r30_cci_incremental" -> (CciPipeline.cciIncrementalQuery _),
    // r31: the connector seam round-trip — r21's watermark drives the
    // local-file transport; the oracle re-derives the fetched suffix in SQL
    "r31_connector_fetch" -> (graft.sources.ConnectorFetch.connectorFetchQuery _),
    // r32: the composed daily orchestrated run (app.py execute_pipeline) —
    // bootstrap + one week of incremental trading-day runs over a persisted
    // workspace; the oracle recomputes every day's digest from the raw
    // events, proving the persisted incremental chain == full recompute
    "r32_daily_run" -> (graft.Daily.dailyRunQuery _),
    // r41: late-data repair — a truncated day's missing rows arrive, the
    // affected suffix is invalidated and replayed; the oracle is r32's,
    // because a correct repair is indistinguishable from never losing data
    "r41_daily_repair" -> (graft.Daily.dailyRepairQuery _),
    // r42: the paged feed as a first-class DataSourceV2 table — planning
    // via the symbol-list endpoint, ts-window + key pushdown to the wire,
    // column pruning, executor-side cursor paging
    "r42_dsv2_source" -> (graft.sources.Dsv2Fetch.dsv2FetchQuery _),
    // r43: order placement through the DSv2 SINK (two-phase staged pages,
    // driver publish, keep-last order_no upsert) and read back
    "r43_order_sink" -> (graft.sources.OrderSinkRoundtrip.orderSinkQuery _),
    // r33: market-index context series — the index bars' CCI broadcast
    // back per-symbol as relative strength (the last unmodeled reference
    // data surface, hankook get_index_daily_price)
    "r33_index_relative" -> (CciPipeline.indexRelative _),
    // r44: the category/sector index axis (hankook_api.py:174) — the r33
    // CCI fold on the category dimension
    "r44_index_category" -> (CciPipeline.indexCategory _),
    // r45: the per-key metadata probe patching the dim build
    // (hankook_api.py:223 via daily_function.py:252)
    "r45_stock_info" -> (graft.sources.StockInfo.stockInfoQuery _),
    // r34: the daily product's full buy→hold→sell lifecycle — positions
    // carried across run days, sells fired by target/stop/maturity; the
    // oracle replays every lot one-shot from the raw events
    "r34_daily_positions" -> (graft.Daily.dailyPositionsQuery _),
    // r35: the clock-driven scheduler (app.py setup_scheduler) as a
    // schedule-plan dimension — one row per (day, cron job) with the
    // firing instant and the trading-day fire-time gate
    "r35_schedule_plan" -> (Scheduler.schedulePlan _),
    // r36: the daily product's cash-balance carry — balance-driven order
    // sizing (get_stock_balance → 10%-slice/qty-1 rules), buys debit and
    // sells credit settlement day by day; the oracle replays the
    // feedback loop one-shot as a recursive day fold
    "r36_daily_balance" -> (graft.Daily.dailyBalanceQuery _),
    // r37: the sheet-upload display normalization (upload_to_google_sheet)
    // — schema-generic stringification with null/NaN/±inf -> '' rules,
    // deterministic special-value probes keep the gate non-vacuous
    "r37_export_format" -> (Extras.exportFormatQuery _),
    // r38: engine run telemetry (the monitor_resources analogue) — a
    // SparkListener digest of the flagship aggregation's jobs/tasks/
    // bytes; values are env-dependent -> rows-only, structure spec'd
    "r38_run_telemetry" -> (graft.Telemetry.telemetryQuery _),
    // r39: the run's Slack notification feed (slack_message.py seams) as
    // one auditable table — candidate count, per-candidate crossover
    // messages, buy count, end-of-run summary, numbers at fixed scale
    "r39_notify_feed" -> (Notify.notifyFeed _),
    // m06: perceptual-hash (dHash) image near-dup — real raster decode at
    // the boundary, banded Hamming candidates, d08-style per-doc verdicts
    "m06_image_phash" -> (graft.multimodal.Multimodal.imagePhash _),
    // m07: audio near-dup via a 31-bit energy-envelope gradient hash —
    // m06's perceptual dedup on the sound side; real PCM envelope at the
    // decode boundary (container layout can't touch the fingerprint),
    // SQL-replayable byte fallback on the text corpus, exact 8-bit
    // banding for Hamming <= 3
    "m07_audio_fingerprint" -> (graft.multimodal.Multimodal.audioFingerprint _),
    // s07: corpus-wide k-NN graph (every vector, mutual-kNN flag) on the
    // s03 IVF core — the SemDeDup/graph-ANN entry artifact
    "s07_knn_graph" -> (graft.similarity.Similarity.knnGraph _),
    "s07b_knn_graph_trained" -> (graft.similarity.Similarity.knnGraphTrained _),
    // d14: SemDeDup-style semantic clusters — components over the d05
    // embedding near-dup graph, canonical-per-cluster kept
    "d14_semantic_clusters" -> (graft.dedup.Dedup.semanticClusters _),
    // t13: multinomial naive-Bayes classifier (CCNet/fastText-style
    // filtering stage) — integer micro-log scoring for engine parity
    "t13_nb_classifier" -> (TextAnalysis.nbClassifier _),
    // p10: quality-weighted repetition schedule — multi-epoch training
    // order with exact global positions (data-constrained scaling knob)
    "p10_quality_repeat" -> (Curation.qualityRepeat _),
    // p13: weighted sampling without replacement per language — the
    // min-of-w-hashes form (exactly the successive-draw w_i/Σw law,
    // pure integer hashing, no libm) ranked through the native
    // graft_topk aggregate; w from p10's quality bands
    "p13_weighted_sample" -> (Curation.weightedSample _),
    // t14: distributed BPE tokenizer training — iterative argmax has no
    // single-query SQL form -> rows-only; reference-parity spec'd
    "t14_bpe_train" -> (TextAnalysis.bpeTrain _),
    // t16: distributed BPE ENCODE — t14's trained merge table applied
    // row-locally to the whole corpus (vocab broadcast in the closure,
    // per-task word cache, zero shuffles before the sort); rows-only
    // like t14 (iterative merges have no SQL form), stream parity vs an
    // independent in-memory encoder spec'd
    "t16_bpe_encode" -> (TextAnalysis.bpeEncode _),
    // t16b: the encode stream's conservation gate — the REAL distributed
    // encode runs, then n_chars + a poly hash of the reconstructed
    // character stream compare against DuckDB's independent derivation
    // from the raw text (round 16: the BPE family's first oracle row)
    "t16b_bpe_conservation" -> (TextAnalysis.bpeConservation _),
    // p11: content-addressed corpus manifest — the versioned-release
    // integrity record; one partial-aggregable scan
    "p11_corpus_manifest" -> (Curation.corpusManifest _),
    // s08: radius/threshold retrieval — everything closer than tau,
    // the recall-controlled mode top-k cannot express
    "s08_range_search" -> (graft.similarity.Similarity.rangeSearch _),
    // q45: ancestor closure of a parent-pointer hierarchy via pointer
    // doubling — the recursive CTE Spark lacks in O(log depth) rounds;
    // oracle is DuckDB's independent WITH RECURSIVE evaluation
    "q45_hierarchy_closure" -> (Hierarchy.hierarchyClosure _),
    // q46: top-k per group as a partial-aggregable native aggregate
    // (bounded heap, graft_topk) instead of the shuffle-everything
    // window-rank plan; the oracle IS the window formulation
    "q46_topk_pergroup" -> (TopK.q46TopkPergroup _),
    // q47: the NATIVE as-of join (logical node + strategy + sort-merge
    // physical operator) carrying the matched row's payload — one
    // co-partitioned merge pass instead of q22's window + join-back;
    // oracle is DuckDB's own ASOF LEFT JOIN
    "q47_asof_native" -> (AsOfNative.q47AsofNative _),
    // t15: RAG-ingestion document chunking — overlapping fixed token
    // windows with offsets; entirely row-local, no pre-sort shuffle
    "t15_doc_chunk" -> (TextAnalysis.docChunk _),
    // v14b: batch twin of the streaming chunk-ingest door — t15's
    // splitter + keep-first chunk-content dedup + per-source accounting
    "v14b_chunk_ingest" -> (graft.streaming.DocStream.chunkIngestBatch _),
    // p12: corpus snapshot diff as a manifest diff — two dimension-scale
    // manifests full-outer-joined into added/removed/changed/unchanged
    "p12_manifest_diff" -> (Curation.manifestDiff _),
    // ml05: FPGrowth market-basket itemsets (size <= 2) — the one MLlib
    // algorithm whose exact support counts a SQL oracle can pin
    "ml05_frequent_pairs" -> (graft.ml.Features.frequentPairs _),
    "p05b_stratified_presplit" -> (Curation.stratifiedSamplePresplitQuery _),
    // s05b: PQ serving with an external request batch (own id space) ->
    // rows-only like s05; rank-1 self-recall asserted in LlmOpsSpec
    "s05b_ann_pq_served" -> (graft.similarity.Similarity.pqServe _),
    // s06: the PERSISTED incremental IVF-PQ index — build to files, serve
    // by pruned read; approximate by construction -> rows-only, with
    // recall/append/persistence contracts spec-asserted
    "s06_ann_index" -> (graft.similarity.AnnIndex.indexedTopK _),
    "v02b_windowed_counts" -> (graft.streaming.EventStream.windowedCountsBatch _),
    "v04b_cohort_join" -> (graft.streaming.EventStream.streamStaticJoinBatch _),
    "v05b_distinct_events" -> (graft.streaming.EventStream.streamDedupBatch _),
    "v06b_dedup_ingest" -> (graft.streaming.DocStream.dedupIngestBatch _),
    "v07b_lsh_candidates" -> (graft.streaming.DocStream.lshCandidatesBatch _),
    // v13b: verified phash near-dup pair set — batch twin anchoring the
    // v13 streaming image-admission detector
    "v13b_phash_pairs" -> (graft.streaming.DocStream.phashPairsGated _),
    "v08b_attribution_join" -> (graft.streaming.EventStream.viewToPurchaseBatch _),
    "v11b_session_windows" -> (graft.streaming.EventStream.sessionWindowsBatchQuery _),
    // sql01-sql03: the pure-SQL surface — Spark side is a SQL string over
    // SqlSurface's registered views/functions, gated on the SAME oracles
    // as the Scala twins (q01 / t04 / r04)
    "sql01_pricing_via_sql" -> (SqlSurface.pricingSummaryViaSql _),
    "sql02_fingerprint_via_sql" -> (SqlSurface.fingerprintViaSql _),
    "sql03_cci_via_view" -> (SqlSurface.cciViaView _),
    // sql04: the DSv2 feed table queried through pure SQL over a temp
    // view — pushdown survives the view; gated on r42's oracle
    "sql04_dsv2_via_sql" -> (SqlSurface.dsv2ViaSql _),
    // sql05: the NATIVE as-of join through pure SQL (view over the
    // AsOfJoinPlan node); gated on q47's oracle
    "sql05_asof_via_sql" -> (SqlSurface.asofViaSql _),
    // sql06-sql08: the interval family through pure SQL — views over the
    // sweep-line / bin-join plans, so SQL-only clients inherit the
    // pinned-exchange geometry (never a nested-loop); gated on the
    // q44/q48/q49 naive-join oracles
    "sql06_intervals_via_sql" -> (SqlSurface.intervalConcurrencyViaSql _),
    "sql07_rangejoin_via_sql" -> (SqlSurface.rangeJoinViaSql _),
    "sql08_intervaljoin_via_sql" -> (SqlSurface.intervalJoinViaSql _),
    // sql09: r47's planner-side zone-map skipping from pure SQL — the
    // WHERE clause itself prunes the file listing; gated on r46's oracle
    "sql09_zorder_via_sql" -> (SqlSurface.zorderViaSql _),
    "sql10_itemchart_via_sql" -> (SqlSurface.itemChartViaSql _),
    // sql11: r48's chart window over the ts-clustered events layout —
    // the WHERE prunes the file listing through the LONG-zone (micros)
    // planner index; gated on r48's oracle
    "sql11_tschart_via_zonemap" -> (SqlSurface.tsChartViaZonemap _)
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" -> Relational.q01Sql,
    "q02_filter_project" -> Relational.q02Sql,
    "q03_shipping_priority" -> Relational.q03Sql,
    "q05_local_supplier" -> Relational.q05Sql,
    "q06_forecast_revenue" -> Relational.q06Sql,
    "q07_semi_join" -> Relational.q07Sql,
    "q08_anti_join" -> Relational.q08Sql,
    "q09_rollup" -> Relational.q09Sql,
    "q10_window_rank" -> Relational.q10Sql,
    "q11_running_sum" -> Relational.q11Sql,
    "q12_distinct_topk" -> Relational.q12Sql,
    "q13_quantiles" -> Relational.q13Sql,
    "q14_cross_ref" -> Relational.q14Sql,
    "r01_symbol_dim" -> CciPipeline.symbolDimSql,
    "r02_ohlc_bars" -> CciPipeline.ohlcBarsSql,
    "r03_upsert_keep_last" -> CciPipeline.upsertKeepLastSql,
    "r48_item_chart" -> CciPipeline.itemChartSql,
    "r04_cci" -> CciPipeline.cciSql,
    "r05_signals" -> CciPipeline.signalsSql,
    "r06_trade_sim" -> CciPipeline.tradesSql,
    "r07_strategy_agg" -> CciPipeline.strategyAggSql,
    "r08_best_of" -> CciPipeline.bestOfSql,
    "r09_recommendations" -> CciPipeline.recommendationsSql,
    "r10_candidate_filter" -> CciPipeline.candidateFilterSql,
    "r11_net_revenue" -> CciPipeline.netRevenueSql,
    "d01_dedup_exact" -> graft.dedup.Dedup.exactSql,
    "d02_dedup_ngram_jaccard" -> graft.dedup.Dedup.ngramJaccardSql,
    "d03_dedup_minhash_lsh" -> graft.dedup.Dedup.minhashLshSql,
    "d04_dedup_simhash" -> graft.dedup.Dedup.simhashSql,
    "d05_dedup_embedding" -> graft.dedup.Dedup.embeddingCosineSql,
    "s01_ann_bruteforce" -> graft.similarity.Similarity.bruteForceTopKSql,
    "s02_ann_lsh" -> graft.similarity.Similarity.lshTopKSql,
    "t01_token_count" -> TextAnalysis.tokenCountSql,
    "t02_quality_score" -> TextAnalysis.qualityScoreSql,
    "t03_lang_id" -> TextAnalysis.langIdSql,
    "t04_fingerprint" -> TextAnalysis.fingerprintSql,
    "t16b_bpe_conservation" -> TextAnalysis.bpeConservationSql,
    "m01_multimodal_meta" -> graft.multimodal.Multimodal.mediaMetaSql,
    "v01_sessionize" -> graft.streaming.EventStream.sessionizeSql,
    "q15_pivot" -> Extras.pivotCountsSql,
    "q16_json_extract" -> Extras.jsonExtractSql,
    "q17_range_window" -> Extras.rangeWindowSql,
    "r12_csv_roundtrip" -> Extras.csvRoundtripSql,
    "q18_typed_agg" -> Typed.typedStatsSql,
    // a01_approx_sketches: engine-specific sketches -> rows-only check
    "q19_correlated_avg" -> Extras.correlatedAvgSql,
    "r13_order_lifecycle" -> CciPipeline.orderLifecycleSql,
    "s03_ann_ivf" -> graft.similarity.Similarity.ivfTopKSql,
    "q20_ntile" -> Extras.ntileBucketsSql,
    "q21_cube" -> Extras.cubeAggSql,
    "p01_profile" -> Extras.profileColumnsSql,
    "r14_json_roundtrip" -> Extras.jsonRoundtripSql,
    "q22_asof_join" -> Extras.asofJoinSql,
    // ml01-ml03: MLlib estimators (scaler moments / LR optimizer / KMeans)
    // are not SQL-expressible -> rows-only checks; quality asserted in tests
    "r15_history_filter" -> CciPipeline.historyFilterSql,
    "p02_train_test_split" -> Extras.trainTestSplitSql,
    "q23_set_ops" -> Extras.setOpsSql,
    "d06_fuzzy_levenshtein" -> graft.dedup.Dedup.fuzzyLevenshteinSql,
    "r16_partitioned_sink" -> Extras.partitionedSinkSql,
    "r17_incremental_merge" -> Extras.incrementalMergeSql,
    "q24_time_dims" -> Extras.timeDimsSql,
    "r18_order_reconcile" -> CciPipeline.orderReconcileSql,
    "r19_latest_snapshot" -> Extras.latestSnapshotSql,
    "r20_history_grid_sim" -> CciPipeline.tradesHistoryGridSql,
    "r21_fetch_watermark" -> CciPipeline.fetchWatermarkSql,
    "d07_dedup_clusters" -> graft.dedup.Dedup.dedupClustersSql,
    "d08_dedup_incremental" -> graft.dedup.Dedup.incrementalDedupSql,
    "d09_dedup_embedding_ivf" -> graft.similarity.Similarity.embeddingDedupIvfSql,
    "t05_vocab" -> TextAnalysis.vocabSql,
    "t06_decontaminate" -> TextAnalysis.decontaminateSql,
    "t11_decontaminate_fuzzy" -> TextAnalysis.decontaminateFuzzySql,
    "t12_pii_redact" -> TextAnalysis.piiRedactSql,
    "t07_bigram_lm" -> TextAnalysis.bigramLmSql,
    "t17_kneser_ney" -> TextAnalysis.knBigramSql,
    "p03_curated_corpus" -> Curation.curatedCorpusSql,
    "r22_trading_calendar" -> CciPipeline.tradingCalendarSql,
    "r24_orc_roundtrip" -> Extras.orcRoundtripSql,
    "r25_scd2_dimension" -> CciPipeline.scd2BandsSql,
    "q25_grouping_sets" -> Extras.groupingSetsSql,
    "p04_sequence_pack" -> Curation.sequencePackSql,
    "p05_stratified_sample" -> Curation.stratifiedSampleSql,
    "m02_payload_features" -> graft.multimodal.Multimodal.payloadFeaturesSql,
    "m03_frame_sample" -> graft.multimodal.Multimodal.frameSamplesSql,
    "t08_repetition" -> TextAnalysis.repetitionScoreSql,
    "p06_domain_mix" -> Curation.domainMixSql,
    "r23_run_digest" -> CciPipeline.runDigestSql,
    "r26_position_ledger" -> CciPipeline.positionLedgerSql,
    "t09_lm_score" -> TextAnalysis.lmScoreSql,
    "q26_large_orders" -> Relational.q26Sql,
    "p07_corpus_report" -> Curation.corpusReportSql,
    "q27_cheapest_supplier" -> Relational.q27Sql,
    "m04_media_report" -> graft.multimodal.Multimodal.mediaReportSql,
    "d10_dedup_normalized" -> graft.dedup.Dedup.normalizedDedupSql,
    "d11_span_dedup" -> graft.dedup.Dedup.spanDedupSql,
    "d12_dedup_substring" -> graft.dedup.Dedup.substringRewriteSql,
    "d13_dedup_bloom" -> graft.dedup.Dedup.bloomDedupSql,
    "q04_order_priority" -> Relational.q04Sql,
    "q28_waiting_suppliers" -> Relational.q28Sql,
    "q29_market_share" -> Relational.q29Sql,
    "q30_volume_shipping" -> TpchMore.q30Sql,
    "q31_custdist" -> TpchMore.q31Sql,
    "q32_promo_share" -> TpchMore.q32Sql,
    "q33_parts_supplier" -> TpchMore.q33Sql,
    "q34_disjunctive" -> TpchMore.q34Sql,
    "q35_global_sales" -> TpchMore.q35Sql,
    "q36_returned_items" -> TpchMore.q36Sql,
    "q37_top_supplier" -> TpchMore.q37Sql,
    "q38_nation_profit" -> TpchMore.q38Sql,
    "q39_promo_suppliers" -> TpchMore.q39Sql,
    "q40_late_by_class" -> TpchMore.q40Sql,
    "t10_tfidf" -> TextAnalysis.tfidfTopTermsSql,
    "m05_binary_ingest" -> graft.multimodal.Multimodal.binaryIngestSql,
    "q41_funnel" -> EventAnalytics.funnelSql,
    "q42_retention" -> EventAnalytics.retentionSql,
    "q43_trade_rank" -> GraphRank.tradeRankSql,
    "q43b_trade_rank_part" -> GraphRank.tradeRankSql,
    "q44_interval_concurrency" -> Intervals.intervalConcurrencySql,
    "q48_range_join" -> Intervals.rangeJoinSql,
    "q49_interval_join" -> Intervals.intervalJoinSql,
    "r40_zonemap_skip" -> ZoneMap.zonemapSkipSql,
    "r46_zorder_skip" -> ZoneMap.zorderSkipSql,
    "r47_zonemap_planner" -> ZoneMap.zorderSkipSql,
    "r28_schema_evolution" -> Extras.schemaEvolutionSql,
    "p08_curriculum" -> Curation.curriculumSql,
    "p09_temperature_sample" -> Curation.temperatureSampleSql,
    "r29_cci_chunked" -> CciPipeline.cciSql,
    "r30_cci_incremental" -> CciPipeline.cciSql,
    "r31_connector_fetch" -> graft.sources.ConnectorFetch.connectorFetchSql,
    "r32_daily_run" -> graft.Daily.dailyRunSql,
    "r41_daily_repair" -> graft.Daily.dailyRunSql,
    "r42_dsv2_source" -> graft.sources.Dsv2Fetch.dsv2FetchSql,
    "r43_order_sink" -> graft.sources.OrderSinkRoundtrip.orderSinkSql,
    "r33_index_relative" -> CciPipeline.indexRelativeSql,
    "r44_index_category" -> CciPipeline.indexCategorySql,
    "r45_stock_info" -> graft.sources.StockInfo.stockInfoSql,
    "r34_daily_positions" -> graft.Daily.dailyPositionsSql,
    "r35_schedule_plan" -> Scheduler.schedulePlanSql,
    "r36_daily_balance" -> graft.Daily.dailyBalanceSql,
    "r37_export_format" -> Extras.exportFormatSql,
    "r39_notify_feed" -> Notify.notifyFeedSql,
    "m06_image_phash" -> graft.multimodal.Multimodal.imagePhashSql,
    "m07_audio_fingerprint" -> graft.multimodal.Multimodal.audioFingerprintSql,
    "s07_knn_graph" -> graft.similarity.Similarity.knnGraphSql,
    "d14_semantic_clusters" -> graft.dedup.Dedup.semanticClustersSql,
    "t13_nb_classifier" -> TextAnalysis.nbClassifierSql,
    "p10_quality_repeat" -> Curation.qualityRepeatSql,
    "p13_weighted_sample" -> Curation.weightedSampleSql,
    "ml05_frequent_pairs" -> graft.ml.Features.frequentPairsSql,
    "p11_corpus_manifest" -> Curation.corpusManifestSql,
    "s08_range_search" -> graft.similarity.Similarity.rangeSearchSql,
    "q45_hierarchy_closure" -> Hierarchy.hierarchyClosureSql,
    "q46_topk_pergroup" -> TopK.q46Sql,
    "q47_asof_native" -> AsOfNative.q47Sql,
    "t15_doc_chunk" -> TextAnalysis.docChunkSql,
    "v14b_chunk_ingest" -> graft.streaming.DocStream.chunkIngestBatchSql,
    "p12_manifest_diff" -> Curation.manifestDiffSql,
    "p05b_stratified_presplit" -> Curation.stratifiedSamplePresplitSql,
    "v02b_windowed_counts" -> graft.streaming.EventStream.windowedCountsBatchSql,
    "v04b_cohort_join" -> graft.streaming.EventStream.streamStaticJoinBatchSql,
    "v05b_distinct_events" -> graft.streaming.EventStream.streamDedupBatchSql,
    "v06b_dedup_ingest" -> graft.streaming.DocStream.dedupIngestBatchSql,
    "v07b_lsh_candidates" -> graft.streaming.DocStream.lshCandidatesBatchSql,
    "v13b_phash_pairs" -> graft.streaming.DocStream.phashPairsGatedSql,
    "v08b_attribution_join" -> graft.streaming.EventStream.viewToPurchaseBatchSql,
    "v11b_session_windows" -> graft.streaming.EventStream.sessionWindowsBatchSql,
    "sql01_pricing_via_sql" -> Relational.q01Sql,
    "sql02_fingerprint_via_sql" -> TextAnalysis.fingerprintSql,
    "sql03_cci_via_view" -> CciPipeline.cciSql,
    "sql04_dsv2_via_sql" -> graft.sources.Dsv2Fetch.dsv2FetchSql,
    "sql05_asof_via_sql" -> AsOfNative.q47Sql,
    "sql06_intervals_via_sql" -> Intervals.intervalConcurrencySql,
    "sql07_rangejoin_via_sql" -> Intervals.rangeJoinSql,
    "sql08_intervaljoin_via_sql" -> Intervals.intervalJoinSql,
    "sql09_zorder_via_sql" -> ZoneMap.zorderSkipSql,
    "sql10_itemchart_via_sql" -> CciPipeline.itemChartSql,
    "sql11_tschart_via_zonemap" -> CciPipeline.itemChartSql
  )
}
