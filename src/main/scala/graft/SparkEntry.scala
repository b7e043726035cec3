package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Dedup, Multimodal, Relational, Similarity, Windows}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 has a `queries` entry, and
  * (when SQL-expressible) a DuckDB `oracleSql` entry with IDENTICAL output
  * column names, producing deterministic values (rounded money aggregates,
  * tie-broken top-k orderings).
  */
object SparkEntry {

  /** Flagship query (TPC-H Q3) on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q3Batch(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- reference parity: TPC-H Q3 (SURVEY.md §0) ---
    "q3_batch" -> (Relational.q3Batch _),
    "q3_sql" -> (Relational.q3ViaSql _),
    "q3_typed" -> (operators.Typed.q3Typed _),
    "q5_local_supplier" -> (Relational.q5LocalSupplier _),
    "q10_returned" -> (Relational.q10Returned _),
    // --- §2.1 sources ---
    "source_csv_roundtrip" -> (Relational.sourceCsvRoundtrip _),
    "source_json_roundtrip" -> (Relational.sourceJsonRoundtrip _),
    "source_orc_roundtrip" -> (Relational.sourceOrcRoundtrip _),
    "source_partitioned_pruning" -> (Relational.sourcePartitionedPruning _),
    "join_dpp" -> (Relational.joinDpp _),
    "topn_per_group" -> (Relational.topnPerGroup _),
    // --- §2.3 projections / filters ---
    "filter_customer_segment" -> (Relational.filterCustomerSegment _),
    "filter_orders_date" -> (Relational.filterOrdersDate _),
    "filter_lineitem_date" -> (Relational.filterLineitemDate _),
    // --- §2.4 joins ---
    "join_customer_orders" -> (Relational.joinCustomerOrders _),
    "join_orders_lineitem" -> (Relational.joinOrdersLineitem _),
    "join_broadcast_dims" -> (Relational.joinBroadcastDims _),
    "join_semi" -> (Relational.joinSemi _),
    "join_anti" -> (Relational.joinAnti _),
    "join_outer" -> (Relational.joinOuter _),
    "join_skew_salted" -> (Relational.joinSkewSalted _),
    "join_bucketed" -> (Relational.joinBucketed _),
    "join_bloom_pruned" -> (Relational.joinBloomPruned _),
    // --- §2.5 aggregations ---
    "agg_group_sum" -> (Relational.aggGroupSum _),
    "agg_stats" -> (Relational.aggStats _),
    "agg_mode" -> (Relational.aggMode _),
    "agg_rollup" -> (Relational.aggRollup _),
    "agg_percentiles" -> (Relational.aggPercentiles _),
    "agg_cube" -> (Relational.aggCube _),
    "agg_pivot" -> (Relational.aggPivot _),
    "agg_unpivot" -> (Relational.aggUnpivot _),
    "agg_grouping_sets" -> (Relational.aggGroupingSets _),
    "agg_distinct_multi" -> (Relational.aggDistinctMulti _),
    // --- §2.7 scalar expression library ---
    "scalar_functions" -> (Relational.scalarFunctions _),
    "scalar_collections" -> (Relational.scalarCollections _),
    "scalar_json" -> (Relational.scalarJson _),
    // --- §2.6 sort / limit / top-k ---
    "topn_orders" -> (Relational.topNOrders _),
    "window_rank" -> (Relational.windowRank _),
    // --- §2.10 set ops ---
    "set_ops" -> (Relational.setOps _),
    // --- §2.2 sink contract (JSON message shape) ---
    "sink_json_contract" -> (Relational.sinkJsonContract _),
    // --- §2.8 changelog streaming (signed-weight incremental Q3) ---
    "changelog_counts" -> (streaming.StreamQueries.changelogCounts _),
    // NOTE: the plain-socket transport (SocketIngest) is RETIRED to
    // spec-only as of r13 (SocketIngestSpec still folds it end-to-end):
    // it is the reference-parity demo path, at-most-once and single-
    // connection by Spark's socket source contract, with a documented
    // ~700 ev/s ceiling — the replayable DSv2 sources below are the
    // scale path (36× faster on the same events, exactly-once).
    // exactly-once over the REPLAYABLE transport: DSv2 offset source,
    // killed mid-stream and resumed from its checkpoint
    "stream_replay_exactly_once" -> (streaming.ReplayIngest.replayExactlyOnce _),
    // the full production composition: replay transport → spilled IVM fold
    // → mid-stream kill → snapshot resume → converged Q3 ≡ batch oracle
    "stream_q3_replay_resume" -> (streaming.ReplayIngest.q3ReplayResume _),
    // RETRACTION THROUGH RECOVERY: the same composition over the FULL
    // insert+delete changelog, kill pinned (structurally, by the
    // exactly-once delete counter) to land mid-TEARDOWN — converges to
    // exactly-empty through a snapshot/offset boundary with retraction
    // state in flight on both sides
    "stream_q3_replay_resume_cycle" ->
      (streaming.ReplayIngest.q3ReplayResumeCycle _),
    // CONSUMER GROUPS: the Q3 fold and the counts grain as two concurrent
    // queries over ONE growing broker, independent checkpointed offsets,
    // flow control keyed to the slowest group's watermark (pinned
    // structurally: production must not finish before the slow fold
    // reaches a third)
    "stream_q3_two_consumers" -> (streaming.ReplayIngest.q3TwoConsumers _),
    // CONSUMER-GROUP LIVENESS: the fold group is KILLED mid-stream; the
    // broker EVICTS it after its session times out (heartbeat silence),
    // so production provably advances past the dead group's flow-control
    // window while the counts group keeps draining; the resumed fold
    // re-admits, catches up from checkpoint + snapshot, same oracle
    "stream_q3_two_consumers_resume" ->
      (streaming.ReplayIngest.q3TwoConsumersResume _),
    // CONSUMER GROUPS × RETRACTION (the last transport×semantics cell):
    // both grains over ONE broker serving the full ± cycle — the fold
    // converges exactly empty (pinned in-query), the counts grain's
    // per-(relation, action) totals gate on the closed-form oracle
    "stream_q3_two_consumers_cycle" ->
      (streaming.ReplayIngest.q3TwoConsumersCycle _),
    // THE FULL MATRIX CELL — groups × retraction × kill × eviction: the
    // fold group is killed MID-TEARDOWN (delete pins), evicted so the
    // counts group keeps draining, resumed, and still converges exactly
    // empty; counts totals gate on the closed-form oracle
    "stream_q3_two_consumers_cycle_resume" ->
      (streaming.ReplayIngest.q3TwoConsumersCycleResume _),
    // CONSUMER GROUPS × THE PARTITIONED TRANSPORT: two groups over the
    // three-partition CDC topic, sessions/flow-control/eviction PER
    // PARTITION (the Kafka shape) — fold killed mid-stream, every
    // partition must evict it independently (pinned per partition) while
    // the counts group drains, resume from the vector offset + snapshot
    "stream_q3_two_consumers_partitioned" ->
      (streaming.ReplayIngest.q3TwoConsumersPartitioned _),
    "stream_q3_converged" -> (streaming.StreamQueries.q3Converged _),
    // the one z-set fold (IncrementalQ3) run as an engine: Q10 and Q5
    // maintained incrementally over the same changelog by declaring an
    // IvmSpec each — zero fold code per query; static dims broadcast at
    // emission
    "stream_q10_incremental" -> (streaming.IvmQueries.q10Incremental _),
    "stream_q5_incremental" -> (streaming.IvmQueries.q5Incremental _),
    // the agg-only member: additive sums maintained exactly, averages
    // derived at emission (the standard IVM treatment of AVG)
    "stream_q1_incremental" -> (streaming.IvmQueries.q1Incremental _),
    // the parametric fold under a REAL streaming runtime: file-source
    // micro-batches, foreachBatch → the same IncrementalQ3.step
    "stream_q10_live" -> (streaming.IvmQueries.q10Live _),
    // full ± cycle through the Q5 spec: exact-empty convergence proves the
    // retraction algebra holds for the whole parametric family
    "stream_q5_cycle" -> (streaming.IvmQueries.q5IncrementalCycle _),
    "stream_q3_full_cycle" -> (streaming.StreamQueries.q3FullCycle _),
    "stream_q3_prefix_snapshot" -> (streaming.StreamQueries.q3PrefixSnapshot _),
    "stream_q3_spilled" -> (streaming.StreamQueries.q3SpilledCycle _),
    // the SAME cycle FORMAT-pinned to bucketed parquet — the COMPATIBILITY
    // format since the r14 default flip to the mergelog (10× evidence:
    // 38.8 vs 45.9 s, listing-free). The seam's contract spec plus one
    // end-to-end gate PER FORMAT is what proves the swap really is a swap
    "stream_q3_spilled_parquet" ->
      (streaming.StreamQueries.q3SpilledCycleParquet _),
    // the mergelog-FORMAT-pinned gate (restored r15 — dropped by the r14
    // default flip): per-format coverage must not ride the session
    // default, so both formats keep NAME-pinned gates alongside it
    "stream_q3_spilled_mergelog" ->
      (streaming.StreamQueries.q3SpilledCycleMergelog _),
    // ADAPTIVE spill: the fold starts in-memory and engages the
    // bucketed-table path only when the compaction-time state measurement
    // crosses a data-derived threshold MID-RUN (structurally pinned: an
    // in-memory compaction precedes engagement, spill versions follow it)
    // — the state-size POLICY a real engine runs, not a switch
    "stream_q3_spill_adaptive" ->
      (streaming.StreamQueries.q3SpillAdaptive _),
    // the SAME policy ACROSS A CRASH: a fault injected ON the measurement
    // batch (before its offsets commit) kills the fold, so the state-size
    // measurement, the threshold crossing, the engagement latch, and the
    // bucketed-table MERGE all happen in the RESUMED process against a
    // recovered in-memory snapshot — structurally pinned (pre-crash
    // snapshot REQUIRED to be b2, un-engaged, un-spilled)
    "stream_q3_spill_adaptive_resume" ->
      (streaming.ReplayIngest.q3SpillAdaptiveResume _),
    "stream_agg_priority" -> (streaming.StreamQueries.priorityRevenueConverged _),
    // third grain on the SAME shared fold — fact-sized (per order date),
    // the shape the per-grain dirty-bucket probe exists for
    "stream_agg_orderdate" -> (streaming.StreamQueries.orderdateRevenueConverged _),
    // event-time watermarking over the changelog: late deletes dropped
    // and ACCOUNTED, on-time prefix ≡ the batch answer
    "stream_q3_event_time" -> (streaming.StreamQueries.q3EventTime _),
    // the BOUNDED-DELAY watermark variant (Flink's allowed-lateness
    // heuristic): the watermark trails the frontier by δ = nL/20, so
    // stragglers inside the window are ADMITTED and fold — both the
    // dropped and the admitted totals are part of the gated answer
    "stream_q3_event_time_delayed" ->
      (streaming.StreamQueries.q3EventTimeDelayed _),
    // the SAME semantics served by the LIVE engine path: readStream over
    // arrival-ordered files, watermark split + drop accounting resumable
    // across a kill (EventTimeLiveSpec) — identical oracle
    "stream_q3_event_time_live" -> (streaming.StreamingEventTime.q3EventTimeLive _),
    // and over the REPLAYABLE GROWING transport with a kill mid-stream,
    // lateness decided by the boundary-independent PREFIX watermark of
    // the ordered broker (batch-quantized lateness would be an admission
    // accident, nondeterministic under a growing broker) — same oracle
    "stream_q3_event_time_replay" -> (streaming.EventTimeReplay.q3EventTimeReplay _),
    // the BOUNDED-DELAY watermark over the same replayable transport with
    // the same mid-production kill: the frontier trails by δ = nL/20, and
    // frontier + both lateness totals persist through the kill on the
    // fold ledger's id watermark — allowed-lateness bookkeeping across
    // recovery, which is exactly where it breaks
    "stream_q3_event_time_delayed_replay" ->
      (streaming.EventTimeReplay.q3EventTimeDelayedReplay _),
    // and over the PARTITIONED transport (one ordered log per relation —
    // the CDC topic layout; vector offsets, apportioned admission),
    // lateness per-partition-prefix: the only deterministic semantics a
    // partitioned broker admits, so the dropped set gates on the LAST
    // ON-TIME LINEITEM's rank, not the single-log watermark. Same
    // EventTimeReplay path as the single log, which is partition 0
    "stream_q3_event_time_partitioned" ->
      (streaming.EventTimeReplay.q3EventTimePartitioned _),
    // BOUNDED-DELAY × PARTITIONED (the last transport the δ-admission
    // semantics had not crossed): each partition's cutoff trails ITS OWN
    // prefix frontier by δ = nL/20 — the Kafka shape, allowed lateness
    // judged against the partition an event rides — with the per-partition
    // (wm, dropped, admitted) vector surviving the mid-production kill
    "stream_q3_event_time_delayed_partitioned" ->
      (streaming.EventTimeReplay.q3EventTimeDelayedPartitioned _),
    // LATENESS UNDER RETRACTION: the full ± cycle with late DELETES —
    // late insert dropped + tombstoned, late delete of an applied insert
    // still retracts, late delete of a tombstoned insert dropped; a row
    // and its retraction share one fate, so the converged state is
    // exactly empty (live_groups = 0) and all four totals close-form
    "stream_q3_event_time_cycle" ->
      (streaming.StreamQueries.q3EventTimeCycle _),
    "stream_agg_extrema" -> (streaming.StreamQueries.priorityExtremaConverged _),
    "agg_cm_frequencies" -> (operators.Sketches.cmFrequencyBound _),
    "stream_cm_frequencies" -> ((s, d) => streaming.StreamingCm.streamCmFrequencies(s, d)),
    // --- text analysis (training-data pipeline) ---
    "text_stats" -> (graft.functions.TextOps.textStats _),
    "lang_id" -> (graft.functions.TextOps.langId _),
    "token_profile" -> (graft.functions.TextOps.tokenProfile _),
    "text_frequent_tokens" -> ((s: SparkSession, d: String) =>
      graft.functions.TextOps.frequentTokens(s, d)),
    "doc_fingerprint" -> (graft.functions.TextOps.docFingerprint _),
    "text_repetition" -> (graft.functions.TextOps.textRepetition _),
    "text_redact_pii" -> (graft.functions.TextOps.redactPii _),
    "text_bm25" -> (graft.functions.TextOps.bm25 _),
    "text_lm_bigram_score" -> (graft.functions.TextOps.lmBigramScore _),
    "text_tfidf_keywords" -> (graft.functions.TextOps.tfidfKeywords _),
    "text_inverted_index" -> ((s: SparkSession, d: String) =>
      graft.functions.TextOps.invertedIndex(s, d)),
    "text_index_lookup" -> (graft.functions.TextOps.indexLookup _),
    "text_index_lookup_persisted" -> (graft.functions.TextOps.indexLookupPersisted _),
    "text_normalize" -> (graft.functions.NfcNormalize.textNormalize _),
    // --- deduplication ---
    "dedup_exact" -> (Dedup.dedupExact _),
    "dedup_ngram_jaccard" -> (Dedup.dedupNgramJaccard _),
    "dedup_minhash_lsh" -> (Dedup.dedupMinhashLsh _),
    "dedup_prefix_filter" -> (Dedup.dedupPrefixFilter _),
    "dedup_edit_distance" -> (Dedup.editDistancePairs _),
    "dedup_simhash" -> (Dedup.dedupSimhash _),
    "dedup_embedding_cosine" -> (Dedup.dedupEmbeddingCosine _),
    "dedup_clusters" -> (Dedup.dedupClusters _),
    "dedup_substring" -> (Dedup.repeatedPassages _),
    // the hash-keyed shuffle-volume variant — same answer, same oracle
    "dedup_substring_hashed" -> ((s: SparkSession, d: String) =>
      Dedup.repeatedPassagesHashedDocs(
        graft.sources.Tables.table(s, d, "documents"))),
    "dedup_canonical" -> (Dedup.dedupCanonical _),
    "dedup_incremental" -> (Dedup.dedupIncremental _),
    "dedup_span_rewrite" -> (Dedup.dedupSpanRewrite _),
    // --- similarity search ---
    "ann_brute_force" -> (Similarity.annBruteForce _),
    "ann_range_search" -> (Similarity.annRangeSearch _),
    // LSH/IVF are recall stages + exact rerank; at the fixture scale their
    // default regimes have full recall, so they share brute-force's oracle.
    "ann_lsh" -> (Similarity.annLsh _),
    "ann_ivf" -> (Similarity.annIvf _),
    // the NON-full-recall regime, oracle-gated: a deliberately weak
    // md5-seeded family whose recall histogram DuckDB reproduces exactly
    "ann_lsh_recall" -> (Similarity.annLshRecall _),
    // the second approximate family gated as approximate: IVF at
    // nprobe < exact cover, data-derived quantizer DuckDB regenerates
    "ann_ivf_recall" -> (Similarity.annIvfRecall _),
    "ann_mmr" -> (Similarity.annMmr _),
    // --- multimodal plumbing ---
    "multimodal_ingest" -> (Multimodal.ingestMeta _),
    "source_binary_files" -> (Multimodal.binaryFilesRoundtrip _),
    "multimodal_features" -> (Multimodal.featureSummary _),
    "multimodal_frames" -> (Multimodal.frameSample _),
    "multimodal_resize" -> (Multimodal.resize _),
    "multimodal_image_decode" -> (Multimodal.imageDecode _),
    "multimodal_audio_decode" -> (Multimodal.audioDecode _),
    "multimodal_binary_pipeline" -> (Multimodal.binaryPipeline _),
    // --- composite pipelines ---
    "pipeline_curation" -> (operators.Pipelines.corpusCuration _),
    "pipeline_funnel" -> (operators.Pipelines.funnel _),
    "pipeline_retention" -> (operators.Pipelines.retention _),
    "pipeline_split" -> (operators.Pipelines.trainValTestSplit _),
    "pipeline_sample" -> (operators.Pipelines.stratifiedSample _),
    "pipeline_reservoir" -> (operators.Pipelines.reservoirSample _),
    "pipeline_negatives" -> (operators.Pipelines.negativePairs _),
    "profile_winsorize" -> (operators.Profiling.profileWinsorize _),
    "pipeline_decontaminate" -> (operators.Pipelines.decontaminate _),
    "pipeline_pack" -> (operators.Pipelines.packSequences _),
    "pipeline_cdc_upsert" -> (operators.Pipelines.cdcUpsert _),
    "pipeline_chunk" -> (operators.Pipelines.chunkDocuments _),
    "pipeline_interleave" -> (operators.Pipelines.interleaveSources _),
    "pipeline_epoch_shuffle" -> (operators.Pipelines.epochShuffle _),
    "pipeline_scd2" -> (operators.Pipelines.scd2Build _),
    "pipeline_mixture_weights" -> (operators.Pipelines.mixtureWeights _),
    "pipeline_dataset_diff" -> (operators.Pipelines.datasetDiff _),
    "pipeline_dpo_pairs" -> (operators.Pipelines.dpoPairs _),
    // --- event-time windows ---
    "window_tumbling" -> (Windows.tumbling _),
    "window_sliding" -> (Windows.sliding _),
    "window_session" -> (Windows.session _),
    "stream_windows_tumbling" -> (streaming.StreamingWindows.streamTumbling _),
    "stream_windows_session" -> (streaming.StreamingWindows.streamSession _),
    "stream_windows_sliding" -> (streaming.StreamingWindows.streamSliding _),
    "stream_windows_late" -> (streaming.StreamingWindows.streamLate _),
    "stream_dedup" -> (streaming.StreamingWindows.streamDedup _),
    "stream_enrich_static" -> (streaming.StreamingWindows.streamEnrichStatic _),
    "stream_scd_enrich" -> (streaming.StreamingWindows.streamScdEnrich _),
    "stream_join_interval" -> (streaming.StreamingWindows.streamJoinInterval _),
    "stream_cdc_upsert" -> (streaming.StreamingWindows.streamCdcUpsert _),
    "stream_dedup_incremental" -> (streaming.StreamingDedup.streamIncrementalDedup _),
    "stream_ann_incremental" -> (streaming.StreamingAnn.streamAnnIncremental _),
    // --- temporal joins / frames (beyond-parity: SURVEY §2.4 lists the
    // reference as equi-inner-only) ---
    "temporal_asof_join" -> (operators.Temporal.asofJoin _),
    "temporal_asof_exec" -> (operators.Temporal.asofJoinViaExec _),
    "temporal_asof_tolerance" -> (operators.Temporal.asofJoinTolerance _),
    "temporal_range_join" -> (operators.Temporal.rangeJoin _),
    "temporal_interval_overlap" -> (operators.Temporal.intervalOverlapJoin _),
    "temporal_range_join_rule" -> (operators.Temporal.rangeJoinViaRule _),
    "temporal_interval_overlap_rule" -> (operators.Temporal.intervalOverlapViaRule _),
    "temporal_window_frames" -> (operators.Temporal.windowFrames _),
    "temporal_resample_ffill" -> (operators.Temporal.resampleFfill _),
    "temporal_decayed_sum" -> (operators.Temporal.decayedSum _),
    "temporal_pattern_match" -> (operators.Temporal.patternMatch _),
    "stream_pattern_match" ->
      ((s: SparkSession, d: String) => streaming.StreamingPattern.streamPatternMatch(s, d)),
    "window_lag_lead" -> (operators.Temporal.windowLagLead _),
    "window_ntile" -> (Relational.windowNtile _),
    "window_distribution" -> (Relational.windowDistribution _),
    "scalar_datetime" -> (Relational.scalarDatetime _),
    // --- sketches ---
    "agg_kmv_distinct" -> (operators.Sketches.kmvDistinct _),
    "agg_kmv_setops" -> (operators.Sketches.kmvSetOps _),
    "agg_kll_quantiles" -> (operators.Sketches.kllQuantileBound _),
    "agg_hll_distinct" -> (operators.Sketches.hllDistinct _),
    // --- profiling / layout / graph (beyond-parity: ingestion QA, scan
    // pruning, and iterative analytics over the same relational fixtures) ---
    "profile_table" -> (operators.Profiling.profileTable _),
    "profile_quantiles" -> (operators.Profiling.profileQuantiles _),
    "profile_outliers" -> (operators.Profiling.profileOutliers _),
    "profile_drift" -> (operators.Profiling.profileDrift _),
    "stream_drift" -> ((s, d) => streaming.StreamingDrift.streamDrift(s, d)),
    "stream_decayed_sum" -> ((s, d) => streaming.StreamingDecay.streamDecayedSum(s, d)),
    "stream_basket_rules" -> ((s, d) => streaming.StreamingBaskets.streamBasketRules(s, d)),
    "stream_benford" -> ((s, d) => streaming.StreamingBenford.streamBenford(s, d)),
    "profile_constraints" -> (operators.Profiling.profileConstraints _),
    "profile_benford" -> (operators.Profiling.profileBenford _),
    "profile_dataset_card" -> (operators.Profiling.datasetCard _),
    "profile_correlation" -> (operators.Profiling.profileCorrelation _),
    "stream_profile_incremental" ->
      ((s: SparkSession, d: String) => streaming.StreamingProfile.streamCorrelation(s, d)),
    "stream_frequent_tokens" ->
      ((s: SparkSession, d: String) => streaming.StreamingTokens.streamFrequentTokens(s, d)),
    "stream_kll_quantiles" ->
      ((s: SparkSession, d: String) => streaming.StreamingQuantiles.streamKllQuantiles(s, d)),
    "layout_zorder" -> (operators.Layout.zorderKeys _),
    "layout_compaction" -> (operators.Layout.compactionPlan _),
    "layout_hilbert" -> (operators.Layout.hilbertKeys _),
    "graph_pagerank" -> (operators.Graph.pageRank _),
    "graph_triangle_count" -> (operators.Graph.triangleCount _),
    "graph_node_similarity" -> (operators.Graph.nodeSimilarity _),
    "graph_label_propagation" -> (operators.Graph.labelPropagation _),
    "graph_sssp" -> (operators.Graph.shortestPaths _),
    "graph_kcore" -> (operators.Graph.kCore _),
    "basket_rules" -> (operators.Association.basketRules _),
    "q1_pricing" -> (Relational.q1Pricing _),
    "q4_priority_exists" -> (Relational.q4PriorityExists _),
    "q7_nation_volume" -> (Relational.q7NationVolume _),
    "q8_market_share" -> (Relational.q8MarketShare _),
    "q13_order_distribution" -> (Relational.q13OrderDistribution _),
    "q14_promo_revenue" -> (Relational.q14PromoRevenue _),
    "q15_top_supplier" -> (Relational.q15TopSupplier _),
    "q16_supplier_count" -> (Relational.q16SupplierCount _),
    "q17_small_quantity" -> (Relational.q17SmallQuantity _),
    "q18_large_orders" -> (Relational.q18LargeOrders _),
    "q19_disjunctive" -> (Relational.q19Disjunctive _),
    "q20_promo_suppliers" -> (Relational.q20PromoSuppliers _),
    "q21_waiting_supplier" -> (Relational.q21WaitingSupplier _),
    "q22_global_sales" -> (Relational.q22GlobalSales _),
    "q2_min_cost_supplier" -> (Relational.q2MinCostSupplier _),
    "q6_forecast_revenue" -> (Relational.q6ForecastRevenue _),
    "q9_product_profit" -> (Relational.q9ProductProfit _),
    "q11_important_parts" -> (Relational.q11ImportantParts _),
    "q12_ship_priority" -> (Relational.q12ShipPriority _),
    "embed_kmeans" -> (operators.Clustering.kmeans _),
    "embed_pq" -> (operators.ProductQuant.pqProfile _),
    "ann_pq_adc" -> (operators.ProductQuant.adcTop1 _),
    "ann_ivf_pq" -> (operators.ProductQuant.ivfAdcTop1 _),
    "search_hybrid_rrf" -> (Similarity.searchHybridRrf _),
    "search_eval_ndcg" -> (Similarity.searchEvalNdcg _),
    "text_collocations" -> (graft.functions.TextOps.collocations _),
    "text_bpe_train" -> (graft.functions.TextOps.bpeTrain _),
    "text_bpe_encode" -> (graft.functions.TextOps.bpeEncode _),
    // --- embedding hygiene ---
    "embed_norms" -> (operators.Similarity.embedNorms _),
    "embed_quantize" -> (operators.Similarity.embedQuantize _),
  )

  /** Exact cosine top-K — shared by ann_brute_force and (because their
    * default regimes are full-recall at fixture scale and candidates are
    * exact-reranked) ann_lsh / ann_ivf.
    */
  private val annTopKOracle: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |p AS (
      |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
      |         list_sum(list_transform(list_zip(q.e, n.e), x -> x[1]*x[2]))
      |         / (sqrt(list_sum(list_transform(q.e, x -> x*x)))
      |            * sqrt(list_sum(list_transform(n.e, x -> x*x)))) AS c
      |  FROM v q JOIN v n ON n.vec_id != q.vec_id WHERE q.vec_id < ${Similarity.NumQueries})
      |SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id, round(c, 6) AS cosine FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rnk
      |  FROM p) t
      |WHERE rnk <= 5""".stripMargin

  // exact-Jaccard base x delta pairs (doc_a < split <= doc_b) - shared by
  // the batch dedup_incremental query and its streaming twin
  private val incrementalJaccardOracle: String =
    """WITH sh AS (
        |  SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |         for i in range(1, len(w) - 1)]) AS s
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents) t),
        |k AS (SELECT (max(doc_id) * 9) // 10 AS split_id FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       floor((len(list_intersect(a.s, b.s))::DOUBLE
        |             / len(list_distinct(list_concat(a.s, b.s)))) * 1000000 + 0.5) / 1000000 AS jaccard
        |FROM sh a, sh b, k
        |WHERE a.doc_id < k.split_id AND b.doc_id >= k.split_id
        |  AND len(list_distinct(list_concat(a.s, b.s))) > 0
        |  AND len(list_intersect(a.s, b.s))::DOUBLE
        |      / len(list_distinct(list_concat(a.s, b.s))) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin

  // Event-time Q3 (shared by the batch-simulated and LIVE paths): the
  // watermark before the deliberately-late batch is nL, lineitem's event
  // time is its all-columns rank, so late ≡ deferred ∧ rank < nL and the
  // answer is Q3 over the complement with the dropped count on every row.
  private val q3EventTimeOracle: String =
    """WITH
      |  nn AS (SELECT (SELECT count(*) FROM lineitem) AS nl),
      |  li AS (SELECT *, row_number() OVER (ORDER BY l_orderkey, l_partkey,
      |             l_suppkey, l_linenumber, l_quantity, l_extendedprice,
      |             l_discount, l_tax, l_returnflag, l_linestatus,
      |             l_shipdate) AS rk
      |         FROM lineitem),
      |  lat AS (SELECT count(*) AS dl FROM li, nn
      |          WHERE l_orderkey % 10 = 3 AND rk < nl),
      |  liv AS (SELECT li.* FROM li, nn
      |          WHERE NOT (l_orderkey % 10 = 3 AND rk < nl))
      |SELECT l_orderkey,
      |       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
      |       o_orderpriority,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |       (SELECT dl FROM lat) AS dropped_late
      |FROM customer, orders, liv
      |WHERE c_mktsegment = 'BUILDING'
      |  AND c_custkey = o_custkey
      |  AND l_orderkey = o_orderkey
      |  AND CAST(o_orderdate AS DATE) < DATE '1995-03-15'
      |  AND CAST(l_shipdate AS DATE) > DATE '1995-03-15'
      |GROUP BY 1, 2, 3
      |ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
      |LIMIT 20""".stripMargin

  // top-20 recomputed straight from documents (tf, df >= 5, bm25 idf,
  // per-term round6 then exact-decimal sum) - shared by the in-flight
  // and persisted index lookups
  private val indexLookupOracle: String =
    """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfv AS (SELECT term, count(*) AS df FROM tf GROUP BY term
        |        HAVING count(*) >= 5),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |hits AS (
        |  SELECT t.doc_id,
        |         CAST(floor(ln((n.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
        |                    * t.tf * 1000000.0 + 0.5) / 1000000.0
        |              AS DECIMAL(18,6)) AS c
        |  FROM tf t JOIN dfv d USING (term), n
        |  WHERE t.term IN ('hash', 'join', 'stream', 'vector'))
        |SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS score, count(*) AS n_terms
        |FROM hits GROUP BY doc_id
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q3_batch" -> Relational.q3Sql,
    "q3_sql" -> Relational.q3Sql,
    "q3_typed" -> Relational.q3Sql,
    "q5_local_supplier" -> Relational.q5OracleSql,
    // the incremental twins converge to EXACTLY the batch answers, so
    // they share the batch oracles verbatim
    "stream_q10_incremental" -> Relational.q10OracleSql,
    "stream_q5_incremental" -> Relational.q5OracleSql,
    "stream_q1_incremental" -> Relational.q1OracleSql,
    "stream_q10_live" -> Relational.q10OracleSql,
    // every insert retracted → the converged emission is exactly empty
    "stream_q5_cycle" ->
      """SELECT CAST(NULL AS VARCHAR) AS n_name,
        |       CAST(NULL AS DOUBLE) AS revenue,
        |       CAST(NULL AS BIGINT) AS n_lines
        |WHERE 1 = 0""".stripMargin,
    "q10_returned" -> Relational.q10OracleSql,
    "source_csv_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "source_json_roundtrip" ->
      """SELECT source, lang, count(*) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |       count(DISTINCT md5(text)) AS n_distinct_texts
        |FROM documents GROUP BY source, lang""".stripMargin,
    "source_orc_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       CAST(max(CAST(o_orderdate AS DATE)) AS VARCHAR) AS max_date
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    // logically a filtered aggregate; the hive-partitioned layout + prune
    // is a physical detail (plan-asserted in RelationalSpec)
    "source_partitioned_pruning" ->
      """SELECT source, count(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang = 'en' GROUP BY source""".stripMargin,
    // the dim's keep flag decides the partitions — the WHERE here mirrors
    // the dim join the engine prunes with at runtime (DPP)
    "join_dpp" ->
      """SELECT source, count(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang IN ('en', 'fr', 'zh')
        |GROUP BY source ORDER BY source""".stripMargin,
    // the custom heap operator must reproduce the window spelling exactly
    // (the ordering is total, so both are deterministic)
    "topn_per_group" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3
        |ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey""".stripMargin,
    "filter_customer_segment" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_mktsegment = 'BUILDING'""".stripMargin,
    "filter_orders_date" ->
      """SELECT o_orderkey, o_custkey, o_orderdate FROM orders
        |WHERE CAST(o_orderdate AS DATE) < DATE '1995-03-15'""".stripMargin,
    "filter_lineitem_date" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate, l_extendedprice, l_discount
        |FROM lineitem WHERE CAST(l_shipdate AS DATE) > DATE '1995-03-15'""".stripMargin,
    "join_customer_orders" ->
      """SELECT c_custkey, c_name, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name""".stripMargin,
    "join_orders_lineitem" ->
      """SELECT o_orderkey, o_orderdate, COUNT(*) AS n_lines,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey, o_orderdate""".stripMargin,
    "join_broadcast_dims" ->
      """SELECT r_name, n_name, COUNT(*) AS n_customers,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal_sum
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "join_outer" ->
      """SELECT c_nationkey, COUNT(*) AS n_orders
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey""".stripMargin,
    "join_skew_salted" ->
      """SELECT e.event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
        |       MAX(u.user_events) AS max_user_events
        |FROM events e
        |JOIN (SELECT user_id, COUNT(*) AS user_events FROM events GROUP BY user_id) u
        |  ON e.user_id = u.user_id
        |GROUP BY e.event_type""".stripMargin,
    // the Bloom prefilter only drops rows the join would drop anyway;
    // logically it is the plain filtered join
    "join_bloom_pruned" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderdate < '1996-01-01'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // the bucketed tables are a physical-layout detail; logically it is
    // the plain orders⋈lineitem join
    "join_bucketed" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "agg_group_sum" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_revenue,
        |       COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    // deterministic mode: max count, ties to the smallest value — the
    // builtin mode() of either engine is tie-unspecified
    "agg_mode" ->
      """WITH c AS (SELECT l_returnflag, l_quantity, count(*) AS cnt
        |           FROM lineitem GROUP BY 1, 2),
        |m AS (SELECT l_returnflag, max(cnt) AS cnt FROM c GROUP BY 1)
        |SELECT c.l_returnflag, min(l_quantity) AS mode_quantity,
        |       CAST(max(c.cnt) AS BIGINT) AS n_occurrences
        |FROM c JOIN m USING (l_returnflag, cnt)
        |GROUP BY c.l_returnflag ORDER BY c.l_returnflag""".stripMargin,
    "agg_stats" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |       COUNT(DISTINCT o_custkey) AS n_customers,
        |       MIN(o_totalprice) AS min_price,
        |       MAX(o_totalprice) AS max_price,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "agg_percentiles" ->
      """SELECT event_type,
        |       round(quantile_cont(value, 0.5), 6) AS p50,
        |       round(quantile_cont(value, 0.9), 6) AS p90,
        |       round(quantile_cont(value, 0.99), 6) AS p99
        |FROM events GROUP BY event_type""".stripMargin,
    "agg_rollup" ->
      """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)""".stripMargin,
    "agg_cube" ->
      """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)""".stripMargin,
    "agg_grouping_sets" ->
      """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))""".stripMargin,
    "agg_distinct_multi" ->
      """SELECT o_orderstatus,
        |       COUNT(DISTINCT o_custkey) AS n_customers,
        |       COUNT(DISTINCT o_orderpriority) AS n_priorities,
        |       COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "agg_unpivot" ->
      """SELECT doc_id, 'n_chars' AS metric, CAST(n_chars AS BIGINT) AS value
        |FROM documents
        |UNION ALL
        |SELECT doc_id, 'n_tokens',
        |       CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |FROM documents""".stripMargin,
    // conditional aggregation, not DuckDB's PIVOT syntax: fixed CASE
    // columns are engine-portable and mirror Spark's explicit values list
    "agg_pivot" ->
      """SELECT source,
        |       CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
        |       CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
        |       CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
        |       CAST(SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
        |       CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
        |FROM documents GROUP BY source""".stripMargin,
    "scalar_functions" ->
      """SELECT o_orderkey,
        |       upper(substr(o_orderpriority, 1, 8)) AS prio_upper,
        |       length(o_orderstatus) AS status_len,
        |       concat_ws('-', o_orderstatus, o_orderpriority) AS tagged,
        |       round(abs(o_totalprice - 1000.0), 2) AS dist_1k,
        |       CAST(floor(o_totalprice / 100) AS BIGINT) AS price_bucket,
        |       CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |       datediff('day', CAST(o_orderdate AS DATE), DATE '1995-03-15') AS days_to_cutoff,
        |       CASE WHEN o_totalprice > 100000 THEN 'big' ELSE 'small' END AS size_class
        |FROM orders WHERE o_orderkey < 100 ORDER BY o_orderkey""".stripMargin,
    "scalar_collections" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |           FROM documents)
        |SELECT doc_id,
        |       w[1] AS first_token,
        |       CAST(len(w) AS BIGINT) AS n_tokens,
        |       CAST(list_contains(w, 'the') AS INT) AS has_the,
        |       array_to_string(list_sort(list_distinct(w))[1:3], ',') AS first3_distinct,
        |       CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS chars_in_tokens,
        |       CAST(len(w) AS BIGINT) AS map_lookup
        |FROM t""".stripMargin,
    "scalar_json" ->
      """WITH j AS (
        |  SELECT o_orderkey,
        |         to_json(struct_pack(k := o_orderkey, s := o_orderstatus,
        |                             d := CAST(CAST(o_orderdate AS DATE) AS VARCHAR)))::VARCHAR AS js
        |  FROM orders WHERE o_orderkey < 100)
        |SELECT o_orderkey, js,
        |       json_extract_string(js, '$.s') AS status_extracted,
        |       CAST(json_extract_string(js, '$.k') AS BIGINT) AS key_extracted,
        |       json_extract_string(js, '$.d') AS date_extracted
        |FROM j""".stripMargin,
    "topn_orders" ->
      """SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin,
    "window_rank" ->
      """SELECT o_orderpriority, rnk, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         CAST(ROW_NUMBER() OVER (
        |           PARTITION BY o_orderpriority
        |           ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rnk
        |  FROM orders) t
        |WHERE rnk <= 3""".stripMargin,
    "set_ops" ->
      """SELECT cohort, COUNT(*) AS n_users FROM (
        |  SELECT user_id, 'purchase_and_error' AS cohort FROM (
        |    SELECT user_id FROM events WHERE event_type = 'purchase'
        |    INTERSECT
        |    SELECT user_id FROM events WHERE event_type = 'error') a
        |  UNION ALL
        |  SELECT user_id, 'view_never_click' AS cohort FROM (
        |    SELECT user_id FROM events WHERE event_type = 'view'
        |    EXCEPT
        |    SELECT user_id FROM events WHERE event_type = 'click') b
        |) u GROUP BY cohort""".stripMargin,
    "sink_json_contract" ->
      s"""WITH top AS (${Relational.q3Sql}),
         |ranked AS (
         |  SELECT *, CAST(ROW_NUMBER() OVER (
         |    ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC) AS INTEGER) AS rank
         |  FROM top)
         |SELECT rank,
         |       '{"rank":' || CAST(rank AS VARCHAR)
         |       || ',"orderkey":' || CAST(l_orderkey AS VARCHAR)
         |       || ',"revenue":' || CAST(CAST(revenue AS DECIMAL(18,2)) AS VARCHAR)
         |       || ',"orderdate":"' || CAST(CAST(o_orderdate AS DATE) AS VARCHAR)
         |       || '"}' AS json
         |FROM ranked""".stripMargin,
    "changelog_counts" ->
      """SELECT relation, action, n FROM (
        |  SELECT 'customer' AS relation, 'Insert' AS action, COUNT(*) AS n FROM customer
        |  UNION ALL SELECT 'customer', 'Delete', COUNT(*) FROM customer
        |  UNION ALL SELECT 'orders', 'Insert', COUNT(*) FROM orders
        |  UNION ALL SELECT 'orders', 'Delete', COUNT(*) FROM orders
        |  UNION ALL SELECT 'lineitem', 'Insert', COUNT(*) FROM lineitem
        |  UNION ALL SELECT 'lineitem', 'Delete', COUNT(*) FROM lineitem) t""".stripMargin,
    // kill-and-resume over the replayable offset source must ALSO land on
    // the identical totals: a lost batch under-counts, a double-applied
    // one over-counts — the counts oracle IS the exactly-once check
    "stream_replay_exactly_once" ->
      """SELECT relation, action, n FROM (
        |  SELECT 'customer' AS relation, 'Insert' AS action, COUNT(*) AS n FROM customer
        |  UNION ALL SELECT 'customer', 'Delete', COUNT(*) FROM customer
        |  UNION ALL SELECT 'orders', 'Insert', COUNT(*) FROM orders
        |  UNION ALL SELECT 'orders', 'Delete', COUNT(*) FROM orders
        |  UNION ALL SELECT 'lineitem', 'Insert', COUNT(*) FROM lineitem
        |  UNION ALL SELECT 'lineitem', 'Delete', COUNT(*) FROM lineitem) t""".stripMargin,
    // the killed-and-resumed replay-fed IVM fold must converge to the SAME
    // batch Q3 top-20: a lost batch loses revenue, a double-applied one
    // doubles it — the oracle match IS the end-to-end exactly-once proof
    "stream_q3_replay_resume" ->
      """SELECT l_orderkey,
        |       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
        |       o_orderpriority,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND CAST(o_orderdate AS DATE) < DATE '1995-03-15'
        |  AND CAST(l_shipdate AS DATE) > DATE '1995-03-15'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
        |LIMIT 20""".stripMargin,
    // retraction through recovery: the full ± cycle killed mid-TEARDOWN
    // and resumed must cancel to EXACTLY empty — with the transport's
    // exactly-once counts pinned in-query, a lost delete batch leaves
    // positive residue, a lost insert batch negative, a double-applied
    // one either sign
    "stream_q3_replay_resume_cycle" ->
      """SELECT CAST(NULL AS BIGINT) AS l_orderkey,
        |       CAST(NULL AS VARCHAR) AS o_orderdate,
        |       CAST(NULL AS VARCHAR) AS o_orderpriority,
        |       CAST(NULL AS DOUBLE) AS revenue
        |WHERE 1 = 0""".stripMargin,
    // two consumer groups off one broker: the fold group must land the
    // batch Q3 top-20, the counts group the exact event total — each
    // oracle-exact only if ITS offsets lost and double-applied nothing
    "stream_q3_two_consumers" ->
      """SELECT l_orderkey,
        |       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
        |       o_orderpriority,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |       (SELECT (SELECT COUNT(*) FROM customer)
        |             + (SELECT COUNT(*) FROM orders)
        |             + (SELECT COUNT(*) FROM lineitem)) AS ingest_events
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND CAST(o_orderdate AS DATE) < DATE '1995-03-15'
        |  AND CAST(l_shipdate AS DATE) > DATE '1995-03-15'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
        |LIMIT 20""".stripMargin,
    // groups × partitioned transport: the fold's converged answer is
    // arrival-order-invariant across the apportioned partition interleave
    // AND the per-partition kill/evict/re-admit cycle — same strong oracle
    "stream_q3_two_consumers_partitioned" ->
      """SELECT l_orderkey,
        |       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
        |       o_orderpriority,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |       (SELECT (SELECT COUNT(*) FROM customer)
        |             + (SELECT COUNT(*) FROM orders)
        |             + (SELECT COUNT(*) FROM lineitem)) AS ingest_events
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND CAST(o_orderdate AS DATE) < DATE '1995-03-15'
        |  AND CAST(l_shipdate AS DATE) > DATE '1995-03-15'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
        |LIMIT 20""".stripMargin,
    // the killed-and-resumed fold group must still land the batch top-20:
    // its offsets + snapshots are its own, so the kill/evict/re-admit
    // cycle on the broker side must lose and double-apply nothing
    "stream_q3_two_consumers_resume" ->
      """SELECT l_orderkey,
        |       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
        |       o_orderpriority,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |       (SELECT (SELECT COUNT(*) FROM customer)
        |             + (SELECT COUNT(*) FROM orders)
        |             + (SELECT COUNT(*) FROM lineitem)) AS ingest_events
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND CAST(o_orderdate AS DATE) < DATE '1995-03-15'
        |  AND CAST(l_shipdate AS DATE) > DATE '1995-03-15'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
        |LIMIT 20""".stripMargin,
    // consumer groups × retraction: the counts grain's totals are the
    // gated answer (Insert and Delete both equal each table's
    // cardinality — a lost or doubled batch on either group's offsets
    // breaks a row); the fold's exact-empty convergence is pinned
    // in-query
    "stream_q3_two_consumers_cycle" ->
      """SELECT relation, action, n FROM (
        |  SELECT 'customer' AS relation, 'Insert' AS action, COUNT(*) AS n FROM customer
        |  UNION ALL SELECT 'customer', 'Delete', COUNT(*) FROM customer
        |  UNION ALL SELECT 'orders', 'Insert', COUNT(*) FROM orders
        |  UNION ALL SELECT 'orders', 'Delete', COUNT(*) FROM orders
        |  UNION ALL SELECT 'lineitem', 'Insert', COUNT(*) FROM lineitem
        |  UNION ALL SELECT 'lineitem', 'Delete', COUNT(*) FROM lineitem) t""".stripMargin,
    // the same closed-form totals THROUGH the kill/evict/resume: a batch
    // lost or doubled on either side of either group's offset boundary —
    // including the replayed in-flight range — breaks a row; the fold's
    // exact-empty convergence is pinned in-query
    "stream_q3_two_consumers_cycle_resume" ->
      """SELECT relation, action, n FROM (
        |  SELECT 'customer' AS relation, 'Insert' AS action, COUNT(*) AS n FROM customer
        |  UNION ALL SELECT 'customer', 'Delete', COUNT(*) FROM customer
        |  UNION ALL SELECT 'orders', 'Insert', COUNT(*) FROM orders
        |  UNION ALL SELECT 'orders', 'Delete', COUNT(*) FROM orders
        |  UNION ALL SELECT 'lineitem', 'Insert', COUNT(*) FROM lineitem
        |  UNION ALL SELECT 'lineitem', 'Delete', COUNT(*) FROM lineitem) t""".stripMargin,
    "stream_q3_converged" ->
      """SELECT l_orderkey,
        |       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
        |       o_orderpriority,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND CAST(o_orderdate AS DATE) < DATE '1995-03-15'
        |  AND CAST(l_shipdate AS DATE) > DATE '1995-03-15'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
        |LIMIT 20""".stripMargin,
    // Event-time Q3: the watermark before the deliberately-late batch is
    // nL (the final customer/orders inserts always fire at trigger nL);
    // lineitem's event time is its all-columns rank, so the dropped set is
    // exactly {l_orderkey % 10 = 3 ∧ rank < nL} and the answer is Q3 over
    // the complement, with the dropped count carried on every row.
    "stream_q3_event_time" -> q3EventTimeOracle,
    // bounded-delay watermark: the cutoff trails the frontier (nl) by
    // δ = nl/20 — deferred lineitems with rank in [nl−δ, nl) fall inside
    // the allowed-lateness window and are ADMITTED (they fold into the
    // answer); only rank < nl−δ drops. Rank = nl (frontier equality, if
    // the max-rank row is deferred) folds as on-time: neither counter.
    "stream_q3_event_time_delayed" ->
      """WITH
        |  nn AS (SELECT (SELECT count(*) FROM lineitem) AS nl),
        |  dd AS (SELECT nl, nl - nl // 20 AS cutoff FROM nn),
        |  li AS (SELECT *, row_number() OVER (ORDER BY l_orderkey, l_partkey,
        |             l_suppkey, l_linenumber, l_quantity, l_extendedprice,
        |             l_discount, l_tax, l_returnflag, l_linestatus,
        |             l_shipdate) AS rk
        |         FROM lineitem),
        |  lat AS (SELECT count(*) AS dl FROM li, dd
        |          WHERE l_orderkey % 10 = 3 AND rk < cutoff),
        |  adm AS (SELECT count(*) AS al FROM li, dd
        |          WHERE l_orderkey % 10 = 3 AND rk >= cutoff AND rk < nl),
        |  liv AS (SELECT li.* FROM li, dd
        |          WHERE NOT (l_orderkey % 10 = 3 AND rk < cutoff))
        |SELECT l_orderkey,
        |       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
        |       o_orderpriority,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |       (SELECT dl FROM lat) AS dropped_late,
        |       (SELECT al FROM adm) AS admitted_late
        |FROM customer, orders, liv
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND CAST(o_orderdate AS DATE) < DATE '1995-03-15'
        |  AND CAST(l_shipdate AS DATE) > DATE '1995-03-15'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
        |LIMIT 20""".stripMargin,
    // the live engine path must land the identical answer — same oracle
    "stream_q3_event_time_live" -> q3EventTimeOracle,
    // and the replay-transport path: the prefix watermark of the ordered
    // broker is a pure function of the stream, so the same oracle gates
    // it under ANY micro-batch slicing and a mid-stream kill/resume
    "stream_q3_event_time_replay" -> q3EventTimeOracle,
    // the bounded-delay replay path: the deferred tail's prefix frontier
    // is nL (on-time events are frontier-ordered; deferred t ≤ nL), so
    // the δ-window arithmetic reduces to the same closed form as the
    // batch-simulated fold — dropped iff rank < nL − δ, admitted iff
    // rank ∈ [nL − δ, nL) — and a kill/resume must not change either
    "stream_q3_event_time_delayed_replay" ->
      """WITH
        |  nn AS (SELECT (SELECT count(*) FROM lineitem) AS nl),
        |  dd AS (SELECT nl, nl - nl // 20 AS cutoff FROM nn),
        |  li AS (SELECT *, row_number() OVER (ORDER BY l_orderkey, l_partkey,
        |             l_suppkey, l_linenumber, l_quantity, l_extendedprice,
        |             l_discount, l_tax, l_returnflag, l_linestatus,
        |             l_shipdate) AS rk
        |         FROM lineitem),
        |  lat AS (SELECT count(*) AS dl FROM li, dd
        |          WHERE l_orderkey % 10 = 3 AND rk < cutoff),
        |  adm AS (SELECT count(*) AS al FROM li, dd
        |          WHERE l_orderkey % 10 = 3 AND rk >= cutoff AND rk < nl),
        |  liv AS (SELECT li.* FROM li, dd
        |          WHERE NOT (l_orderkey % 10 = 3 AND rk < cutoff))
        |SELECT l_orderkey,
        |       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
        |       o_orderpriority,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |       (SELECT dl FROM lat) AS dropped_late,
        |       (SELECT al FROM adm) AS admitted_late
        |FROM customer, orders, liv
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND CAST(o_orderdate AS DATE) < DATE '1995-03-15'
        |  AND CAST(l_shipdate AS DATE) > DATE '1995-03-15'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
        |LIMIT 20""".stripMargin,
    // the PARTITIONED transport path: per-partition prefix watermarks, so
    // a withheld lineitem is late iff its rank precedes the last ON-TIME
    // lineitem's rank (other relations' event times live in other
    // partitions and must not gate this one — unlike the single-log
    // oracle's rk < n_lineitem, where the orders log's final trigger
    // holds the global watermark at nl)
    "stream_q3_event_time_partitioned" ->
      """WITH
        |  li AS (SELECT *, row_number() OVER (ORDER BY l_orderkey, l_partkey,
        |             l_suppkey, l_linenumber, l_quantity, l_extendedprice,
        |             l_discount, l_tax, l_returnflag, l_linestatus,
        |             l_shipdate) AS rk
        |         FROM lineitem),
        |  mx AS (SELECT max(rk) AS m FROM li WHERE l_orderkey % 10 <> 3),
        |  lat AS (SELECT count(*) AS dl FROM li, mx
        |          WHERE l_orderkey % 10 = 3 AND rk < m),
        |  liv AS (SELECT li.* FROM li, mx
        |          WHERE NOT (l_orderkey % 10 = 3 AND rk < m))
        |SELECT l_orderkey,
        |       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
        |       o_orderpriority,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |       (SELECT dl FROM lat) AS dropped_late
        |FROM customer, orders, liv
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND CAST(o_orderdate AS DATE) < DATE '1995-03-15'
        |  AND CAST(l_shipdate AS DATE) > DATE '1995-03-15'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
        |LIMIT 20""".stripMargin,
    // BOUNDED-DELAY over the partitioned transport: the withheld
    // lineitems ride at the END of the lineitem log sorted by event time
    // ascending, so each one's own-partition frontier is m = the last
    // ON-TIME lineitem's rank (an earlier straggler's time never exceeds
    // its successor's) — dropped iff rk < m − δ, ADMITTED (folds) iff
    // m − δ ≤ rk < m, on-time at rk ≥ m. δ = nl/20, the same data-derived
    // window as the single-log delayed variants; the other partitions'
    // event times never gate the lineitem log (per-partition watermarks).
    "stream_q3_event_time_delayed_partitioned" ->
      """WITH
        |  nn AS (SELECT (SELECT count(*) FROM lineitem) AS nl),
        |  li AS (SELECT *, row_number() OVER (ORDER BY l_orderkey, l_partkey,
        |             l_suppkey, l_linenumber, l_quantity, l_extendedprice,
        |             l_discount, l_tax, l_returnflag, l_linestatus,
        |             l_shipdate) AS rk
        |         FROM lineitem),
        |  m0 AS (SELECT max(rk) AS m FROM li WHERE l_orderkey % 10 <> 3),
        |  mx AS (SELECT m, m - nl // 20 AS cutoff FROM m0, nn),
        |  lat AS (SELECT count(*) AS dl FROM li, mx
        |          WHERE l_orderkey % 10 = 3 AND rk < cutoff),
        |  adm AS (SELECT count(*) AS al FROM li, mx
        |          WHERE l_orderkey % 10 = 3 AND rk >= cutoff AND rk < m),
        |  liv AS (SELECT li.* FROM li, mx
        |          WHERE NOT (l_orderkey % 10 = 3 AND rk < cutoff))
        |SELECT l_orderkey,
        |       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
        |       o_orderpriority,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |       (SELECT dl FROM lat) AS dropped_late,
        |       (SELECT al FROM adm) AS admitted_late
        |FROM customer, orders, liv
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND CAST(o_orderdate AS DATE) < DATE '1995-03-15'
        |  AND CAST(l_shipdate AS DATE) > DATE '1995-03-15'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
        |LIMIT 20""".stripMargin,
    // Lateness under retraction, all four totals in closed form: both
    // injection classes restrict to rank < nL (every deferred event
    // provably late), class %10=3 defers insert+delete (both dropped:
    // tombstone rule), class %10=7 defers the delete only (applied
    // late); the converged state must be exactly empty.
    "stream_q3_event_time_cycle" ->
      """WITH li AS (SELECT l_orderkey,
        |       row_number() OVER (ORDER BY l_orderkey, l_partkey,
        |           l_suppkey, l_linenumber, l_quantity, l_extendedprice,
        |           l_discount, l_tax, l_returnflag, l_linestatus,
        |           l_shipdate) AS rk,
        |       count(*) OVER () AS nl
        |     FROM lineitem)
        |SELECT
        |  (SELECT count(*) FROM li WHERE l_orderkey % 10 = 3 AND rk < nl)
        |    AS dropped_late_inserts,
        |  (SELECT count(*) FROM li WHERE l_orderkey % 10 = 3 AND rk < nl)
        |    AS dropped_late_deletes,
        |  (SELECT count(*) FROM li WHERE l_orderkey % 10 = 7 AND rk < nl)
        |    AS late_applied_deletes,
        |  CAST(0 AS BIGINT) AS live_groups""".stripMargin,
    // The mid-stream state, reconstructed in SQL from the generator's
    // closed-form trigger arithmetic: at prefix boundary T = ceil(4·nL/3)
    // (end of batch 2 of 3, capacity = nL) every insert has fired and the
    // deletes of rows with insertion trigger ≤ T − nL = cut have fired, so
    // a row is LIVE iff its trigger > cut. lineitem's trigger is its rank
    // over ALL streamed columns (key-complete = deterministic); orders'/
    // customer's is ceil(rank·nL/nTable) over their unique keys.
    "stream_q3_prefix_snapshot" ->
      """WITH
        |  nn AS (SELECT (SELECT count(*) FROM lineitem) AS nl,
        |                (SELECT count(*) FROM orders)   AS nor,
        |                (SELECT count(*) FROM customer) AS nc),
        |  d AS (SELECT (4*nl + 2) // 3 - nl AS cut, nl, nor, nc FROM nn),
        |  li AS (SELECT *, row_number() OVER (ORDER BY l_orderkey, l_partkey,
        |             l_suppkey, l_linenumber, l_quantity, l_extendedprice,
        |             l_discount, l_tax, l_returnflag, l_linestatus,
        |             l_shipdate) AS rk
        |         FROM lineitem),
        |  liv AS (SELECT li.* FROM li, d WHERE rk > cut),
        |  ork AS (SELECT *, row_number() OVER (ORDER BY o_orderkey) AS rk
        |          FROM orders),
        |  ov AS (SELECT ork.* FROM ork, d WHERE (rk*nl + nor - 1) // nor > cut),
        |  crk AS (SELECT *, row_number() OVER (ORDER BY c_custkey) AS rk
        |          FROM customer),
        |  cv AS (SELECT crk.* FROM crk, d WHERE (rk*nl + nc - 1) // nc > cut)
        |SELECT l_orderkey,
        |       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
        |       o_orderpriority,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM cv, ov, liv
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND CAST(o_orderdate AS DATE) < DATE '1995-03-15'
        |  AND CAST(l_shipdate AS DATE) > DATE '1995-03-15'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
        |LIMIT 20""".stripMargin,
    "stream_q3_full_cycle" ->
      """SELECT CAST(NULL AS BIGINT) AS l_orderkey,
        |       CAST(NULL AS VARCHAR) AS o_orderdate,
        |       CAST(NULL AS VARCHAR) AS o_orderpriority,
        |       CAST(NULL AS DOUBLE) AS revenue
        |WHERE 1 = 0""".stripMargin,
    // the spilled-state fold shares full_cycle's exact-cancellation
    // contract: every insert is eventually retracted, so the converged
    // aggregate — reconstructed through bucketed-table state — is EMPTY
    "stream_q3_spilled" ->
      """SELECT CAST(NULL AS BIGINT) AS l_orderkey,
        |       CAST(NULL AS VARCHAR) AS o_orderdate,
        |       CAST(NULL AS VARCHAR) AS o_orderpriority,
        |       CAST(NULL AS DOUBLE) AS revenue
        |WHERE 1 = 0""".stripMargin,
    // adaptive spill: wherever the state lived — heap before the
    // threshold, bucketed tables after the mid-run engagement — the
    // converged insert-only answer is the batch Q3 top-20, bit-exact
    "stream_q3_spill_adaptive" ->
      """SELECT l_orderkey,
        |       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
        |       o_orderpriority,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND CAST(o_orderdate AS DATE) < DATE '1995-03-15'
        |  AND CAST(l_shipdate AS DATE) > DATE '1995-03-15'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
        |LIMIT 20""".stripMargin,
    // the policy across a crash: the answer must be indifferent to the
    // fault, the resume, and where the state lived — same strong oracle
    "stream_q3_spill_adaptive_resume" ->
      """SELECT l_orderkey,
        |       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
        |       o_orderpriority,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND CAST(o_orderdate AS DATE) < DATE '1995-03-15'
        |  AND CAST(l_shipdate AS DATE) > DATE '1995-03-15'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
        |LIMIT 20""".stripMargin,
    // identical contract through the compatibility format (bucketed
    // parquet, pinned) — exact cancellation reconstructed through
    // catalog-registered bucketed tables
    "stream_q3_spilled_parquet" ->
      """SELECT CAST(NULL AS BIGINT) AS l_orderkey,
        |       CAST(NULL AS VARCHAR) AS o_orderdate,
        |       CAST(NULL AS VARCHAR) AS o_orderpriority,
        |       CAST(NULL AS DOUBLE) AS revenue
        |WHERE 1 = 0""".stripMargin,
    // mergelog-pinned twin: same exact-cancellation contract
    "stream_q3_spilled_mergelog" ->
      """SELECT CAST(NULL AS BIGINT) AS l_orderkey,
        |       CAST(NULL AS VARCHAR) AS o_orderdate,
        |       CAST(NULL AS VARCHAR) AS o_orderpriority,
        |       CAST(NULL AS DOUBLE) AS revenue
        |WHERE 1 = 0""".stripMargin,
    // same filters/join/revenue as Q3, different aggregation grain — the
    // converged answer of the generic-grain incremental engine
    "stream_agg_priority" ->
      """SELECT o_orderpriority,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND CAST(o_orderdate AS DATE) < DATE '1995-03-15'
        |  AND CAST(l_shipdate AS DATE) > DATE '1995-03-15'
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // fact-sized grain (per order date) off the same fold; n_items is the
    // maintained membership count (sum of z-set weights at the grain)
    "stream_agg_orderdate" ->
      """SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_items
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND CAST(o_orderdate AS DATE) < DATE '1995-03-15'
        |  AND CAST(l_shipdate AS DATE) > DATE '1995-03-15'
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    // non-invertible aggregates under retraction: converged insert-only
    // support = the whole orders table, so extrema equal the batch ones
    "stream_agg_extrema" ->
      """SELECT o_orderpriority,
        |       min(o_totalprice) AS min_price,
        |       max(o_totalprice) AS max_price,
        |       CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // rounded rationals use the bit-deterministic floor form and ALL-DOUBLE
    // leaves (DuckDB's bare numeric literals are DECIMALs — `0.3*(12/100.0)`
    // is exact decimal 0.036 while Spark computes doubles; at a decimal
    // midpoint like 0.5844375 the two round apart — see TextOps.round6)
    "text_stats" ->
      """SELECT doc_id,
        |  length(text) AS n_chars,
        |  len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        |  len(list_distinct(string_split_regex(trim(text), '\s+'))) AS n_distinct,
        |  floor((length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE / length(text)) * 1000000 + 0.5) / 1000000 AS alpha_ratio,
        |  floor((len(list_filter(string_split_regex(trim(text), '\s+'),
        |        x -> list_contains(['the','a','row','fast','of','and'], x)))::DOUBLE
        |        / len(string_split_regex(trim(text), '\s+'))) * 1000000 + 0.5) / 1000000 AS stopword_ratio,
        |  floor((0.3 * (length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE / length(text))
        |      + 0.3 * least(len(string_split_regex(trim(text), '\s+'))::DOUBLE / 100.0, 1.0)
        |      + 0.4 * (len(list_distinct(string_split_regex(trim(text), '\s+')))::DOUBLE
        |               / len(string_split_regex(trim(text), '\s+')))) * 1000000 + 0.5) / 1000000 AS quality
        |FROM documents""".stripMargin,
    "lang_id" ->
      """SELECT lang, predicted, count(*) AS n FROM (
        |  SELECT lang,
        |    CASE WHEN s_en = 0 AND s_es = 0 AND s_zh = 0 THEN 'und'
        |         WHEN s_en >= s_es AND s_en >= s_zh THEN 'en'
        |         WHEN s_es >= s_zh THEN 'es' ELSE 'zh' END AS predicted
        |  FROM (SELECT lang,
        |    len(list_filter(string_split_regex(trim(text),'\s+'), x -> list_contains(['the','a','row','fast'], x))) AS s_en,
        |    len(list_filter(string_split_regex(trim(text),'\s+'), x -> list_contains(['el','la','de','que'], x))) AS s_es,
        |    len(list_filter(string_split_regex(trim(text),'\s+'), x -> list_contains(['的','是'], x))) AS s_zh
        |  FROM documents) t) u
        |GROUP BY lang, predicted""".stripMargin,
    // NB: DuckDB SUM over integers yields HUGEINT (int128) — pandas turns
    // that into a dtype whose stringified values differ from Spark's int64,
    // failing the driver's value hash. Always CAST integer SUMs to BIGINT.
    "token_profile" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS ws_tokens,
        |  CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS bpe_tokens
        |FROM documents GROUP BY source""".stripMargin,
    // the Spark side is sketch-recall + exact-verify with a checked
    // completeness bound, so plain exact top-k is the equivalent oracle
    "text_frequent_tokens" ->
      """SELECT token, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        |      FROM documents)
        |GROUP BY token ORDER BY n DESC, token ASC LIMIT 20""".stripMargin,
    // streaming MG merge + exact verify must land on the identical top-20
    "stream_frequent_tokens" ->
      """SELECT token, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        |      FROM documents)
        |GROUP BY token ORDER BY n DESC, token ASC LIMIT 20""".stripMargin,
    "doc_fingerprint" ->
      """SELECT doc_id,
        |  list_min(g) AS fp,
        |  len(list_distinct(g)) AS n_grams
        |FROM (SELECT doc_id,
        |        list_transform(range(1, greatest(length(text) - 7, 1) + 1),
        |                       i -> md5(substr(text, i::INT, 8))) AS g
        |      FROM documents) t""".stripMargin,
    "text_repetition" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |t AS (SELECT doc_id, unnest(w) AS tok FROM d),
        |c AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
        |a AS (SELECT doc_id, max(c) AS top_c, CAST(sum(c) AS BIGINT) AS n_tokens FROM c GROUP BY 1),
        |b AS (SELECT doc_id,
        |        CASE WHEN len(w) >= 2
        |          THEN [w[i] || ' ' || w[i+1] for i in range(1, len(w))]
        |          ELSE [] END AS bg
        |      FROM d)
        |SELECT a.doc_id, a.n_tokens,
        |       floor((top_c / n_tokens) * 1000000 + 0.5) / 1000000 AS top_token_frac,
        |       CASE WHEN len(bg) > 0
        |         THEN floor((1.0::DOUBLE - len(list_distinct(bg))::DOUBLE / len(bg)) * 1000000 + 0.5) / 1000000
        |         ELSE 0.0 END AS dup_bigram_frac
        |FROM a JOIN b ON a.doc_id = b.doc_id""".stripMargin,
    // the seeding suffix must stay byte-identical to TextOps.redactPii
    "text_redact_pii" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |         || '@example.com from 10.' || CAST(doc_id % 256 AS VARCHAR)
        |         || '.0.' || CAST(doc_id % 100 AS VARCHAR)
        |         || ' or 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(t, '\b555-\d{4}\b')) AS BIGINT) AS n_phones,
        |  md5(regexp_replace(regexp_replace(regexp_replace(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |      '\b555-\d{4}\b', '<PHONE>', 'g')) AS redacted_md5
        |FROM s""".stripMargin,
    // BM25 (k1=1.2, b=0.75, Lucene idf) for the fixed 4-term query; the
    // arithmetic mirrors TextOps.bm25 operation-for-operation (doubles
    // are only oracle-stable when both engines run the same op order)
    "text_bm25" ->
      """WITH d AS (SELECT doc_id,
        |    len(string_split_regex(trim(text), '\s+'))::DOUBLE AS dl,
        |    len(list_filter(string_split_regex(trim(text), '\s+'), x -> x = 'hash'))::DOUBLE AS tf_hash,
        |    len(list_filter(string_split_regex(trim(text), '\s+'), x -> x = 'join'))::DOUBLE AS tf_join,
        |    len(list_filter(string_split_regex(trim(text), '\s+'), x -> x = 'stream'))::DOUBLE AS tf_stream,
        |    len(list_filter(string_split_regex(trim(text), '\s+'), x -> x = 'vector'))::DOUBLE AS tf_vector
        |  FROM documents),
        |s AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl,
        |    sum(CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END)::DOUBLE AS df_hash,
        |    sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END)::DOUBLE AS df_join,
        |    sum(CASE WHEN tf_stream > 0 THEN 1 ELSE 0 END)::DOUBLE AS df_stream,
        |    sum(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END)::DOUBLE AS df_vector
        |  FROM d)
        |SELECT doc_id, floor((
        |    (CASE WHEN tf_hash > 0 THEN ln((n - df_hash + 0.5) / (df_hash + 0.5) + 1.0)
        |       * (tf_hash * 2.2) / (tf_hash + 1.2 * (0.25 + 0.75 * dl / avgdl)) ELSE 0.0 END
        |   + CASE WHEN tf_join > 0 THEN ln((n - df_join + 0.5) / (df_join + 0.5) + 1.0)
        |       * (tf_join * 2.2) / (tf_join + 1.2 * (0.25 + 0.75 * dl / avgdl)) ELSE 0.0 END)
        |   + CASE WHEN tf_stream > 0 THEN ln((n - df_stream + 0.5) / (df_stream + 0.5) + 1.0)
        |       * (tf_stream * 2.2) / (tf_stream + 1.2 * (0.25 + 0.75 * dl / avgdl)) ELSE 0.0 END
        |   + CASE WHEN tf_vector > 0 THEN ln((n - df_vector + 0.5) / (df_vector + 0.5) + 1.0)
        |       * (tf_vector * 2.2) / (tf_vector + 1.2 * (0.25 + 0.75 * dl / avgdl)) ELSE 0.0 END
        |  ) * 10000 + 0.5) / 10000 AS bm25
        |FROM d, s ORDER BY bm25 DESC, doc_id LIMIT 50""".stripMargin,
    // tf·idf keywords: score = tf/df over the df≥2 vocabulary, top 3 per
    // doc, ties broken by term — ranking deterministic on both engines
    "text_tfidf_keywords" ->
      """WITH tf AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |tfc AS (SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY doc_id, term),
        |dfv AS (SELECT term, count(*) AS df FROM tfc
        |        GROUP BY term HAVING count(*) >= 2),
        |s AS (SELECT tfc.doc_id, tfc.term, tfc.tf, dfv.df,
        |        floor(CAST(tfc.tf AS DOUBLE) / CAST(dfv.df AS DOUBLE)
        |              * 1000000.0 + 0.5) / 1000000.0 AS score
        |      FROM tfc JOIN dfv USING (term)),
        |r AS (SELECT *, row_number() OVER (
        |        PARTITION BY doc_id ORDER BY score DESC, term) AS rank FROM s)
        |SELECT doc_id, CAST(rank AS INT) AS rank, term,
        |       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    // bigram LM score: vocabulary = bigrams in ≥2 distinct docs; per-doc
    // known-occurrence fraction + mean df of known occurrences, integer
    // counts with one division each then the floor-based round6
    "text_lm_bigram_score" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |bgl AS (SELECT doc_id,
        |    CASE WHEN len(w) >= 2
        |         THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
        |         ELSE [] END AS bg FROM d),
        |occ AS (SELECT doc_id, unnest(bg) AS b FROM bgl),
        |model AS (SELECT b, count(DISTINCT doc_id) AS df FROM occ
        |          GROUP BY b HAVING count(DISTINCT doc_id) >= 2),
        |known AS (SELECT occ.doc_id, count(*) AS n_known, sum(df) AS sum_df
        |          FROM occ JOIN model USING (b) GROUP BY occ.doc_id)
        |SELECT bgl.doc_id, CAST(len(bg) AS BIGINT) AS n_bigrams,
        |       CAST(COALESCE(n_known, 0) AS BIGINT) AS n_known,
        |       CASE WHEN len(bg) > 0
        |            THEN floor(CAST(COALESCE(n_known, 0) AS DOUBLE)
        |                       / CAST(len(bg) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
        |            ELSE 0.0 END AS known_frac,
        |       CASE WHEN COALESCE(n_known, 0) > 0
        |            THEN floor(CAST(sum_df AS DOUBLE)
        |                       / CAST(n_known AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
        |            ELSE 0.0 END AS avg_known_df
        |FROM bgl LEFT JOIN known ON bgl.doc_id = known.doc_id
        |ORDER BY bgl.doc_id""".stripMargin,
    "text_inverted_index" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2),
        |tot AS (SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
        |        FROM tf GROUP BY term HAVING count(*) >= 5)
        |SELECT tf.term, tf.doc_id % 8 AS shard, tot.df, tot.total_tf,
        |       string_agg(tf.doc_id || ':' || tf.tf, ',' ORDER BY tf.doc_id) AS postings
        |FROM tf JOIN tot USING (term)
        |GROUP BY 1, 2, 3, 4 ORDER BY term, shard""".stripMargin,
    // Term-batch lookup over the index: the oracle recomputes the top-20
    // straight from documents (tf, df ≥ 5, bm25 idf, per-term round6 then
    // exact-decimal sum), so equality proves the index round-trip:
    // build → serialize postings → parse → score ≡ score-from-scratch
    "text_index_lookup" -> indexLookupOracle,
    // persisted read path: identical contract, scored off the parquet
    // index with the term filter pushed to the scan
    "text_index_lookup_persisted" -> indexLookupOracle,
    // chr(769)/chr(771) = the combining acute/tilde the Spark side seeds
    "text_normalize" ->
      """WITH s AS (SELECT text || ' cafe' || chr(769) || ' nin' || chr(771) || 'o' AS raw
        |           FROM documents),
        |n AS (SELECT raw, nfc_normalize(raw) AS norm FROM s)
        |SELECT count(*) AS n_docs,
        |       CAST(sum(length(raw)) AS BIGINT) AS raw_cp,
        |       CAST(sum(length(norm)) AS BIGINT) AS norm_cp,
        |       CAST(sum(CASE WHEN norm != raw THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |       CAST(sum(CAST(concat('0x', substr(md5(norm), 1, 15)) AS BIGINT) % 1000000000)
        |            AS BIGINT) AS content_sum
        |FROM n""".stripMargin,
    "dedup_exact" ->
      """SELECT count(*) AS n_docs,
        |       count(DISTINCT md5(text)) AS n_unique,
        |       count(*) - count(DISTINCT md5(text)) AS n_dup_docs
        |FROM documents""".stripMargin,
    "dedup_ngram_jaccard" -> dedupJaccardOracle(0.8),
    "dedup_minhash_lsh" -> dedupJaccardOracle(0.8),
    // prefix filtering is exact-recall by the prefix-filter theorem, so it
    // shares the exact-Jaccard oracle with the inverted-index and MinHash
    // spellings verbatim
    "dedup_prefix_filter" -> dedupJaccardOracle(0.8),
    // Levenshtein audit over the same exact-Jaccard pair set (MinHash is
    // full-recall-verified ≡ exact pairs); both engines' levenshtein is
    // the classic unit-cost DP, prefix-bounded
    // ASCII-folded prefixes (non-ASCII -> '_') on BOTH sides: the two
    // engines' levenshtein character units are only guaranteed to agree
    // on a single-byte alphabet (ADVICE r5; zh fixture docs)
    "dedup_edit_distance" ->
      s"""WITH pairs AS (${dedupJaccardOracle(0.8)})
        |SELECT pairs.doc_a, pairs.doc_b,
        |       levenshtein(regexp_replace(substr(a.text, 1, 120), '[^\\x00-\\x7F]', '_', 'g'),
        |                   regexp_replace(substr(b.text, 1, 120), '[^\\x00-\\x7F]', '_', 'g')) AS edit_distance
        |FROM pairs
        |JOIN documents a ON a.doc_id = pairs.doc_a
        |JOIN documents b ON b.doc_id = pairs.doc_b
        |ORDER BY pairs.doc_a, pairs.doc_b""".stripMargin,
    // same feasible-form exact-Jaccard oracle, restricted to base×delta
    // across the trailing-10%-of-ids split the operator uses
    "dedup_incremental" -> incrementalJaccardOracle,
    // true streaming run, batching-invariant by construction -> shares the
    // batch query's oracle verbatim
    "stream_dedup_incremental" -> incrementalJaccardOracle,
    // brute-force delta-vs-base cosine top-K: the streaming ingest's LSH
    // path is full-recall (same family argument as ann_lsh) and
    // exact-reranked, and each delta vector scores against the fixed base
    // exactly once, so the accumulated micro-batch union must equal it
    "stream_ann_incremental" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |k AS (SELECT (max(vec_id) * 9) // 10 AS split FROM v),
        |p AS (
        |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |         list_sum(list_transform(list_zip(q.e, n.e), x -> x[1]*x[2]))
        |         / (sqrt(list_sum(list_transform(q.e, x -> x*x)))
        |            * sqrt(list_sum(list_transform(n.e, x -> x*x)))) AS c
        |  FROM v q, v n, k
        |  WHERE q.vec_id >= k.split AND n.vec_id < k.split)
        |SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id,
        |       round(c, 6) AS cosine FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |            ORDER BY c DESC, neighbor_id) AS rnk
        |  FROM p) t
        |WHERE rnk <= 5""".stripMargin,

    "dedup_simhash" -> dedupJaccardOracle(0.9),
    "dedup_embedding_cosine" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
        |         list_sum(list_transform(list_zip(a.e, b.e), x -> x[1]*x[2]))
        |         / (sqrt(list_sum(list_transform(a.e, x -> x*x)))
        |            * sqrt(list_sum(list_transform(b.e, x -> x*x)))) AS c
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id)
        |SELECT doc_a, doc_b, round(c, 6) AS cosine FROM p
        |WHERE c >= 0.4 ORDER BY doc_a, doc_b""".stripMargin,
    // connected components over the near-dup pairs via recursive
    // reachability (fixture-scale); the Spark side is min-label propagation
    // — both assign min reachable doc_id per component
    // 8-token windows, ≥2 distinct docs; same tokenizer as the shingles
    "dedup_substring" -> dedupSubstringOracle,
    // the hashed recall stage only FILTERS (conflation can't lose a true
    // repeat) and the verify stage recounts exactly — so the variant is
    // checked against the very same oracle as the exact form
    "dedup_substring_hashed" -> dedupSubstringOracle,
    "dedup_span_rewrite" -> Dedup.spanRewriteOracleSql,
    // clusters (recursive reachability, as dedup_clusters) → keeper =
    // argmax(rounded quality, ties to smallest doc_id); singletons self-map
    "dedup_canonical" ->
      s"""WITH RECURSIVE pairs AS (${dedupJaccardOracle(0.8)}),
        |edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT s, s FROM edges
        |  UNION
        |  SELECT e.s, reach.r FROM edges e JOIN reach ON reach.id = e.d),
        |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        |q AS (SELECT doc_id,
        |  floor((0.3 * (length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE / length(text))
        |      + 0.3 * least(len(string_split_regex(trim(text), '\\s+'))::DOUBLE / 100.0, 1.0)
        |      + 0.4 * (len(list_distinct(string_split_regex(trim(text), '\\s+')))::DOUBLE
        |               / len(string_split_regex(trim(text), '\\s+')))) * 1000000 + 0.5) / 1000000 AS q
        |  FROM documents),
        |l AS (SELECT q.doc_id, q.q, COALESCE(lab.cluster_id, q.doc_id) AS cid
        |      FROM q LEFT JOIN lab ON lab.id = q.doc_id)
        |SELECT doc_id, canonical_id, doc_id = canonical_id AS kept FROM (
        |  SELECT doc_id, CAST(first_value(doc_id) OVER (
        |      PARTITION BY cid ORDER BY q DESC, doc_id) AS BIGINT) AS canonical_id
        |  FROM l) c
        |ORDER BY doc_id""".stripMargin,
    "dedup_clusters" ->
      s"""WITH RECURSIVE pairs AS (${dedupJaccardOracle(0.8)}),
        |edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT s, s FROM edges
        |  UNION
        |  SELECT e.s, reach.r FROM edges e JOIN reach ON reach.id = e.d),
        |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT id AS doc_id, cluster_id,
        |       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS csize
        |FROM lab ORDER BY doc_id""".stripMargin,
    "ann_brute_force" -> annTopKOracle,
    // range search: same dot/norm op sequence, row-local τ filter on the
    // raw cosine; rounding is display-only
    "ann_range_search" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |p AS (
        |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |         list_sum(list_transform(list_zip(q.e, n.e), x -> x[1]*x[2]))
        |         / (sqrt(list_sum(list_transform(q.e, x -> x*x)))
        |            * sqrt(list_sum(list_transform(n.e, x -> x*x)))) AS c
        |  FROM v q JOIN v n ON n.vec_id != q.vec_id WHERE q.vec_id < ${Similarity.NumQueries})
        |SELECT query_id, neighbor_id, round(c, 6) AS cosine
        |FROM p WHERE c >= 0.30
        |ORDER BY query_id, neighbor_id""".stripMargin,
    // Same oracle as brute force: the LSH/IVF defaults are the full-recall
    // regime at verification scale, and candidates are exact-reranked, so
    // the approximate paths must reproduce the exact top-K bit-for-bit.
    "ann_lsh" -> annTopKOracle,
    "ann_ivf" -> annTopKOracle,
    // Recall<1 gate: DuckDB REGENERATES the weak md5-derived hash family
    // (same strings, same md5, same '0'..'7'→+1 sign rule), re-runs the
    // bucket→candidate→exact-rerank pipeline, scores it against the exact
    // top-K, and must land on the IDENTICAL per-query recall histogram.
    // Projections are the same left-fold double sums on both engines
    // (list_sum∘list_zip ≡ the codegen'd DotProduct), so the sign bits —
    // and hence the candidate sets — cannot diverge.
    "ann_lsh_recall" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |coefs AS (
        |  SELECT r1.t, r2.b, r3.i,
        |         CASE WHEN substr(md5('graft_lsh_' || r1.t || '_' || r2.b || '_' || r3.i), 1, 1) < '8'
        |              THEN 1.0 ELSE -1.0 END AS coef
        |  FROM range(${Similarity.RecallTables}) r1(t), range(${Similarity.RecallBits}) r2(b), range(${Similarity.RecallDim}) r3(i)),
        |coefl AS (SELECT t, b, list(coef ORDER BY i) AS cl FROM coefs GROUP BY t, b),
        |sig AS (
        |  SELECT v.vec_id, c.t,
        |         sum(CASE WHEN list_sum(list_transform(list_zip(v.e, c.cl), x -> x[1]*x[2])) >= 0
        |                  THEN 1 << c.b ELSE 0 END) AS bucket
        |  FROM v, coefl c GROUP BY v.vec_id, c.t),
        |cand AS (
        |  SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
        |  FROM sig q JOIN sig n ON n.t = q.t AND n.bucket = q.bucket AND n.vec_id != q.vec_id
        |  WHERE q.vec_id < ${Similarity.NumQueries}),
        |scored AS (
        |  SELECT c.query_id, c.neighbor_id,
        |         list_sum(list_transform(list_zip(q.e, n.e), x -> x[1]*x[2]))
        |         / (sqrt(list_sum(list_transform(q.e, x -> x*x)))
        |            * sqrt(list_sum(list_transform(n.e, x -> x*x)))) AS c
        |  FROM cand c JOIN v q ON q.vec_id = c.query_id
        |              JOIN v n ON n.vec_id = c.neighbor_id),
        |ap AS (SELECT query_id, neighbor_id FROM (
        |         SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rnk
        |         FROM scored) t WHERE rnk <= 5),
        |px AS (
        |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |         list_sum(list_transform(list_zip(q.e, n.e), x -> x[1]*x[2]))
        |         / (sqrt(list_sum(list_transform(q.e, x -> x*x)))
        |            * sqrt(list_sum(list_transform(n.e, x -> x*x)))) AS c
        |  FROM v q JOIN v n ON n.vec_id != q.vec_id WHERE q.vec_id < ${Similarity.NumQueries}),
        |ex AS (SELECT query_id, neighbor_id FROM (
        |         SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rnk
        |         FROM px) t WHERE rnk <= 5),
        |hit AS (
        |  SELECT e.query_id, count(a.neighbor_id) AS hits
        |  FROM ex e LEFT JOIN ap a
        |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        |  GROUP BY e.query_id)
        |SELECT CAST(hits AS INTEGER) AS hits, count(*) AS n_queries
        |FROM hit GROUP BY hits ORDER BY hits""".stripMargin,
    // IVF recall<1 gate: the quantizer is DATA-derived (centroid j = the
    // vector at vec_id 7j+3), so DuckDB regenerates it from the same
    // table, replays assign → probe-2 → exact-rerank with the identical
    // argmax-cosine tie rule (cc DESC, cell ASC), and must land on the
    // identical per-query recall histogram.
    "ann_ivf_recall" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v),
        |c AS (SELECT CAST((vec_id - 3) // 7 AS INTEGER) AS cell, e AS ce, nrm AS cn
        |      FROM n WHERE vec_id >= 3 AND vec_id < 3 + 7 * ${Similarity.IvfRecallCells}
        |        AND (vec_id - 3) % 7 = 0),
        |cc AS (SELECT n.vec_id, c.cell,
        |         list_sum(list_transform(list_zip(n.e, c.ce), x -> x[1]*x[2]))
        |           / (n.nrm * c.cn) AS cc
        |       FROM n, c),
        |a AS (SELECT vec_id, cell FROM (
        |        SELECT vec_id, cell,
        |               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cell) AS rn
        |        FROM cc) t WHERE rn = 1),
        |p AS (SELECT vec_id AS query_id, cell FROM (
        |        SELECT vec_id, cell,
        |               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cell) AS rn
        |        FROM cc WHERE vec_id < ${Similarity.NumQueries}) t
        |      WHERE rn <= ${Similarity.IvfRecallProbes}),
        |cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
        |         FROM p JOIN a USING (cell) WHERE a.vec_id != p.query_id),
        |scored AS (SELECT cand.query_id, cand.neighbor_id,
        |         list_sum(list_transform(list_zip(q.e, b.e), x -> x[1]*x[2]))
        |           / (q.nrm * b.nrm) AS cs
        |       FROM cand JOIN n q ON q.vec_id = cand.query_id
        |                 JOIN n b ON b.vec_id = cand.neighbor_id),
        |ap AS (SELECT query_id, neighbor_id FROM (
        |         SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rnk
        |         FROM scored) t WHERE rnk <= 5),
        |ex AS (SELECT query_id, neighbor_id FROM (
        |         SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
        |                ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |                  list_sum(list_transform(list_zip(q.e, b.e), x -> x[1]*x[2]))
        |                    / (q.nrm * b.nrm) DESC, b.vec_id) AS rnk
        |         FROM n q JOIN n b ON b.vec_id != q.vec_id
        |         WHERE q.vec_id < ${Similarity.NumQueries}) t WHERE rnk <= 5),
        |hit AS (
        |  SELECT e.query_id, count(a2.neighbor_id) AS hits
        |  FROM ex e LEFT JOIN ap a2
        |    ON a2.query_id = e.query_id AND a2.neighbor_id = e.neighbor_id
        |  GROUP BY e.query_id)
        |SELECT CAST(hits AS INTEGER) AS hits, count(*) AS n_queries
        |FROM hit GROUP BY hits ORDER BY hits""".stripMargin,
    "ann_mmr" -> Similarity.annMmrOracleSql,
    // REAL-codec features (r6): bin-6 of the 16-bin histogram over DECODED
    // channel values covers values 96–111; the oracle recomputes the
    // closed-form pixels, so equality proves javax.imageio's decode fed
    // the histogram (not the encoded bytes).
    "multimodal_features" ->
      """WITH px AS (SELECT i // 16 AS x, i % 16 AS y FROM range(256) t(i)),
        |ch AS (SELECT c FROM range(3) t(c)),
        |v AS (SELECT d.doc_id, d.source,
        |        ((d.doc_id % 1000003) * 31 + px.x * 7 + px.y * 13 + ch.c * 5) % 256 AS val
        |      FROM documents d, px, ch)
        |SELECT source, CAST(count(*) // 768 AS BIGINT) AS n_docs,
        |       CAST(SUM(val) AS BIGINT) AS px_total,
        |       CAST(SUM(CASE WHEN val // 16 = 6 THEN 1 ELSE 0 END) AS BIGINT) AS bin6_px
        |FROM v GROUP BY source""".stripMargin,
    // REAL-codec frame sampling (r6): every 25th PCM16 sample of the
    // decoded WAV; the oracle recomputes each signed amplitude from the
    // closed form, proving the sampled values came through the container.
    "multimodal_frames" ->
      """WITH f AS (SELECT i FROM range(11) t(i))
        |SELECT d.doc_id, CAST(f.i AS INTEGER) AS frame_no,
        |       CAST(((d.doc_id % 1000003) * 31 + f.i * 25 * 17) % 65536 - 32768 AS INTEGER) AS amplitude
        |FROM documents d, f""".stripMargin,
    // REAL-codec resize (r6): 16×16 → 4×4 box pooling of the decoded
    // image, exact per-channel integer block sums recomputed closed-form.
    "multimodal_resize" ->
      """WITH b AS (SELECT i // 4 AS bx, i % 4 AS by FROM range(16) t(i)),
        |o AS (SELECT i // 4 AS dx, i % 4 AS dy FROM range(16) t(i))
        |SELECT d.doc_id, CAST(b.bx AS INTEGER) AS bx, CAST(b.by AS INTEGER) AS by,
        |       CAST(SUM(((d.doc_id % 1000003) * 31 + (b.bx*4+o.dx)*7 + (b.by*4+o.dy)*13) % 256) AS BIGINT) AS r_sum,
        |       CAST(SUM(((d.doc_id % 1000003) * 31 + (b.bx*4+o.dx)*7 + (b.by*4+o.dy)*13 + 5) % 256) AS BIGINT) AS g_sum,
        |       CAST(SUM(((d.doc_id % 1000003) * 31 + (b.bx*4+o.dx)*7 + (b.by*4+o.dy)*13 + 10) % 256) AS BIGINT) AS b_sum
        |FROM documents d, b, o
        |GROUP BY d.doc_id, b.bx, b.by""".stripMargin,
    // Composed intake (r6): PNG files on disk → binaryFile source →
    // javax.imageio decode → per-source stats; oracle recomputes the
    // closed-form pixel mass, proving encode → file → source → decode.
    "multimodal_binary_pipeline" ->
      """WITH px AS (SELECT i // 16 AS x, i % 16 AS y FROM range(256) t(i)),
        |ch AS (SELECT c FROM range(3) t(c))
        |SELECT d.source, CAST(count(*) // 768 AS BIGINT) AS n_docs,
        |       CAST(SUM(((d.doc_id % 1000003) * 31 + px.x * 7 + px.y * 13 + ch.c * 5) % 256) AS BIGINT) AS px_total
        |FROM documents d, px, ch
        |GROUP BY d.source""".stripMargin,
    "multimodal_ingest" ->
      """SELECT doc_id, 'text/plain' AS mime,
        |       octet_length(encode(text)) AS n_bytes,
        |       md5(text) AS checksum
        |FROM documents""".stripMargin,
    // binaryFile-source roundtrip: the file length + content checksum must
    // reproduce the documents table exactly
    "source_binary_files" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       md5(text) AS checksum
        |FROM documents ORDER BY doc_id""".stripMargin,
    // closed-form recomputation of the synthesized pixels: equality holds
    // only if Spark's REAL PNG encode->decode roundtrip (javax.imageio)
    // preserved every 8-bit channel value
    "multimodal_image_decode" ->
      """WITH px AS (SELECT i // 16 AS x, i % 16 AS y FROM range(256) t(i)),
        |ch AS (SELECT c FROM range(3) t(c))
        |SELECT d.doc_id, 16 AS width, 16 AS height,
        |       CAST(SUM(((d.doc_id % 1000003) * 31 + px.x * 7 + px.y * 13 + ch.c * 5) % 256) AS BIGINT) AS px_sum
        |FROM documents d, px, ch
        |GROUP BY d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // WAV twin: the closed-form PCM16 signal recomputed without the
    // container — equality proves the real RIFF/WAV encode->decode
    "multimodal_audio_decode" ->
      """WITH s AS (SELECT i FROM range(256) t(i))
        |SELECT d.doc_id, 256 AS n_samples, 8000 AS sample_rate,
        |       CAST(SUM(((d.doc_id % 1000003) * 31 + s.i * 17) % 65536 - 32768) AS BIGINT) AS amp_sum
        |FROM documents d, s
        |GROUP BY d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "pipeline_curation" -> s"""
      |WITH pairs AS (${dedupJaccardOracle(0.8)}),
      |toks AS (SELECT *, string_split_regex(trim(text), '\\s+') AS w FROM documents),
      |q AS (SELECT * FROM toks WHERE
      |    0.3 * (length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE / length(text))
      |  + 0.3 * least(len(w)::DOUBLE / 100.0, 1.0)
      |  + 0.4 * (len(list_distinct(w))::DOUBLE / len(w)) >= 0.5),
      |ke AS (SELECT * FROM (SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep FROM q) t
      |       WHERE doc_id = keep),
      |kept AS (SELECT * FROM ke WHERE doc_id NOT IN (SELECT doc_b FROM pairs))
      |SELECT source, count(*) AS n_docs, CAST(SUM(len(w)) AS BIGINT) AS kept_tokens
      |FROM kept GROUP BY source""".stripMargin,
    // Deterministic hash-bucket membership (md5 of the key, first 15 hex
    // chars as int64, mod 1000) — identical arithmetic on both engines, so
    // split/sample MEMBERSHIP is bit-reproducible, unlike seeded RNG
    // sampling which is engine- and partitioning-dependent.
    "pipeline_split" ->
      """WITH b AS (
        |  SELECT text,
        |         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 AS bkt
        |  FROM documents)
        |SELECT CASE WHEN bkt < 800 THEN 'train'
        |            WHEN bkt < 900 THEN 'val' ELSE 'test' END AS split,
        |       count(*) AS n_docs,
        |       CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
        |FROM b GROUP BY 1""".stripMargin,
    "pipeline_reservoir" -> operators.Pipelines.reservoirOracleSql,
    "pipeline_negatives" -> operators.Pipelines.negativePairsOracleSql,
    "profile_winsorize" -> operators.Profiling.winsorizeOracleSql,
    "pipeline_sample" ->
      """WITH c AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
        |m AS (SELECT min(n_s) AS n_min FROM c),
        |r AS (SELECT source, (500 * n_min) // n_s AS thr FROM c, m)
        |SELECT doc_id, d.source FROM documents d JOIN r ON d.source = r.source
        |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < thr
        |ORDER BY doc_id""".stripMargin,
    "pipeline_decontaminate" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |         for i in range(1, len(w) - 1)]) AS s
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents) t),
        |grams AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0)
        |SELECT grams.doc_id, count(DISTINCT grams.g) AS n_contaminated_grams
        |FROM grams JOIN bench USING (g)
        |WHERE grams.doc_id % 20 != 0
        |GROUP BY grams.doc_id ORDER BY doc_id""".stripMargin,
    // concatenate in doc_id order, cut every 2048 tokens: a doc's sequence
    // is where it starts; the running sum is the one order-dependent step
    "pipeline_pack" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS before
        |  FROM d)
        |SELECT doc_id, n_tokens,
        |       before // 2048 AS seq_id,
        |       before % 2048 AS seq_offset
        |FROM c ORDER BY doc_id""".stripMargin,
    // same deterministic change derivation; upsert ≡ changes ∪ untouched base
    "pipeline_cdc_upsert" ->
      """WITH changes AS (
        |  SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice,
        |         CAST(1 AS BIGINT) AS version
        |  FROM orders WHERE o_orderkey % 10 = 0)
        |SELECT * FROM changes
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, CAST(0 AS BIGINT) AS version
        |FROM orders b
        |WHERE NOT EXISTS (SELECT 1 FROM changes c WHERE c.o_orderkey = b.o_orderkey)""".stripMargin,
    // 32-token windows, stride 24; token = single-space split (the chunk
    // contract is positional, so the splitter must preserve positions —
    // no trim/collapse)
    "pipeline_chunk" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
        |SELECT doc_id,
        |       CAST(s.start // 24 AS BIGINT) AS chunk_idx,
        |       array_to_string(tk[s.start+1 : s.start+32], ' ') AS chunk_text,
        |       CAST(least(32, len(tk) - s.start) AS BIGINT) AS n_tokens
        |FROM toks, LATERAL (SELECT unnest(generate_series(0, len(tk)-1, 24)) AS start) s""".stripMargin,
    // stride-scheduled weighted merge of hash-shuffled strata; weights
    // {1,2,3} from the source number, emission key (rnk-1)*(6/w)
    "pipeline_interleave" ->
      """WITH ranked AS (
        |  SELECT source, doc_id,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY md5(CAST(doc_id AS VARCHAR) || ':' || source), doc_id) AS rnk,
        |         1 + (COALESCE(TRY_CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT), 0) % 3) AS w
        |  FROM documents)
        |SELECT CAST(row_number() OVER (ORDER BY (rnk-1) * (6 // w), source, rnk) AS BIGINT) AS pos,
        |       source, doc_id
        |FROM ranked""".stripMargin,
    // the shuffle keys are md5 over distinct doc_ids, hence collision-free
    // distinct: both engines' total orders are identical, rank by rank
    "pipeline_epoch_shuffle" ->
      """WITH e0 AS (SELECT doc_id, row_number() OVER (
        |         ORDER BY md5('0:' || CAST(doc_id AS VARCHAR))) AS pos_e0
        |       FROM documents),
        |e1 AS (SELECT doc_id, row_number() OVER (
        |         ORDER BY md5('1:' || CAST(doc_id AS VARCHAR))) AS pos_e1
        |       FROM documents)
        |SELECT e0.doc_id, pos_e0, pos_e1
        |FROM e0 JOIN e1 USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "pipeline_scd2" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id, event_type AS state,
        |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (SELECT user_id, ts, event_id, state
        |      FROM e WHERE prev IS NULL OR prev <> state)
        |SELECT user_id, state, ts AS valid_from,
        |       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        |       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
        |FROM c""".stripMargin,
    // α=0.5 temperature mixture: per-source √tokens snapped to a scaled
    // long BEFORE the normalizing sum (integer total — addend-order-proof),
    // then weight and implied epochs against a 1M-token budget, mirroring
    // snapshot diff: v1 derived closed-form (drop doc_id%10==0, suffix the
    // text where doc_id%7==0), v2 = documents; ids+hashes only
    "pipeline_dataset_diff" ->
      """WITH v1 AS (
        |  SELECT doc_id AS k1,
        |         md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [v1]' ELSE text END) AS h1
        |  FROM documents WHERE doc_id % 10 != 0),
        |v2 AS (SELECT doc_id AS k2, md5(text) AS h2 FROM documents),
        |d AS (
        |  SELECT COALESCE(k1, k2) AS doc_id,
        |         CASE WHEN k1 IS NULL THEN 'added'
        |              WHEN k2 IS NULL THEN 'removed'
        |              WHEN h1 != h2 THEN 'changed'
        |              ELSE 'unchanged' END AS status
        |  FROM v1 FULL OUTER JOIN v2 ON k1 = k2)
        |SELECT status, count(*) AS n, min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM d GROUP BY status ORDER BY status""".stripMargin,
    // Pipelines.mixtureWeights operation-for-operation
    "pipeline_mixture_weights" ->
      """WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |w AS (SELECT source, n_docs, n_tokens,
        |        CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS w_scaled
        |      FROM per),
        |t AS (SELECT SUM(w_scaled) AS w_tot FROM w)
        |SELECT source, n_docs, n_tokens,
        |       floor(CAST(w_scaled AS DOUBLE) / CAST(w_tot AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS weight,
        |       floor(CAST(w_scaled AS DOUBLE) / CAST(w_tot AS DOUBLE) * 1000000.0
        |             / CAST(n_tokens AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS epochs
        |FROM w, t ORDER BY source""".stripMargin,
    "pipeline_funnel" ->
      """SELECT stage, count(*) AS n_users FROM (
        |  SELECT CASE WHEN first_view IS NULL THEN 'no_view'
        |              WHEN first_click IS NULL OR first_click <= first_view THEN 'view_only'
        |              WHEN first_purchase IS NULL OR first_purchase <= first_click THEN 'view_click'
        |              ELSE 'view_click_purchase' END AS stage
        |  FROM (SELECT user_id,
        |          MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
        |          MIN(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
        |          MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
        |        FROM events GROUP BY user_id) t) u
        |GROUP BY stage""".stripMargin,
    "pipeline_retention" ->
      """WITH pu AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
        |            FROM events GROUP BY user_id),
        |ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |act AS (SELECT cohort_day, CAST(d - cohort_day AS BIGINT) AS day_offset,
        |               count(*) AS n_active
        |        FROM ud JOIN pu USING (user_id) GROUP BY 1, 2)
        |SELECT a.cohort_day, a.day_offset, a.n_active, s.n_active AS cohort_size
        |FROM act a JOIN act s ON s.cohort_day = a.cohort_day AND s.day_offset = 0
        |ORDER BY a.cohort_day, a.day_offset""".stripMargin,
    "window_tumbling" ->
      """SELECT CAST(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS VARCHAR) AS window_start,
        |       event_type, count(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM events GROUP BY 1, 2""".stripMargin,
    "window_sliding" ->
      """WITH w AS (
        |  SELECT unnest([time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)),
        |                 time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) - INTERVAL '1 hour']) AS ws,
        |         user_id
        |  FROM events)
        |SELECT CAST(ws AS VARCHAR) AS window_start, count(*) AS n,
        |       count(DISTINCT user_id) AS n_users
        |FROM w GROUP BY 1""".stripMargin,
    "window_session" ->
      """WITH x AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |b AS (SELECT user_id, ts, value,
        |        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |               OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL '12 hours'
        |             THEN 1 ELSE 0 END AS brk
        |      FROM x),
        |s AS (SELECT user_id, ts, value,
        |        SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM b)
        |SELECT user_id, strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |       count(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM s GROUP BY user_id, sid""".stripMargin,
    // the finalized-window set of the real streaming run: every window
    // whose end is at or before the terminal watermark max(ts) - 1h
    "stream_windows_tumbling" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
        |b AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, event_type,
        |             count(*) AS n,
        |             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |      FROM e GROUP BY 1, 2)
        |SELECT CAST(ws AS VARCHAR) AS window_start, event_type, n, value_sum
        |FROM b
        |WHERE ws + INTERVAL '1 hour' <= (SELECT max(ts) - INTERVAL '1 hour' FROM e)""".stripMargin,
    // late-data drop: the oldest hour's even-user rows arrive AFTER the
    // watermark passed their window end and are dropped — the oracle is
    // the tumbling aggregate over the ON-TIME prefix only
    "stream_windows_late" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value FROM events),
        |thr AS (SELECT time_bucket(INTERVAL '1 hour', min(ts)) + INTERVAL '1 hour' AS fhe,
        |               max(ts) - INTERVAL '1 hour' AS wm FROM e),
        |ontime AS (SELECT ts, event_type, value FROM e, thr
        |           WHERE NOT (ts < thr.fhe AND user_id % 2 = 0)),
        |b AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, event_type,
        |             count(*) AS n,
        |             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |      FROM ontime GROUP BY 1, 2)
        |SELECT CAST(ws AS VARCHAR) AS window_start, event_type, n, value_sum
        |FROM b, thr WHERE ws + INTERVAL '1 hour' <= thr.wm""".stripMargin,
    // two overlapping 1h-aligned buckets per event; finalized = window
    // end (start + 2h) at or before the terminal watermark max(ts) - 1h
    "stream_windows_sliding" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |w AS (SELECT unnest([time_bucket(INTERVAL '1 hour', ts),
        |                     time_bucket(INTERVAL '1 hour', ts) - INTERVAL '1 hour']) AS ws,
        |             value
        |      FROM e)
        |SELECT CAST(ws AS VARCHAR) AS window_start, count(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM w GROUP BY ws
        |HAVING ws + INTERVAL '2 hours' <= (SELECT max(ts) - INTERVAL '1 hour' FROM e)""".stripMargin,
    // gaps-and-islands session reconstruction (as in window_session), kept
    // to sessions FINALIZED by the terminal watermark: append mode emits a
    // session once the watermark passes its end = last event + gap
    "stream_windows_session" ->
      """WITH x AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |b AS (SELECT user_id, ts, value,
        |        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |               OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL '12 hours'
        |             THEN 1 ELSE 0 END AS brk
        |      FROM x),
        |s AS (SELECT user_id, ts, value,
        |        SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM b)
        |SELECT user_id, strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |       count(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM s GROUP BY user_id, sid
        |HAVING MAX(ts) + INTERVAL '12 hours' <= (SELECT max(ts) - INTERVAL '1 hour' FROM x)""".stripMargin,
    // streaming dropDuplicates: the emitted set is exactly batch DISTINCT
    "stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    // the streaming run is a stateless enrich; converged ≡ batch join
    "stream_enrich_static" ->
      """SELECT c_mktsegment, event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment, event_type""".stripMargin,
    // stateless stream-static interval join ⇒ converged ≡ the batch
    // point-in-interval join against the same SCD2 collapse (valid_from
    // inclusive, valid_to exclusive, open current interval)
    "stream_scd_enrich" ->
      """WITH d AS (
        |  SELECT user_id, ts, event_id, event_type AS state,
        |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events WHERE event_type <> 'purchase'),
        |c AS (SELECT user_id, ts, event_id, state
        |      FROM d WHERE prev IS NULL OR prev <> state),
        |v AS (SELECT user_id, state, ts AS valid_from,
        |             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
        |      FROM c),
        |p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
        |SELECT v.state,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_users,
        |       CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM p JOIN v ON p.user_id = v.user_id AND p.ts >= v.valid_from
        |     AND (v.valid_to IS NULL OR p.ts < v.valid_to)
        |GROUP BY v.state
        |ORDER BY v.state""".stripMargin,
    // inner stream-stream matches all emit by convergence ⇒ ≡ batch
    // interval join (the watermark only bounds state, never the output)
    "stream_join_interval" ->
      """SELECT v.user_id,
        |       strftime(CAST(v.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
        |       strftime(CAST(c.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS click_ts
        |FROM events v JOIN events c
        |  ON v.user_id = c.user_id
        | AND v.event_type = 'view' AND c.event_type = 'click'
        | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL '1 hour'
        |ORDER BY 1, 2, 3""".stripMargin,
    // The as-of oracle is DuckDB's NATIVE ASOF JOIN — a genuinely
    // independent realization of the semantics (greatest v.us <= p.us per
    // purchase), not a re-transcription of our running-max plan.
    "temporal_asof_join" ->
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type FROM events),
        |p AS (SELECT DISTINCT user_id, us FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT DISTINCT user_id, us FROM e WHERE event_type = 'view')
        |SELECT p.user_id, p.us AS purchase_us, v.us AS last_view_us
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND v.us <= p.us""".stripMargin,
    // the custom sort-merge as-of EXEC realizes the same contract as the
    // window spelling — DuckDB's native ASOF JOIN stays the oracle
    "temporal_asof_exec" ->
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type FROM events),
        |p AS (SELECT DISTINCT user_id, us FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT DISTINCT user_id, us FROM e WHERE event_type = 'view')
        |SELECT p.user_id, p.us AS purchase_us, v.us AS last_view_us
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND v.us <= p.us""".stripMargin,
    // tolerance = 30 min: stale matches null out; DuckDB has no TOLERANCE
    // clause, so the oracle post-filters its ASOF result the same way
    "temporal_asof_tolerance" ->
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type FROM events),
        |p AS (SELECT DISTINCT user_id, us FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT DISTINCT user_id, us FROM e WHERE event_type = 'view'),
        |a AS (SELECT p.user_id, p.us AS purchase_us, v.us AS last_view_us
        |      FROM p ASOF LEFT JOIN v
        |        ON p.user_id = v.user_id AND v.us <= p.us)
        |SELECT user_id, purchase_us,
        |       CASE WHEN last_view_us IS NOT NULL
        |                 AND purchase_us - last_view_us <= 1800000000
        |            THEN last_view_us END AS attributed_view_us,
        |       (last_view_us IS NOT NULL
        |        AND purchase_us - last_view_us <= 1800000000) AS attributed
        |FROM a""".stripMargin,
    // streaming foreachBatch upsert: the final state is batching-invariant
    // (associative per-key max), so it must equal the one-shot latest-per-
    // user answer — the lexicographic (ts, event_type, value) max
    "stream_cdc_upsert" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
        |r AS (SELECT user_id, ts, event_type, value,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY ts DESC, event_type DESC, value DESC) AS rn
        |      FROM e)
        |SELECT user_id, ts AS last_ts, event_type AS last_type, value AS last_value
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // interval × interval overlap (error [e, e+10m] × click [c−5m, c]):
    // the oracle is the plain theta join; the engine's bucketed form must
    // reproduce it pair-for-pair (dedup guard ⇒ no duplicates)
    "temporal_interval_overlap" ->
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type FROM events),
        |a AS (SELECT DISTINCT user_id, us AS e_us FROM e WHERE event_type = 'error'),
        |b AS (SELECT DISTINCT user_id, us AS c_us FROM e WHERE event_type = 'click')
        |SELECT a.user_id, e_us, c_us
        |FROM a JOIN b ON a.user_id = b.user_id
        |  AND e_us <= c_us AND c_us - 300000000 <= e_us + 600000000
        |ORDER BY a.user_id, e_us, c_us""".stripMargin,
    // pure two-sided overlap via the optimizer rule: [e, e+600s] overlaps
    // [c-300s, c]  <=>  e <= c AND c <= e + 900s
    "temporal_interval_overlap_rule" ->
      """WITH ev AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type FROM events),
        |a AS (SELECT DISTINCT us AS e_us FROM ev WHERE event_type = 'error'),
        |b AS (SELECT DISTINCT us AS c_us FROM ev WHERE event_type = 'click')
        |SELECT e_us AS error_us, count(*) AS n_overlaps
        |FROM a JOIN b ON e_us <= c_us AND c_us <= e_us + 900000000
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "temporal_range_join" ->
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type FROM events),
        |err AS (SELECT DISTINCT user_id, us AS e_us FROM e WHERE event_type = 'error'),
        |c AS (SELECT user_id, us AS c_us FROM e WHERE event_type = 'click')
        |SELECT err.user_id, e_us AS error_us, count(c_us) AS n_clicks_5m
        |FROM err LEFT JOIN c
        |  ON err.user_id = c.user_id
        | AND c_us >= e_us - 300000000 AND c_us <= e_us
        |GROUP BY err.user_id, e_us""".stripMargin,
    // pure interval join (no user key): inner ⇒ only errors with ≥1 click
    "temporal_range_join_rule" ->
      """WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type FROM events),
        |err AS (SELECT DISTINCT us AS error_us FROM e WHERE event_type = 'error'),
        |c AS (SELECT us AS c_us FROM e WHERE event_type = 'click')
        |SELECT error_us, count(c_us) AS n_clicks_5m
        |FROM err JOIN c
        |  ON c_us >= error_us - 300000000 AND c_us <= error_us
        |GROUP BY error_us""".stripMargin,
    "temporal_window_frames" ->
      """SELECT user_id, us,
        |       count(*) OVER w1h AS n_1h,
        |       CAST(SUM(v) OVER w1h AS DOUBLE) AS sum_1h,
        |       CAST(SUM(v) OVER wcum AS DOUBLE) AS cum_sum
        |FROM (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |             CAST(value AS DECIMAL(18,2)) AS v FROM events)
        |WINDOW
        |  w1h AS (PARTITION BY user_id ORDER BY us
        |          RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW),
        |  wcum AS (PARTITION BY user_id ORDER BY us
        |           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,
    "temporal_resample_ffill" -> operators.Temporal.resampleFfillOracleSql,
    // integer half-life decay: 2^(15-age) shift weights, exact-cent money
    "temporal_decayed_sum" -> operators.Temporal.decayedSumOracleSql,
    // one max(struct)/min(struct) aggregate picks both pair ends per group
    "pipeline_dpo_pairs" -> operators.Pipelines.dpoPairsOracleSql,
    "temporal_pattern_match" -> operators.Temporal.patternMatchOracleSql,
    // incremental CEP must land on the batch answer — same oracle
    "stream_pattern_match" -> operators.Temporal.patternMatchOracleSql,
    "window_ntile" ->
      """SELECT decile, count(*) AS n,
        |       MIN(o_totalprice) AS min_price,
        |       MAX(o_totalprice) AS max_price
        |FROM (SELECT o_totalprice,
        |        CAST(NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS INTEGER) AS decile
        |      FROM orders) t
        |GROUP BY decile""".stripMargin,
    // percent_rank/cume_dist are tie-stable (equal keys share the value),
    // so no row-order tiebreak is needed for determinism
    "window_distribution" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |       round(percent_rank() OVER w, 6) AS pct_rank,
        |       round(cume_dist() OVER w, 6) AS cume
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal)
        |ORDER BY c_custkey""".stripMargin,
    "scalar_datetime" ->
      """SELECT o_orderkey,
        |       CAST(EXTRACT(YEAR FROM d) AS INTEGER) AS y,
        |       CAST(EXTRACT(MONTH FROM d) AS INTEGER) AS m,
        |       CAST(EXTRACT(QUARTER FROM d) AS INTEGER) AS q,
        |       CAST(EXTRACT(DAY FROM d) AS INTEGER) AS dom,
        |       CAST(CAST(date_trunc('month', d) AS DATE) AS VARCHAR) AS month_start,
        |       CAST(last_day(d) AS VARCHAR) AS month_end,
        |       CAST(date_diff('day', DATE '1995-01-01', d) AS INTEGER) AS days_since_95,
        |       CAST(d + 30 AS VARCHAR) AS plus30
        |FROM (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders) t
        |ORDER BY o_orderkey""".stripMargin,
    "window_lag_lead" ->
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |                  event_type, value FROM events)
        |SELECT user_id, us, event_type,
        |       us - lag(us) OVER w AS gap_us,
        |       lead(event_type) OVER w AS next_type,
        |       first_value(event_type) OVER w AS first_type
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY us, event_type, value)""".stripMargin,
    // KMV sketch is deterministic given md5, so even the APPROXIMATE
    // estimate is bit-exact reproducible: the oracle rebuilds the K-minimum
    // set declaratively and applies the same (K-1)/h_K estimator through
    // the same hex→int64→double cast chain.
    "agg_kmv_distinct" ->
      """WITH h AS (SELECT DISTINCT md5(CAST(l_partkey AS VARCHAR)) AS h FROM lineitem),
        |s AS (SELECT h FROM h ORDER BY h LIMIT 64),
        |k AS (SELECT max(h) AS hk, count(*) AS n FROM s)
        |SELECT 64 AS kmv_k,
        |       (SELECT count(*) FROM h) AS n_exact,
        |       CASE WHEN n < 64 THEN CAST(n AS DOUBLE)
        |            ELSE 63.0 / (CAST(CAST(concat('0x', substr(hk, 1, 15)) AS BIGINT) AS DOUBLE)
        |                         / 1152921504606846976.0) END AS kmv_estimate
        |FROM k""".stripMargin,
    // profiling / layout / graph oracles are generated next to their
    // operator definitions (same loops/constants as the engine side, so
    // the pair cannot drift) — see each object's *OracleSql.
    "agg_hll_distinct" -> operators.Sketches.hllOracleSql,
    "agg_kmv_setops" -> operators.Sketches.kmvSetOpsOracleSql,
    "agg_kll_quantiles" -> operators.Sketches.kllOracleSql,
    "agg_cm_frequencies" -> operators.Sketches.cmOracleSql,
    // counter addition commutes, so the streaming accumulation is
    // bit-identical to the batch sketch and shares its oracle
    "stream_cm_frequencies" -> operators.Sketches.cmOracleSql,
    "profile_table" -> operators.Profiling.oracleSql,
    // exact type-7 quantiles; round6 on both sides absorbs 1-ulp
    // interpolation-formula differences (results sit on a ≤4-decimal
    // lattice for the 2-decimal fixture values)
    "profile_quantiles" ->
      """SELECT event_type, count(*) AS n,
        |       floor(quantile_cont(value, 0.25) * 1000000.0 + 0.5) / 1000000.0 AS p25,
        |       floor(quantile_cont(value, 0.50) * 1000000.0 + 0.5) / 1000000.0 AS p50,
        |       floor(quantile_cont(value, 0.75) * 1000000.0 + 0.5) / 1000000.0 AS p75,
        |       floor(quantile_cont(value, 0.95) * 1000000.0 + 0.5) / 1000000.0 AS p95
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Tukey fences from the round6-lattice quartiles, same op sequence as
    // the Spark side; strict comparisons, so boundary values are inliers
    "profile_outliers" ->
      """WITH f AS (
        |  SELECT event_type AS et,
        |         floor(quantile_cont(value, 0.25) * 1000000.0 + 0.5) / 1000000.0 AS p25,
        |         floor(quantile_cont(value, 0.75) * 1000000.0 + 0.5) / 1000000.0 AS p75
        |  FROM events GROUP BY event_type),
        |b AS (SELECT et, p25 - 1.5 * (p75 - p25) AS lo, p75 + 1.5 * (p75 - p25) AS hi FROM f)
        |SELECT e.event_type, count(*) AS n,
        |       CAST(SUM(CASE WHEN e.value < b.lo OR e.value > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |       floor(MIN(b.lo) * 1000000.0 + 0.5) / 1000000.0 AS fence_lo,
        |       floor(MIN(b.hi) * 1000000.0 + 0.5) / 1000000.0 AS fence_hi
        |FROM events e JOIN b ON e.event_type = b.et
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    "profile_drift" -> operators.Profiling.driftOracleSql,
    // per-bucket counts merge by addition, so the streaming accumulation
    // shares the batch drift oracle at any batching
    "stream_drift" -> operators.Profiling.driftOracleSql,
    // the streaming twin shares the batch decayed-sum oracle: per-(user,
    // day) integer partials merge by addition, finisher shared verbatim
    "stream_decayed_sum" -> operators.Temporal.decayedSumOracleSql,
    // cross-batch baskets: new×seen + new×new pair deltas are additive,
    // so the accumulated counts share the batch rule oracle
    "stream_basket_rules" -> operators.Association.basketRulesOracleSql,
    // 9-row additive digit partials, shared finisher — seventh twin
    "stream_benford" -> operators.Profiling.benfordOracleSql,
    "profile_constraints" -> operators.Profiling.constraintsOracleSql,
    // first-digit law screen: exact-cent string digit, shared literal table
    "profile_benford" -> operators.Profiling.benfordOracleSql,
    "profile_dataset_card" -> operators.Profiling.datasetCardOracleSql,
    "profile_correlation" -> operators.Profiling.correlationOracleSql,
    // the streaming accumulation must land on the BATCH answer exactly —
    // same oracle, which is the batching-invariance contract
    "stream_profile_incremental" -> operators.Profiling.correlationOracleSql,
    // true streaming fold of mergeable KLL partials; the audit emits the
    // same (exact quantiles + checked bound) surface as the batch twin
    "stream_kll_quantiles" -> operators.Sketches.kllOracleSql,
    "layout_zorder" -> operators.Layout.zorderOracleSql,
    "layout_compaction" -> operators.Layout.compactionOracleSql,
    "layout_hilbert" -> operators.Layout.hilbertOracleSql,
    "graph_pagerank" -> operators.Graph.pageRankOracleSql,
    "graph_triangle_count" -> operators.Graph.triangleCountOracleSql,
    "graph_node_similarity" -> operators.Graph.nodeSimilarityOracleSql,
    "graph_label_propagation" -> operators.Graph.labelPropagationOracleSql,
    // min-plus semiring fixed point, 6 Bellman-Ford rounds unrolled
    "graph_sssp" -> operators.Graph.shortestPathsOracleSql,
    // iterative peeling: 8 unrolled degree-filter rounds, trajectory rows
    "graph_kcore" -> operators.Graph.kCoreOracleSql,
    // exact integer-ppm confidence/lift over basket pair counts
    "basket_rules" -> operators.Association.basketRulesOracleSql,
    "q1_pricing" -> Relational.q1OracleSql,
    // same ANSI text runs verbatim on both engines; the value here is the
    // Catalyst decorrelation the specs pin (semi joins, no nested loop)
    "q4_priority_exists" -> Relational.q4Sql,
    "q7_nation_volume" -> Relational.q7Sql,
    "q8_market_share" -> Relational.q8Sql,
    "q13_order_distribution" -> Relational.q13Sql,
    "q14_promo_revenue" -> Relational.q14Sql,
    "q15_top_supplier" -> Relational.q15Sql,
    "q16_supplier_count" -> Relational.q16Sql,
    "q17_small_quantity" -> Relational.q17Sql,
    "q18_large_orders" -> Relational.q18Sql,
    "q19_disjunctive" -> Relational.q19Sql,
    "q20_promo_suppliers" -> Relational.q20Sql,
    "q21_waiting_supplier" -> Relational.q21Sql,
    "q22_global_sales" -> Relational.q22Sql,
    "q2_min_cost_supplier" -> Relational.q2Sql,
    "q6_forecast_revenue" -> Relational.q6Sql,
    "q9_product_profit" -> Relational.q9Sql,
    "q11_important_parts" -> Relational.q11Sql,
    "q12_ship_priority" -> Relational.q12Sql,
    "embed_kmeans" -> operators.Clustering.kmeansOracleSql,
    // per-subspace fixed-point Lloyd + encode + ADC, unrolled as CTEs —
    // codes, quantization errors, and ADC distances are all exact int64
    "embed_pq" -> operators.ProductQuant.pqOracleSql,
    "ann_pq_adc" -> operators.ProductQuant.adcOracleSql,
    // IVF pruning is lossless by the reconstruction-space triangle
    // inequality, so the cells-probed scan shares the flat ADC oracle
    "ann_ivf_pq" -> operators.ProductQuant.adcOracleSql,
    "search_hybrid_rrf" -> Similarity.searchHybridRrfOracleSql,
    // NDCG/recall of the lexical leg vs semantic truth; shared literal
    // discount table, integer DIV normalization
    "search_eval_ndcg" -> Similarity.searchEvalNdcgOracleSql,
    "text_collocations" -> graft.functions.TextOps.collocationsOracleSql,
    "text_bpe_train" -> graft.functions.TextOps.bpeTrainOracleSql,
    // the train chain with word identity kept through every round,
    // exhaustion-safe LEFT JOIN merge application
    "text_bpe_encode" -> graft.functions.TextOps.bpeEncodeOracleSql,
    // norms rounded per vector before aggregating; the mean is an exact
    // decimal sum over those rounded values, so group stats are
    // merge-order-independent on both engines
    "embed_norms" ->
      """WITH v AS (SELECT label,
        |    round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x*x))), 6) AS nrm,
        |    len(embedding) AS dim
        |  FROM embeddings)
        |SELECT label, count(*) AS n,
        |       count(DISTINCT dim) AS n_dims,
        |       CAST(SUM(CAST(nrm AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_norm,
        |       min(nrm) AS min_norm,
        |       max(nrm) AS max_norm
        |FROM v GROUP BY label ORDER BY label""".stripMargin,
    // floor(x/scale + 0.5), not round(): banker's-vs-half-up rounding of
    // negative halves differs between engines, floor on doubles does not.
    // max is order-insensitive so the per-vector folds agree exactly.
    "embed_quantize" ->
      """WITH v AS (SELECT label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |s AS (SELECT label, e,
        |    greatest(list_max(list_transform(e, x -> abs(x))), 1e-30) / 127.0 AS scale
        |  FROM v),
        |r AS (SELECT label,
        |    round(list_max(list_transform(e,
        |      x -> abs(x - floor(x / scale + 0.5) * scale))), 9) AS err
        |  FROM s)
        |SELECT label, count(*) AS n,
        |       CAST(SUM(CAST(err AS DECIMAL(18,9))) AS DOUBLE) / count(*) AS avg_max_err,
        |       max(err) AS worst_err
        |FROM r GROUP BY label ORDER BY label""".stripMargin,
  )

  /** Shared oracle for the near-dup paths (exact inverted-index at 0.8,
    * MinHash+LSH at 0.8, SimHash at its tighter 0.9 regime): each must
    * equal the exhaustive O(n²) pairwise 3-gram-shingle Jaccard at its
    * threshold.
    */
  /** Shared oracle for both substring-dedup forms (exact text-key and
    * hash-keyed): 8-token windows, ≥2 distinct docs, same tokenizer as the
    * shingles.
    */
  private val dedupSubstringOracle: String =
    """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      |          FROM documents),
      |g AS (SELECT doc_id, array_to_string(w[s.i : s.i+7], ' ') AS passage
      |      FROM t, LATERAL (SELECT unnest(generate_series(1, len(w) - 7)) AS i) s)
      |SELECT passage, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |       CAST(count(*) AS BIGINT) AS n_occurrences
      |FROM g GROUP BY passage HAVING count(DISTINCT doc_id) >= 2
      |ORDER BY passage""".stripMargin

  private def dedupJaccardOracle(threshold: Double): String =
    s"""WITH sh AS (
      |  SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |         for i in range(1, len(w) - 1)]) AS s
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents) t)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       floor((len(list_intersect(a.s, b.s))::DOUBLE
      |             / len(list_distinct(list_concat(a.s, b.s)))) * 1000000 + 0.5) / 1000000 AS jaccard
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE len(list_distinct(list_concat(a.s, b.s))) > 0
      |  AND len(list_intersect(a.s, b.s))::DOUBLE
      |      / len(list_distinct(list_concat(a.s, b.s))) >= $threshold
      |ORDER BY doc_a, doc_b""".stripMargin
}
