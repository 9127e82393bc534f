package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{CorpusOracles, CorpusQueries, SpotifyParity, StarQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` is a DataFrame program (Spark-first, Catalyst
  * optimized); `oracleSql` carries the DuckDB-equivalent SQL the driver
  * hash-compares against on the same parquet tables.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    StarQueries.q01PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q00_counts"            -> (StarQueries.q00Counts(_, _)),
    "q01_pricing_summary"   -> (StarQueries.q01PricingSummary(_, _)),
    "q02_topk_orders"       -> (StarQueries.q02TopkOrders(_, _)),
    "q03_join_agg"          -> (StarQueries.q03JoinAgg(_, _)),
    "q04_filter_sort"       -> (StarQueries.q04FilterSort(_, _)),
    "q05_window_rownum"     -> (StarQueries.q05WindowRownum(_, _)),
    "q06_window_lag"        -> (StarQueries.q06WindowLag(_, _)),
    "q07_dedup_keepfirst"   -> (StarQueries.q07DedupKeepfirst(_, _)),
    "q08_explode"           -> (StarQueries.q08Explode(_, _)),
    "q09_array_access"      -> (StarQueries.q09ArrayAccess(_, _)),
    "q10_semi_join"         -> (StarQueries.q10SemiJoin(_, _)),
    "q11_anti_join"         -> (StarQueries.q11AntiJoin(_, _)),
    "q12_union"             -> (StarQueries.q12Union(_, _)),
    "q13_except"            -> (StarQueries.q13Except(_, _)),
    "q14_intersect"         -> (StarQueries.q14Intersect(_, _)),
    "q15_rollup"            -> (StarQueries.q15Rollup(_, _)),
    "q16_distinct_agg"      -> (StarQueries.q16DistinctAgg(_, _)),
    "q17_json_extract"      -> (StarQueries.q17JsonExtract(_, _)),
    "q18_date_trunc_agg"    -> (StarQueries.q18DateTruncAgg(_, _)),
    "q19_string_funcs"      -> (StarQueries.q19StringFuncs(_, _)),
    "q20_date_window_topk"  -> (StarQueries.q20DateWindowTopk(_, _)),
    "q21_join_agg_time"     -> (StarQueries.q21JoinAggTime(_, _)),
    "q22_top10_appearances" -> (StarQueries.q22Top10Appearances(_, _)),
    "q23_lag_trajectory"    -> (StarQueries.q23LagTrajectory(_, _)),
    // training-data-pipeline extensions (documents/embeddings corpus)
    "q24_dedup_exact"         -> (CorpusQueries.dedupExact(_, _)),
    "q25_text_stats"          -> (CorpusQueries.textStats(_, _)),
    "q26_lang_id"             -> (CorpusQueries.langId(_, _)),
    "q27_quality_score"       -> (CorpusQueries.quality(_, _)),
    "q28_fingerprint"         -> (CorpusQueries.fingerprint(_, _)),
    "q29_ngram_jaccard"       -> (CorpusQueries.ngramJaccard(_, _)),
    "q30_minhash_lsh"         -> (CorpusQueries.minhashLsh(_, _)),
    "q31_simhash"             -> (CorpusQueries.simhash(_, _)),
    "q32_simhash_pairs"       -> (CorpusQueries.simhashPairs(_, _)),
    "q33_embed_neardup"       -> (CorpusQueries.embedNearDup(_, _)),
    "q34_ann_topk"            -> (CorpusQueries.annTopK(_, _)),
    "q35_ann_ivf_topk"        -> (CorpusQueries.annIvfTopK(_, _)),
    "q36_multimodal_meta"     -> (CorpusQueries.multimodalMeta(_, _)),
    "q37_multimodal_features" -> (CorpusQueries.multimodalFeatures(_, _)),
    "q38_rolling_fp"          -> (CorpusQueries.rollingFingerprint(_, _)),
    "q39_token_freq"          -> (CorpusQueries.tokenFreq(_, _)),
    "q40_asof_join"           -> (CorpusQueries.asofJoin(_, _)),
    "q41_range_join"          -> (CorpusQueries.rangeJoin(_, _)),
    "q42_sessionize"          -> (CorpusQueries.sessionize(_, _)),
    "q43_salted_collect"      -> (CorpusQueries.saltedCollect(_, _)),
    "q44_approx_distinct"     -> (CorpusQueries.approxDistinct(_, _)),
    "q45_pivot"               -> (StarQueries.q45Pivot(_, _)),
    "q46_cube"                -> (StarQueries.q46Cube(_, _)),
    "q47_percentiles"         -> (StarQueries.q47Percentiles(_, _)),
    "q48_tfidf"               -> (CorpusQueries.tfidfTopTerms(_, _)),
    "q49_ann_lsh_topk"        -> (CorpusQueries.annLshTopK(_, _)),
    "q50_dup_groups"          -> (CorpusQueries.dupGroups(_, _)),
    "q51_outer_join"          -> (StarQueries.q51OuterJoin(_, _)),
    "q52_exists"              -> (StarQueries.q52Exists(_, _)),
    "q53_hash_split"          -> (CorpusQueries.hashSplit(_, _)),
    "q54_hash_shuffle"        -> (CorpusQueries.hashShuffle(_, _)),
    "q55_salted_join"         -> (StarQueries.q55SaltedJoin(_, _)),
    "q56_stratified_sample"   -> (CorpusQueries.stratifiedSample(_, _)),
    "q57_decontaminate"       -> (CorpusQueries.decontaminate(_, _)),
    "q58_repetition"          -> (CorpusQueries.repetition(_, _)),
    "q59_pack_sequences"      -> (CorpusQueries.packSequences(_, _)),
    "q60_domain_mix"          -> (CorpusQueries.domainMix(_, _)),
    "q61_row_ids"             -> (CorpusQueries.rowIds(_, _)),
    // the reference's literal analysis workload (spotify-analysis.sql:92-126)
    // over the derived chart star schema — see queries/SpotifyParity.scala
    "q62_spotify_q1"          -> (SpotifyParity.q1TrendingSongs(_, _)),
    "q63_spotify_q2"          -> (SpotifyParity.q2AlbumPopularity(_, _)),
    "q64_spotify_q3"          -> (SpotifyParity.q3TopArtists(_, _)),
    "q65_spotify_q4"          -> (SpotifyParity.q4ChartMovement(_, _)),
    "q66_rank_topk"           -> (StarQueries.q66RankTopk(_, _)),
    // round-4 pipeline extensions (SURVEY §2.11b X48-X51)
    "q67_chunk_dedup"         -> (CorpusQueries.chunkDedup(_, _)),
    "q68_scd2"                -> (CorpusQueries.scd2(_, _)),
    "q69_token_budget"        -> (CorpusQueries.tokenBudget(_, _)),
    "q70_bloom_semi"          -> (CorpusQueries.bloomSemiJoin(_, _)),
    "q71_redact"              -> (CorpusQueries.redact(_, _)),
    "q72_weighted_sample"     -> (CorpusQueries.weightedSample(_, _)),
    "q73_cms_topk"            -> (CorpusQueries.cmsTopk(_, _)),
    "q74_zorder"              -> (CorpusQueries.zorderProfile(_, _)),
    "q75_incremental_dedup"   -> (CorpusQueries.incrementalDedup(_, _)),
    "q76_funnel"              -> (CorpusQueries.funnel(_, _)),
    "q77_retention"           -> (CorpusQueries.retention(_, _)),
    "q78_setsim_join"         -> (CorpusQueries.setsimJoin(_, _)),
    "q79_apply_changes"       -> (CorpusQueries.applyChanges(_, _)),
    "q80_quantile_sketch"     -> (CorpusQueries.quantileSketch(_, _)),
    "q81_inverted_index"      -> (CorpusQueries.invertedIndex(_, _)),
    "q82_curate"              -> (CorpusQueries.curate(_, _)),
    "q83_bm25_topk"           -> (CorpusQueries.bm25TopK(_, _)),
    "q84_bigram_lm"           -> (CorpusQueries.bigramLm(_, _)),
    "q85_kmv_distinct"        -> (CorpusQueries.kmvDistinct(_, _)),
    "q86_gram_matrix"         -> (CorpusQueries.gramMatrix(_, _)),
    "q87_sliding_chunks"      -> (CorpusQueries.slidingChunks(_, _)),
    "q88_strata_sample"       -> (CorpusQueries.strataSample(_, _)),
    "q89_mad_outliers"        -> (CorpusQueries.madOutliers(_, _)),
    "q90_group_regression"    -> (CorpusQueries.groupRegression(_, _)),
    "q91_equidepth_hist"      -> (CorpusQueries.equiDepthHist(_, _)),
    "q92_novelty"             -> (CorpusQueries.noveltyScore(_, _)),
    "q93_quantize_int8"       -> (CorpusQueries.quantizeInt8(_, _)),
    "q94_token_pagerank"      -> (CorpusQueries.tokenPagerank(_, _)),
    "q95_snapshot_diff"       -> (CorpusQueries.snapshotDiff(_, _)),
    "q96_corpus_profile"      -> (CorpusQueries.corpusProfile(_, _)),
    "q97_incremental_rollup"  -> (CorpusQueries.incrementalRollup(_, _)),
    "q98_distribution_drift"  -> (CorpusQueries.distributionDrift(_, _)),
    "q99_skew_report"         -> (CorpusQueries.skewReport(_, _)),
    "q100_nfc_dedup"          -> (CorpusQueries.nfcDedup(_, _)),
    "q101_pq_ann"             -> (CorpusQueries.pqAnn(_, _)),
    "q102_span_excise"        -> (CorpusQueries.spanExcise(_, _)),
    "q103_bpe_train"          -> (CorpusQueries.bpeTrain(_, _)),
    "q104_bpe_tokenize"       -> (CorpusQueries.bpeTokenize(_, _)),
    "q105_canonical_keeper"   -> (CorpusQueries.canonicalKeeper(_, _)),
    "q106_semdedup"           -> (CorpusQueries.semDedup(_, _)),
    "q107_incremental_neardup" -> (CorpusQueries.incrementalNearDedup(_, _)),
    "q108_prototypicality"    -> (CorpusQueries.prototypicality(_, _)),
    "q109_source_overlap"     -> (CorpusQueries.sourceOverlap(_, _)),
    "q110_hard_negatives"     -> (CorpusQueries.hardNegatives(_, _)),
    "q111_tokenizer_fertility" -> (CorpusQueries.tokenizerFertility(_, _)),
    "q112_retrieval_eval"     -> (CorpusQueries.retrievalEval(_, _)),
    "q113_collocations"       -> (CorpusQueries.collocations(_, _)),
    "q114_padding_waste"      -> (CorpusQueries.paddingWaste(_, _)),
    "q115_cluster_purity"     -> (CorpusQueries.clusterPurity(_, _)),
    "q116_matryoshka_eval"    -> (CorpusQueries.matryoshkaEval(_, _)),
    "q117_vocab_coverage"     -> (CorpusQueries.vocabCoverage(_, _)),
    "q118_temperature_mix"    -> (CorpusQueries.temperatureMix(_, _)),
    "q119_dedup_reweight"     -> (CorpusQueries.dedupReweight(_, _)),
    "q120_streaming_neardup"  -> (CorpusQueries.streamingNearDedup(_, _)),
    "q121_containment"        -> (CorpusQueries.containmentNearDup(_, _)),
    "q122_standardize"        -> (CorpusQueries.standardizeEmbeddings(_, _)),
    "q123_mutual_knn"         -> (CorpusQueries.mutualKnn(_, _)),
    "q124_dsir_weights"       -> (CorpusQueries.dsirWeights(_, _)),
    "q125_rule_filter"        -> (CorpusQueries.ruleFilter(_, _)),
    "q126_dedup_sweep"        -> (CorpusQueries.dedupSweep(_, _)),
    "q127_kmeans"             -> (CorpusQueries.kmeansTrain(_, _)),
    "q128_groupwise_split"    -> (CorpusQueries.groupwiseSplit(_, _)),
    "q129_label_outliers"     -> (CorpusQueries.labelOutliers(_, _)),
    "q130_kcenter_coreset"    -> (CorpusQueries.kcenterCoreset(_, _)),
    "q131_knn_communities"    -> (CorpusQueries.knnCommunities(_, _)),
    "q132_winnow_overlap"     -> (CorpusQueries.winnowOverlap(_, _)),
    "q133_interval_join"      -> (CorpusQueries.intervalJoin(_, _)),
    "q134_cluster_sample"     -> (CorpusQueries.clusterBalancedSample(_, _)),
    "q135_curriculum"         -> (CorpusQueries.curriculumSchedule(_, _)),
    "q136_pc1_projection"     -> (CorpusQueries.pc1Projection(_, _)),
    "q137_corpus_manifest"    -> (CorpusQueries.corpusManifest(_, _)),
    "q138_pareto"             -> (CorpusQueries.paretoFrontier(_, _)),
    "q139_knn_triangles"      -> (CorpusQueries.knnTriangles(_, _)),
    "q140_decayed_counts"     -> (CorpusQueries.decayedCounts(_, _)),
    "q141_manifest_diff"      -> (CorpusQueries.manifestDiff(_, _)),
    "q142_join_preflight"     -> (CorpusQueries.joinPreflight(_, _)),
    "q143_boilerplate"        -> (CorpusQueries.boilerplateStrip(_, _)),
    "q144_heavy_hitters"      -> (CorpusQueries.heavyHitters(_, _)),
    "q145_token_hits"         -> (CorpusQueries.docTokenHits(_, _)),
    "q146_rrf_fusion"         -> (CorpusQueries.rrfFusion(_, _)),
    "q147_silhouette"         -> (CorpusQueries.kmeansSilhouette(_, _)),
    "q148_url_canonical"      -> (CorpusQueries.urlCanonical(_, _)),
    "q149_daily_anomaly"      -> (CorpusQueries.dailyAnomaly(_, _)),
    "q150_fuzzy_linkage"      -> (CorpusQueries.fuzzyLinkage(_, _)),
    "q151_covisit"            -> (CorpusQueries.covisitPairs(_, _)),
    "q152_sliding_distinct"   -> (CorpusQueries.slidingDistinct(_, _)),
    "q153_gap_fill"           -> (CorpusQueries.gapFill(_, _)),
    "q154_ks_drift"           -> (CorpusQueries.ksDrift(_, _)),
    "q155_consistent_hash"    -> (CorpusQueries.consistentRebalance(_, _)),
    "q156_benford"            -> (CorpusQueries.benfordAudit(_, _)),
    "q157_pseudonymize"       -> (CorpusQueries.pseudonymize(_, _)),
    "q158_clipped_quantize"   -> (CorpusQueries.clippedQuantize(_, _)),
    "q159_kfold"              -> (CorpusQueries.kFold(_, _)),
    "q160_gini"               -> (CorpusQueries.giniAudit(_, _)),
    "q161_winsorized"         -> (CorpusQueries.winsorized(_, _)),
    "q162_kcore"              -> (CorpusQueries.kcorePeel(_, _)),
    "q163_langid_eval"        -> (CorpusQueries.langIdEval(_, _)),
    "q164_k_anonymity"        -> (CorpusQueries.kAnonymity(_, _)),
    "q165_data_contract"      -> (CorpusQueries.dataContract(_, _)),
    "q166_cdc_compact"        -> (CorpusQueries.cdcCompact(_, _)),
    "q167_centroid_drift"     -> (CorpusQueries.centroidDrift(_, _)),
    "q168_vocab_growth"       -> (CorpusQueries.vocabGrowth(_, _)),
    "q169_ann_multiprobe"     -> (CorpusQueries.annMultiProbeTopK(_, _)),
    "q170_span_corruption"    -> (CorpusQueries.spanCorruption(_, _)),
    "q171_trending_movers"    -> (CorpusQueries.trendingMovers(_, _)),
    "q172_vocab_ids"          -> (CorpusQueries.vocabStableIds(_, _)),
    "q173_sample_aqp"         -> (CorpusQueries.sampleAqp(_, _)),
    "q174_als_step"           -> (CorpusQueries.alsHalfStep(_, _)),
    "q175_attribution"        -> (CorpusQueries.attribution(_, _)),
    "q176_als_alternation"    -> (CorpusQueries.alsAlternation(_, _)),
    "q177_rolling_range"      -> (CorpusQueries.rollingRange(_, _)),
    "q178_nest_export"        -> (CorpusQueries.nestExport(_, _)),
    "q179_topk_other"         -> (CorpusQueries.topkOther(_, _)),
    "q180_bpe_byte_train"     -> (CorpusQueries.bpeByteTrainParts(_, _)),
    "q181_substring_dedup"    -> (CorpusQueries.substringDedupExact(_, _)),
    "q182_rollup"             -> (StarQueries.q182Rollup(_, _)),
    "q183_pivot"              -> (StarQueries.q183Pivot(_, _)),
    "q184_json_props"         -> (StarQueries.q184JsonProps(_, _)),
    "q185_window_suite"       -> (StarQueries.q185WindowSuite(_, _)),
    "q186_equiwidth_hist"     -> (StarQueries.q186EquiwidthHist(_, _)),
    "q187_unpivot"            -> (StarQueries.q187Unpivot(_, _)),
    "q188_bool_aggs"          -> (StarQueries.q188BoolAggs(_, _)),
    "q189_weighted_jaccard"   -> (CorpusQueries.weightedJaccard(_, _)),
    "q190_star_join"          -> (StarQueries.q190StarJoin(_, _)),
    "q191_bpe_budget"         -> (CorpusQueries.bpeBudget(_, _)),
    "q192_audio_features"     -> (CorpusQueries.audioFeatures(_, _)),
    "q193_waiting_supplier"   -> (StarQueries.q193WaitingSupplier(_, _)),
    "q194_two_fact_paths"     -> (StarQueries.q194TwoFactPaths(_, _)),
    "q195_small_qty_revenue"  -> (StarQueries.q195SmallQtyRevenue(_, _)),
    "q196_min_cost_supplier"  -> (StarQueries.q196MinCostSupplier(_, _)),
    "q197_large_qty_orders"   -> (StarQueries.q197LargeQtyOrders(_, _)),
    "q198_dormant_customers"  -> (StarQueries.q198DormantCustomers(_, _)),
    "q199_value_share"        -> (StarQueries.q199ValueShare(_, _)),
    "q200_top_revenue_supplier" -> (StarQueries.q200TopRevenueSupplier(_, _)),
    "q201_excess_stock"       -> (StarQueries.q201ExcessStock(_, _)),
    "q202_cube_aggs"          -> (StarQueries.q202CubeAggs(_, _)),
    "q203_order_count_hist"   -> (StarQueries.q203OrderCountHist(_, _)),
    "q204_volume_shipping"    -> (StarQueries.q204VolumeShipping(_, _)),
    "q205_image_phash"        -> (CorpusQueries.imagePHash(_, _)),
    "q206_image_neardup"      -> (CorpusQueries.imageNearDup(_, _)),
    "q207_notin_null_census"  -> (StarQueries.q207NotInNullCensus(_, _)),
    "q208_nullsafe_join"      -> (StarQueries.q208NullSafeJoin(_, _)),
    "q209_frame_sample"       -> (CorpusQueries.frameSample(_, _)),
    "q210_blob_resize"        -> (CorpusQueries.blobResize(_, _)),
    "q211_supplier_count_by_part" -> (StarQueries.q211SupplierCountByPart(_, _)),
    "q212_banded_revenue"     -> (StarQueries.q212BandedRevenue(_, _)),
    "q213_notin_probe_null"   -> (StarQueries.q213NotInProbeNull(_, _)),
    "q214_image_neardup_fused" -> (CorpusQueries.imageNearDupFused(_, _)),
    "q215_audio_neardup"      -> (CorpusQueries.audioNearDup(_, _)),
    "q216_spatial_radius"     -> (CorpusQueries.spatialRadius(_, _)),
    "q217_markov_transitions" -> (CorpusQueries.markovTransitions(_, _)),
    "q218_ktruss"             -> (CorpusQueries.ktrussPeel(_, _)),
    "q219_privacy_census"     -> (CorpusQueries.privacyCensus(_, _)),
    "q220_schema_drift"       -> (StarQueries.q220SchemaDrift(_, _)),
    "q221_widened_drift"      -> (StarQueries.q221WidenedDrift(_, _)),
    "q222_bigdim_join"        -> (StarQueries.q222BigDimJoin(_, _)),
    "q223_drift_prune"        -> (StarQueries.q223DriftPrune(_, _)),
    "q224_nested_drift"       -> (StarQueries.q224NestedDrift(_, _)),
    "q225_drop_drift"         -> (StarQueries.q225DropDrift(_, _)),
    "q226_skewed_bigdim"      -> (StarQueries.q226SkewedBigDim(_, _)),
    "q227_csv_drift"          -> (StarQueries.q227CsvDrift(_, _)),
    "q228_csv_rename_drift"   -> (StarQueries.q228CsvRenameDrift(_, _)),
    "q229_index_maintenance"  -> (CorpusQueries.indexMaintenance(_, _)),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q00_counts" ->
      Tables.names.map(n => s"SELECT '$n' AS tbl, count(*) AS n FROM $n")
        .mkString("", " UNION ALL ", " ORDER BY tbl"),

    "q01_pricing_summary" -> """
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",

    "q02_topk_orders" -> """
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",

    "q03_join_agg" -> """
      SELECT c_mktsegment, count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "q04_filter_sort" -> """
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
      ORDER BY l_orderkey, l_linenumber""",

    "q05_window_rownum" -> """
      SELECT * FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        FROM orders) t
      WHERE rn <= 3 ORDER BY o_custkey, rn""",

    "q06_window_lag" -> """
      SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
             o_totalprice - lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS delta
      FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""",

    "q07_dedup_keepfirst" -> """
      SELECT l_partkey, l_orderkey, l_linenumber, l_quantity FROM (
        SELECT l_partkey, l_orderkey, l_linenumber, l_quantity,
               row_number() OVER (PARTITION BY l_partkey ORDER BY l_orderkey, l_linenumber) AS rn
        FROM lineitem) t
      WHERE rn = 1 ORDER BY l_partkey""",

    "q08_explode" -> """
      SELECT vec_id, count(*) AS n_elems,
             min(CAST(e AS DOUBLE)) AS min_e, max(CAST(e AS DOUBLE)) AS max_e
      FROM (SELECT vec_id, unnest(embedding) AS e FROM embeddings) t
      GROUP BY vec_id ORDER BY vec_id""",

    "q09_array_access" -> """
      SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS first_dim,
             CAST(embedding[64] AS DOUBLE) AS last_dim, label
      FROM embeddings ORDER BY vec_id""",

    "q10_semi_join" -> """
      SELECT s_suppkey, s_name FROM supplier
      WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
      ORDER BY s_suppkey""",

    "q11_anti_join" -> """
      SELECT p_partkey, p_name FROM part
      WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity > 45)
      ORDER BY p_partkey""",

    "q12_union" -> """
      SELECT c_nationkey AS nk FROM customer
      UNION
      SELECT s_nationkey AS nk FROM supplier
      ORDER BY nk""",

    "q13_except" -> """
      SELECT c_custkey AS ck FROM customer
      EXCEPT
      SELECT o_custkey AS ck FROM orders WHERE o_totalprice > 300000
      ORDER BY ck""",

    "q14_intersect" -> """
      SELECT n_nationkey AS nk FROM nation
      INTERSECT
      SELECT c_nationkey AS nk FROM customer
      ORDER BY nk""",

    "q15_rollup" -> """
      SELECT coalesce(r_name, 'ALL') AS region_name,
             coalesce(n_name, 'ALL') AS nation_name,
             count(*) AS n_customers
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP(r_name, n_name)
      ORDER BY region_name, nation_name""",

    "q16_distinct_agg" -> """
      SELECT l_returnflag, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp, count(*) AS n_rows
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q17_json_extract" -> """
      SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             count(*) AS n, min(value) AS min_v, max(value) AS max_v
      FROM events GROUP BY 1 ORDER BY k""",

    "q18_date_trunc_agg" -> """
      SELECT date_trunc('hour', ts) AS hr, count(*) AS n_events,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events GROUP BY 1 ORDER BY hr""",

    "q19_string_funcs" -> """
      SELECT p_partkey, upper(p_brand) AS brand_u, substr(p_name, 1, 12) AS name_pfx,
             CAST(length(p_name) AS BIGINT) AS name_len,
             p_brand || '#' || p_type AS brand_type
      FROM part ORDER BY p_partkey""",

    "q20_date_window_topk" -> """
      SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
      FROM orders
      WHERE o_orderdate >= (SELECT max(o_orderdate) FROM orders) - INTERVAL 30 DAY
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",

    "q21_join_agg_time" -> """
      SELECT p_brand, CAST(month(l_shipdate) AS BIGINT) AS ship_month,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
             count(*) AS n
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1, 2 ORDER BY 1, 2""",

    "q22_top10_appearances" -> """
      SELECT o_custkey, count(*) AS top10_appearances FROM (
        SELECT o_custkey,
               row_number() OVER (PARTITION BY CAST(o_orderdate AS DATE) ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        FROM orders) t
      WHERE rnk <= 10 GROUP BY o_custkey
      ORDER BY top10_appearances DESC, o_custkey LIMIT 20""",

    "q23_lag_trajectory" -> """
      SELECT l_partkey, l_shipdate, l_quantity, l_orderkey, l_linenumber,
             l_quantity - lag(l_quantity, 1) OVER (ORDER BY l_shipdate, l_orderkey, l_linenumber) AS qty_delta
      FROM lineitem
      WHERE l_partkey = (SELECT min(l_partkey) FROM lineitem)
      ORDER BY l_shipdate, l_orderkey, l_linenumber""",
    "q45_pivot" -> """
      SELECT l_returnflag,
             count(*) FILTER (l_linestatus = 'F') AS n_f,
             count(*) FILTER (l_linestatus = 'O') AS n_o
      FROM lineitem GROUP BY 1 ORDER BY 1""",

    "q46_cube" -> """
      SELECT coalesce(r_name, 'ALL') AS region_name,
             coalesce(n_name, 'ALL') AS nation_name,
             count(*) AS n_customers
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY CUBE(r_name, n_name)
      ORDER BY region_name, nation_name""",

    "q47_percentiles" -> """
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.5) AS p50,
             quantile_cont(l_extendedprice, 0.9) AS p90,
             quantile_cont(l_extendedprice, 0.99) AS p99
      FROM lineitem GROUP BY 1 ORDER BY 1""",

    "q51_outer_join" -> """
      WITH stats AS (SELECT o_custkey, count(*) AS n_orders,
                            max(o_totalprice) AS max_price
                     FROM orders GROUP BY 1)
      SELECT c_custkey, c_mktsegment,
             coalesce(n_orders, 0) AS n_orders, max_price
      FROM customer LEFT JOIN stats ON c_custkey = o_custkey
      ORDER BY c_custkey""",

    "q52_exists" -> """
      SELECT s_suppkey, s_name, s_nationkey
      FROM supplier s
      WHERE EXISTS (SELECT 1 FROM lineitem l
                    WHERE l.l_suppkey = s.s_suppkey
                      AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00')
        AND NOT EXISTS (SELECT 1 FROM lineitem l
                        WHERE l.l_suppkey = s.s_suppkey
                          AND l.l_returnflag = 'R' AND l.l_quantity > 49)
      ORDER BY s_suppkey""",

    "q66_rank_topk" -> """
      SELECT * FROM (
        SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS d,
               CAST(rank() OVER (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE) DESC) AS BIGINT) AS rnk
        FROM orders) t
      WHERE rnk <= 2 ORDER BY o_custkey, rnk, o_orderkey""",

    // q55: the salt must be invisible in the result — the oracle is the
    // PLAIN inner join aggregate
    "q55_salted_join" -> """
      SELECT s.s_name, count(*) AS n_lines,
             CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY s.s_name
      ORDER BY s.s_name""",
  ).++(CorpusOracles.sql).++(SpotifyParity.oracle)
    .map { case (k, v) => k -> v.stripMargin.trim.replaceAll("\\s+", " ") }

  /** `oracleSql` restricted to `names`, as the `oracle_sql.json` that
    * tools/check_oracle.py and tools/time_duckdb.py read. */
  def oracleJson(names: Iterable[String]): String = {
    val keep = names.toSet
    jsonObject(oracleSql.filter { case (k, _) => keep(k) })
  }

  /** A flat JSON object of strings. Escapes backslash, quote and ALL
    * control chars (<0x20): a tab or CR in a query's SQL would
    * otherwise make the reader's json.load fail and silently zero the
    * round's correctness. */
  private[graft] def jsonObject(kvs: Iterable[(String, String)]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    kvs.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
