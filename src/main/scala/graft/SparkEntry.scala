package graft

import graft.multimodal.Multimodal
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  * Every oracle-checked operator has a `queries` entry and a DuckDB
  * `oracleSql` entry with identical column names & rounding; sketch /
  * LSH operators (engine-specific outputs) are rows-only checked and
  * spec-verified in src/test.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.q5RegionVolume(spark, "/root/testdata/sf0.001")

  type Q = (SparkSession, String) => DataFrame

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, Q] = analyticsQueries ++ pipelineQueries ++ lakeQueries

  val analyticsQueries: Map[String, Q] = Map(
    "q1_pricing_summary" -> Analytics.q1PricingSummary _,
    "q2_selective_filter" -> Analytics.q2SelectiveFilter _,
    "q3_join_revenue" -> Analytics.q3JoinRevenue _,
    "q4_top_customers" -> Analytics.q4TopCustomers _,
    "q5_region_volume" -> Analytics.q5RegionVolume _,
    "q6_forecast_revenue" -> Analytics.q6ForecastRevenue _,
    "q7_topn_per_brand" -> Analytics.q7TopnPerBrand _,
    "q8_running_sum" -> Analytics.q8RunningSum _,
    "q9_anti_join" -> Analytics.q9AntiJoin _,
    "q10_conditional_agg" -> Analytics.q10ConditionalAgg _,
    "q11_distinct_parts" -> Analytics.q11DistinctParts _,
    "q12_event_windows" -> Analytics.q12EventWindows _,
    "q55_gap_fill" -> Analytics.q55GapFill _,
    "q56_histogram" -> Analytics.q56Histogram _,
    "q57_regression" -> Analytics.q57Regression _,
    "q58_mode" -> Analytics.q58Mode _,
    "q59_basket" -> Analytics.q59Basket _,
    "q60_basket_lift" -> Analytics.q60BasketLift _,
    "q61_concurrency" -> Analytics.q61Concurrency _,
    "q62_transitions" -> Analytics.q62Transitions _,
    "q63_anomaly" -> Analytics.q63Anomaly _,
    "q64_rfm" -> Analytics.q64Rfm _,
    "q65_gini" -> Analytics.q65Gini _,
    "q66_attribution" -> Analytics.q66Attribution _,
    "q67_cohort_ltv" -> Analytics.q67CohortLtv _,
    "q68_decile_migration" -> Analytics.q68DecileMigration _,
    "q69_yoy_growth" -> Analytics.q69YoyGrowth _,
    "q70_supplier_hhi" -> Analytics.q70SupplierHhi _,
    "q71_weighted_median" -> Analytics.q71WeightedMedian _,
    "q72_cohort_retention" -> Analytics.q72CohortRetention _,
    "q73_funnel" -> Analytics.q73Funnel _,
    "q13_approx" -> Analytics.q13Approx _,
    "q54_heavy_hitters" -> Analytics.q54HeavyHitters _,
    "q14_asof_join" -> AsOf.lastClickBeforePurchase _,
    "q15_skew_salted" -> Analytics.q15SkewSalted _,
    "q16_rollup" -> Analytics.q16Rollup _,
    "q17_exact_percentile" -> Analytics.q17ExactPercentile _,
    "q18_order_gaps" -> Analytics.q18OrderGaps _,
    "q19_levenshtein" -> Analytics.q19Levenshtein _,
    "q20_cube" -> Analytics.q20Cube _,
    "q21_correlated" -> Analytics.q21CorrelatedSubquery _,
    "q22_set_ops" -> Analytics.q22SetOps _,
    "q23_pivot" -> Analytics.q23Pivot _,
    "q24_json_extract" -> Analytics.q24JsonExtract _,
    "q25_sessionize" -> Analytics.q25Sessionize _,
    "q26_skew_join" -> Analytics.q26SkewJoin _,
    "q27_range_frame" -> Analytics.q27RangeFrame _,
    "q28_range_join" -> AsOf.q28RangeJoin _,
    "q29_ntile" -> Analytics.q29Ntile _,
    "q30_string_agg" -> Analytics.q30StringAgg _,
    "q31_grouping_sets" -> Analytics.q31GroupingSets _,
    "q32_percent_rank" -> Analytics.q32PercentRank _,
    "q33_group_median" -> Analytics.q33GroupMedian _,
    "q34_min_cost_supplier" -> Analytics.q34MinCostSupplier _,
    "q35_solo_supplier" -> Analytics.q35SoloSupplierOrders _,
    "q36_top_rev_supplier" -> Analytics.q36TopRevenueSupplier _,
    "q37_funnel" -> Analytics.q37Funnel _,
    "q38_retention" -> Analytics.q38Retention _,
    "q39_order_priority" -> Analytics.q39OrderPriority _,
    "q40_cust_distribution" -> Analytics.q40CustDistribution _,
    "q41_big_orders" -> Analytics.q41BigOrders _,
    "q42_inactive_balance" -> Analytics.q42InactiveBalance _,
    "q43_nation_trade" -> Analytics.q43NationTrade _,
    "q44_market_share" -> Analytics.q44MarketShare _,
    "q45_product_profit" -> Analytics.q45ProductProfit _,
    "q46_returned_items" -> Analytics.q46ReturnedItems _,
    "q47_important_parts" -> Analytics.q47ImportantParts _,
    "q48_ship_priority" -> Analytics.q48ShipPriority _,
    "q49_promo_effect" -> Analytics.q49PromoEffect _,
    "q50_small_qty_revenue" -> Analytics.q50SmallQtyRevenue _,
    "q51_brand_bands" -> Analytics.q51BrandBands _,
    "q52_excess_suppliers" -> Analytics.q52ExcessSuppliers _,
    "q53_supplier_variety" -> Analytics.q53SupplierVariety _)

  val pipelineQueries: Map[String, Q] = Map(
    "text_token_count" -> TextOps.textTokenCount _,
    "text_bigrams" -> TextOps.textBigrams _,
    "text_quality" -> TextOps.textQuality _,
    "text_ttr" -> TextOps.textTtr _,
    "text_fertility" -> TextOps.textFertility _,
    "text_zipf" -> TextOps.textZipf _,
    "text_langid" -> TextOps.textLangid _,
    "text_fingerprint" -> TextOps.textFingerprint _,
    "text_pii_scrub" -> TextOps.textPiiScrub _,
    "text_repetition" -> TextOps.textRepetition _,
    "text_entropy" -> TextOps.textEntropy _,
    "text_gopher_filter" -> TextOps.textGopherFilter _,
    "text_vocab" -> TextOps.textVocab _,
    "text_tfidf" -> TextOps.textTfidf _,
    "text_winnow" -> TextOps.textWinnow _,
    "text_chunk" -> TextOps.textChunk _,
    "text_search" -> TextOps.textSearch _,
    "text_langid_eval" -> TextOps.textLangidEval _,
    "text_phrase" -> TextOps.textPhraseSearch _,
    "text_phrase3" -> TextOps.textPhrase3Search _,
    "text_search_ranked" -> TextOps.textSearchRanked _,
    "text_search_bm25" -> TextOps.textSearchBm25 _,
    "text_search_proximity" -> TextOps.textSearchProximity _,
    "text_collocations" -> TextOps.textCollocations _,
    "text_rarity" -> TextOps.textRarity _,
    "text_perplexity" -> TextOps.textPerplexity _,
    "dedup_exact" -> Dedup.dedupExact _,
    "dedup_normalized" -> Dedup.dedupNormalized _,
    "dedup_ngram_jaccard" -> Dedup.dedupNgramJaccard _,
    "dedup_clusters" -> Dedup.dedupClusters _,
    "dedup_cluster_sizes" -> Dedup.dedupClusterSizes _,
    "dedup_band_profile" -> Dedup.dedupBandProfile _,
    "dedup_minhash_lsh" -> Dedup.dedupMinhashLsh _,
    "dedup_minhash_materialized" -> Dedup.dedupMinhashMaterialized _,
    "dedup_simhash" -> Dedup.dedupSimhash _,
    "dedup_keep_longest" -> Dedup.dedupKeepLongest _,
    "dedup_embedding" -> Dedup.dedupEmbedding _,
    "dedup_semantic" -> Dedup.dedupSemantic _,
    "dedup_semantic_materialized" -> Dedup.dedupSemanticMaterialized _,
    "dedup_substring" -> Dedup.dedupSubstring _,
    "sim_bruteforce_topk" -> Similarity.simBruteforceTopk _,
    "sim_recall_report" -> Similarity.simRecallReport _,
    "sim_cluster_balance" -> Similarity.simClusterBalance _,
    "sim_l2_topk" -> Similarity.simL2Topk _,
    "sim_mips_topk" -> Similarity.simMipsTopk _,
    "sim_filtered_topk" -> Similarity.simFilteredTopk _,
    "sim_knn_join" -> Similarity.simKnnJoin _,
    "sim_filtered_ivf" -> Similarity.simFilteredIvf _,
    "sim_pagerank" -> Similarity.simPagerank _,
    "sim_triangles" -> Similarity.simTriangles _,
    "sim_kcore" -> Similarity.simKcore _,
    "sim_mmr" -> Similarity.simMmr _,
    "sim_hybrid_rrf" -> Similarity.simHybridRrf _,
    "sim_hybrid_bm25" -> Similarity.simHybridBm25 _,
    "sim_sq_topk" -> Similarity.simSqTopk _,
    "sim_sq_materialized" -> Similarity.simSqMaterialized _,
    "sim_range" -> Similarity.simRange _,
    "sim_pq_materialized" -> Similarity.simPqMaterialized _,
    "sim_ivf_materialized" -> Similarity.simIvfMaterialized _,
    "sim_lsh_ann" -> Similarity.simLshAnn _,
    "sim_ivf" -> Similarity.simIvf _,
    "sim_pq" -> Similarity.simPq _,
    "sim_ivfpq" -> Similarity.simIvfPq _,
    "sim_pq_rerank" -> Similarity.simPqRerank _,
    "pipe_stratified_sample" -> Pipeline.pipeStratifiedSample _,
    "pipe_curriculum" -> Pipeline.pipeCurriculum _,
    "pipe_cluster_sample" -> Pipeline.pipeClusterSample _,
    "pipe_token_budget" -> Pipeline.pipeTokenBudget _,
    "pipe_quality_decile" -> Pipeline.pipeQualityDecile _,
    "pipe_shard_manifest" -> Pipeline.pipeShardManifest _,
    "pipe_dsir_select" -> Pipeline.pipeDsirSelect _,
    "pipe_epoch_plan" -> Pipeline.pipeEpochPlan _,
    "pipe_split_leakage" -> Pipeline.pipeSplitLeakage _,
    "pipe_mixture" -> Pipeline.pipeMixture _,
    "pipe_corpus_stats" -> Pipeline.pipeCorpusStats _,
    "pipe_source_report" -> Pipeline.pipeSourceReport _,
    "pipe_cross_dup" -> Pipeline.pipeCrossDup _,
    "pipe_dedup_savings" -> Pipeline.pipeDedupSavings _,
    "pipe_filter_ablation" -> Pipeline.pipeFilterAblation _,
    "pipe_temperature_mix" -> Pipeline.pipeTemperatureMix _,
    "pipe_decontaminate" -> Pipeline.pipeDecontaminate _,
    "pipe_fuzzy_decontaminate" -> Pipeline.pipeFuzzyDecontaminate _,
    "pipe_pack" -> Pipeline.pipePack _,
    "pipe_incremental_dedup" -> Pipeline.pipeIncrementalDedup _,
    "pipe_shuffle" -> Pipeline.pipeShuffle _,
    "pipe_split" -> Pipeline.pipeSplit _,
    "pipe_e2e" -> Pipeline.pipeEndToEnd _,
    "mm_decode_meta" -> Multimodal.mmDecodeMeta _,
    "mm_content_stats" -> Multimodal.mmContentStats _,
    "mm_png_meta" -> Multimodal.mmPngMeta _,
    "mm_audio_window" -> Multimodal.mmAudioWindow _,
    "mm_audio_features" -> Multimodal.mmAudioFeatures _,
    "mm_frame_sample" -> Multimodal.mmFrameSample _,
    "mm_resize_plan" -> Multimodal.mmResizePlan _,
    "mm_patch_grid" -> Multimodal.mmPatchGrid _,
    "mm_phash_dedup" -> Multimodal.mmPhashDedup _,
    "mm_energy_segments" -> Multimodal.mmEnergySegments _)

  /** GraftLake table-layer queries (SURVEY §2.1): each rebuilds an
    * isolated table under target/ and proves content invariants
    * against plain-parquet oracles.
    */
  val lakeQueries: Map[String, Q] = Map(
    "lake_roundtrip" -> LakeOps.lakeRoundtrip _,
    "lake_delete" -> LakeOps.lakeDelete _,
    "lake_delete_mor" -> LakeOps.lakeDeleteMor _,
    "lake_timetravel" -> LakeOps.lakeTimetravel _,
    "lake_tag" -> LakeOps.lakeTag _,
    "lake_branch" -> LakeOps.lakeBranch _,
    "lake_rebase" -> LakeOps.lakeRebase _,
    "lake_principal" -> LakeOps.lakePrincipal _,
    "lake_row_filter" -> LakeOps.lakeRowFilter _,
    "lake_variant_shred" -> LakeOps.lakeVariantShred _,
    "lake_cluster_auto" -> LakeOps.lakeClusterAuto _,
    "lake_update" -> LakeOps.lakeUpdate _,
    "lake_update_mor" -> LakeOps.lakeUpdateMor _,
    "lake_merge" -> LakeOps.lakeMerge _,
    "lake_merge_composite" -> LakeOps.lakeMergeComposite _,
    "lake_merge_predicate" -> LakeOps.lakeMergePredicate _,
    "lake_optimize" -> LakeOps.lakeOptimize _,
    "lake_zorder" -> LakeOps.lakeZorder _,
    "lake_partition_prune" -> LakeOps.lakePartitionPrune _,
    "lake_data_skipping" -> LakeOps.lakeDataSkipping _,
    "lake_restore" -> LakeOps.lakeRestore _,
    "lake_history" -> LakeOps.lakeHistory _,
    "lake_vacuum" -> LakeOps.lakeVacuum _,
    "lake_rowtracking" -> LakeOps.lakeRowTracking _,
    "lake_dfp" -> LakeOps.lakeDfp _,
    "lake_bloom_join" -> LakeOps.lakeBloomJoin _,
    "lake_dynamic_overwrite" -> LakeOps.lakeDynamicOverwrite _,
    "lake_mv_incremental" -> LakeOps.lakeMvIncremental _,
    "lake_mv_avg" -> LakeOps.lakeMvAvg _,
    "lake_mv_minmax" -> LakeOps.lakeMvMinMax _,
    "lake_mv_join" -> LakeOps.lakeMvJoin _,
    "lake_mv_outer_join" -> LakeOps.lakeMvOuterJoin _,
    "lake_mv_distinct" -> LakeOps.lakeMvDistinct _,
    "lake_insert" -> LakeOps.lakeInsert _,
    "lake_identity" -> LakeOps.lakeIdentity _,
    "lake_manifest" -> LakeOps.lakeManifest _,
    "lake_manifest_dv" -> LakeOps.lakeManifestDv _,
    "lake_iceberg_export" -> LakeOps.lakeIcebergExport _,
    "lake_iceberg_attach" -> LakeOps.lakeIcebergAttach _,
    "lake_delta_export" -> LakeOps.lakeDeltaExport _,
    "lake_dfp_cost" -> LakeOps.lakeDfpCost _,
    "lake_rlo_update" -> LakeOps.lakeRloUpdate _,
    "lake_rlo_update_mor" -> LakeOps.lakeRloUpdateMor _,
    "lake_rlo_merge" -> LakeOps.lakeRloMerge _,
    "lake_txn" -> LakeOps.lakeTxn _)

  private val rev = "ROUND(SUM(l_extendedprice*(1.0-l_discount)),2)"

  /** DuckDB replica of [[graft.functions.Fnv.hashBytes]]: FNV-1a
    * folded over the UTF-8 bytes of column `sh` from a given seed,
    * in unsigned-64 arithmetic via HUGEINT mod 2^64. The xor touches
    * only the low byte, so it is lifted to BIGINT and spliced back.
    */
  private def fnvFoldSql(seed: String): String =
    s"list_reduce(list_prepend(CAST('$seed' AS HUGEINT), " +
      "list_transform(range(1, length(sh)+1), " +
      "j -> CAST(ord(substr(sh, CAST(j AS INT), 1)) AS HUGEINT))), " +
      "(acc, c) -> ((acc - (acc % 256) + " +
      "CAST(xor(CAST(acc % 256 AS BIGINT), CAST(c AS BIGINT)) AS HUGEINT)) " +
      "* 1099511628211) % CAST('18446744073709551616' AS HUGEINT))"

  /** CTE chain replicating the MinHash-LSH candidate generator
    * ([[graft.functions.MinHashSig32]] + banded self-join) in DuckDB:
    * planted near-dups, 3-word shingles, two FNV-1a hashes per
    * shingle, 32 Kirsch–Mitzenmacher components (signed-min like the
    * Scala kernel), 8 bands of 4 components. Ends with `sig`
    * (doc_id, 32-component signature) and `cand` (id_a < id_b pairs
    * agreeing on all of some band).
    */
  private val minhashCandSql =
    "WITH base AS (SELECT doc_id, text FROM documents UNION ALL " +
      s"SELECT doc_id + ${graft.operators.Dedup.PlantedIdOffset}, text || ' appended near duplicate tail marker' " +
      "FROM documents WHERE doc_id < 20), " +
      "toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), " +
      "t -> t <> '') AS ts FROM base), " +
      "sh0 AS (SELECT doc_id, CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')] " +
      "ELSE list_transform(range(1, len(ts)-1), i -> ts[CAST(i AS INT)] || ' ' || " +
      "ts[CAST(i AS INT)+1] || ' ' || ts[CAST(i AS INT)+2]) END AS shl FROM toks), " +
      "shx AS (SELECT doc_id, UNNEST(shl) AS sh FROM sh0), " +
      s"hs AS (SELECT doc_id, ${fnvFoldSql("14695981039346656037")} AS h1, " +
      s"${fnvFoldSql("11400714819323198485")} AS h2 FROM shx), " +
      "comp AS (SELECT doc_id, i, MIN(CASE WHEN hm >= CAST('9223372036854775808' AS HUGEINT) " +
      "THEN CAST(hm - CAST('18446744073709551616' AS HUGEINT) AS BIGINT) " +
      "ELSE CAST(hm AS BIGINT) END) AS c FROM " +
      "(SELECT doc_id, i, (h1 + i * h2) % CAST('18446744073709551616' AS HUGEINT) AS hm " +
      "FROM hs CROSS JOIN (SELECT UNNEST(range(0, 32)) AS i) ii) GROUP BY doc_id, i), " +
      "sig AS (SELECT doc_id, list(c ORDER BY i) AS sig FROM comp GROUP BY doc_id), " +
      "bands AS (SELECT doc_id, i // 4 AS band, array_to_string(list(c ORDER BY i), ',') " +
      "AS bkey FROM comp GROUP BY doc_id, i // 4), " +
      "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bands a " +
      "JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)"

  private val jaccardPairsSql =
    minhashCandSql +
      ", ws AS (SELECT doc_id, list_distinct(string_split_regex(lower(trim(text)), '\\s+')) " +
      "AS ws FROM base) " +
      "SELECT id_a, id_b, ROUND(CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE) / " +
      "CAST(len(list_distinct(wa.ws || wb.ws)) AS DOUBLE), 4) AS jaccard " +
      "FROM cand JOIN ws wa ON wa.doc_id = id_a JOIN ws wb ON wb.doc_id = id_b " +
      "WHERE CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE) / " +
      "CAST(len(list_distinct(wa.ws || wb.ws)) AS DOUBLE) >= 0.5 ORDER BY id_a, id_b"

  /** DuckDB replica of [[graft.functions.SimHash64]] + the 4×16-bit
    * banded self-join: per-token FNV-1a (reusing [[fnvFoldSql]] via
    * the `sh` alias), per-bit sign sums, unsigned band extraction,
    * Hamming ≤ 8 on collisions.
    */
  private val simhashSql =
    "WITH base AS (SELECT doc_id, text FROM documents UNION ALL " +
      s"SELECT doc_id + ${graft.operators.Dedup.PlantedIdOffset}, text || ' zq' FROM documents WHERE doc_id < 20), " +
      "toks AS (SELECT doc_id, UNNEST(list_filter(string_split_regex(lower(text), '\\s+'), " +
      "t -> t <> '')) AS sh FROM base), " +
      s"hs AS (SELECT doc_id, ${fnvFoldSql("14695981039346656037")} AS h FROM toks), " +
      "bits AS (SELECT doc_id, b, SUM(CASE WHEN " +
      "(h // power(CAST(2 AS HUGEINT), CAST(b AS INT))::HUGEINT) % 2 = 1 " +
      "THEN 1 ELSE -1 END) AS cnt " +
      "FROM hs CROSS JOIN (SELECT UNNEST(range(0, 64)) AS b) bb GROUP BY doc_id, b), " +
      "sigu AS (SELECT doc_id, SUM(CASE WHEN cnt > 0 " +
      "THEN power(CAST(2 AS HUGEINT), CAST(b AS INT))::HUGEINT " +
      "ELSE CAST(0 AS HUGEINT) END) AS su FROM bits GROUP BY doc_id), " +
      "sig AS (SELECT b.doc_id, COALESCE(su, CAST(0 AS HUGEINT)) AS su, " +
      "COALESCE(CASE WHEN su >= CAST('9223372036854775808' AS HUGEINT) " +
      "THEN CAST(su - CAST('18446744073709551616' AS HUGEINT) AS BIGINT) " +
      "ELSE CAST(su AS BIGINT) END, 0) AS sg " +
      "FROM base b LEFT JOIN sigu ON sigu.doc_id = b.doc_id), " +
      "bands AS (SELECT doc_id, sg, i AS band, " +
      "(su // power(CAST(2 AS HUGEINT), CAST(16*i AS INT))::HUGEINT) % 65536 AS band_bits " +
      "FROM sig CROSS JOIN (SELECT UNNEST(range(0, 4)) AS i) ii) " +
      "SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, " +
      "CAST(bit_count(xor(a.sg, b.sg)) AS BIGINT) AS hamming " +
      "FROM bands a JOIN bands b ON a.band = b.band AND a.band_bits = b.band_bits " +
      "AND a.doc_id < b.doc_id WHERE bit_count(xor(a.sg, b.sg)) <= 8 " +
      "ORDER BY id_a, id_b"

  private val minhashLshSql =
    minhashCandSql +
      " SELECT id_a, id_b, ROUND(CAST(len(list_filter(range(1, 33), " +
      "i -> sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)])) AS DOUBLE) / 32, 4) " +
      "AS est_jaccard FROM cand " +
      "JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b " +
      "WHERE CAST(len(list_filter(range(1, 33), " +
      "i -> sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)])) AS DOUBLE) / 32 >= 0.5 " +
      "ORDER BY id_a, id_b"

  /** P20: the D2 verified-pair replica wrapped as a CTE, each pair
    * attributed to its unordered source pair (planted ids ≥ 100000
    * resolve to the base doc's source — the fixture convention).
    */
  private val pipeCrossDupSql =
    minhashCandSql +
      ", vp AS (SELECT id_a, id_b FROM cand " +
      "JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b " +
      "WHERE CAST(len(list_filter(range(1, 33), " +
      "i -> sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)])) AS DOUBLE) / 32 >= 0.5), " +
      s"ids AS (SELECT CASE WHEN id_a >= ${graft.operators.Dedup.PlantedIdOffset} THEN id_a - ${graft.operators.Dedup.PlantedIdOffset} ELSE id_a END AS ba, " +
      s"CASE WHEN id_b >= ${graft.operators.Dedup.PlantedIdOffset} THEN id_b - ${graft.operators.Dedup.PlantedIdOffset} ELSE id_b END AS bb FROM vp), " +
      "ss AS (SELECT da.source AS sa2, db.source AS sb2 FROM ids " +
      "JOIN documents da ON ba = da.doc_id JOIN documents db ON bb = db.doc_id) " +
      "SELECT LEAST(sa2, sb2) AS source_x, GREATEST(sa2, sb2) AS source_y, " +
      "COUNT(*) AS n_pairs FROM ss GROUP BY 1, 2 ORDER BY 1, 2"
  /** DuckDB replica of [[graft.operators.Similarity.simLshAnn]]: the
    * deterministic 64×64 hyperplane matrix
    * ([[graft.functions.VectorFunctions.planes]], seed 42) is embedded
    * as a literal (Java's shortest-round-trip double rendering parses
    * back to the identical double), bit j = dot(e, plane_j) > 0, and
    * each of the 4 bands keys on its low-b-bit slice with
    * b = ⌈log₂√n⌉ clamped to [4,16] — computed from COUNT(*) so the
    * same SQL holds at every scale factor. Candidates are band-bucket
    * collisions; exact cosine re-ranks the top 5 per query.
    */
  private def simLshAnnSql: String = {
    val planes = graft.functions.VectorFunctions.planes(64, 64)
    val lit = planes.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
    s"WITH pl AS (SELECT $lit::DOUBLE[][] AS ps), " +
      "emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
      "prm AS (SELECT LEAST(16, GREATEST(4, " +
      "CAST(ceil(log2(sqrt(COUNT(*)))) AS INT))) AS b FROM emb), " +
      "bits AS (SELECT vec_id, list_transform(ps, " +
      "p -> CASE WHEN list_dot_product(e, p) > 0 THEN 1 ELSE 0 END) AS bs " +
      "FROM emb, pl), " +
      "banded AS (SELECT vec_id, band, CAST(list_sum(list_transform(range(1, b+1), " +
      "k -> bs[CAST(band*b + k AS INT)] * CAST(power(2, k-1) AS INT))) AS BIGINT) AS bbits " +
      "FROM bits, prm, (SELECT UNNEST(range(0, 4)) AS band) bands), " +
      "cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid " +
      "FROM banded q JOIN banded c ON q.band = c.band AND q.bbits = c.bbits " +
      "WHERE q.vec_id < 10 AND c.vec_id >= 10), " +
      "s AS (SELECT qid, cid, list_cosine_similarity(a.e, b.e) AS cos_raw " +
      "FROM cand JOIN emb a ON a.vec_id = qid JOIN emb b ON b.vec_id = cid), " +
      "r AS (SELECT qid, cid, cos_raw, ROW_NUMBER() OVER (PARTITION BY qid " +
      "ORDER BY cos_raw DESC, cid) AS rn FROM s) " +
      "SELECT qid, cid, ROUND(cos_raw, 4) AS cos, CAST(rn AS BIGINT) AS rn " +
      "FROM r WHERE rn <= 5 ORDER BY qid, rn"
  }

  /** DuckDB replica of [[graft.operators.Similarity.simIvf]]: the
    * coarse quantizer is a strided medoid seed refined by int64 Lloyd
    * rounds (see [[ivfCandCtes]]), so the whole index is re-derivable
    * in SQL — k = clamped highestOneBit arithmetic via binary-string
    * length (exact integer logic, no float log2), assignment score
    * replays the [[graft.functions.TopCentroidIds]] kernel op-for-op
    * (`dot * (1/sqrt(nc))`, ties to the lower centroid index), corpus
    * takes its top-Spill lists, queries probe their top-Probes, and
    * exact cosine re-ranks the candidate join. Bit-compatible because
    * every intermediate is an exact integer (or an exact int-valued
    * double) and both engines fold the final float dot-products
    * left-to-right in dimension order.
    */
  private val embCte: String =
    "emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)"

  /** IVF candidate-generation CTE chain (ends in `cand(qid, cid)`) —
    * shared by the sim_ivf oracles and composed with the PQ chain in
    * [[simIvfPqSql]] (CTE names are disjoint from the PQ chain's).
    * Replays [[graft.operators.IvfIndex.trainCentroids]] end-to-end:
    * quantized strided-medoid seeds, [[graft.operators.IvfIndex.Rounds]]
    * unrolled int64 Lloyd rounds (integer dot × 1/√(integer norm)
    * assignment with ties to the lower centroid, truncating-division
    * means, empty cells keep their codeword), then the final
    * float-embedding assignment against the refined (int-valued)
    * centroids — every intermediate is exact, so the comparison stays
    * bit-for-bit.
    */
  /** Quantizer-training CTE chain — the SQL replica of
    * [[graft.operators.IvfIndex.trainCentroids]], ending in
    * `seeds(cid_c, c DOUBLE[], nc)`. `embName` is the CTE holding
    * `(vec_id, e DOUBLE[])` for the training corpus. Shared by the
    * sim_ivf chain and the SemDeDup oracle.
    */
  private def ivfQuantizerCtes(embName: String): String = {
    val rounds = graft.operators.IvfIndex.Rounds
    val cap = graft.operators.IvfIndex.TrainCap
    val head =
      "iprm AS (SELECT COUNT(*) AS n, LEAST(1048576, GREATEST(16, LEAST(" +
        "CAST(power(2, length(bin(GREATEST(1, COUNT(*) // 2))) - 1) AS BIGINT), " +
        "CAST(power(2, length(bin(GREATEST(1, CAST(FLOOR(8 * sqrt(COUNT(*))) AS BIGINT)))) - 1) AS BIGINT)))) AS k " +
        s"FROM $embName), " +
        "ivq AS (SELECT vec_id, CAST(i - 1 AS INT) AS pos, " +
        "CAST(FLOOR(x * 10000 + 0.5) AS BIGINT) AS q FROM " +
        s"(SELECT vec_id, UNNEST(generate_series(1, len(e))) AS i, UNNEST(e) AS x FROM $embName)), " +
        "icw AS (SELECT cid_c, vec_id FROM (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid_c, vec_id " +
        s"FROM $embName, iprm WHERE vec_id % GREATEST(1, n // k) = 0) s, iprm WHERE cid_c < k), " +
        "ic0 AS (SELECT s.cid_c, v.pos, v.q FROM icw s JOIN ivq v USING (vec_id)), " +
        s"itr AS (SELECT v.* FROM ivq v, iprm WHERE v.vec_id % GREATEST(1, n // $cap) = 0), "
    val lloyd = (1 to rounds).map { t =>
      val p = s"ic${t - 1}"
      s"inc$t AS (SELECT cid_c, SUM(q * q) AS nc FROM $p GROUP BY 1), " +
        s"iasg$t AS (SELECT vec_id, cid_c FROM (SELECT v.vec_id, c.cid_c, " +
        "ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY " +
        "CASE WHEN ANY_VALUE(n.nc) > 0 THEN CAST(SUM(v.q * c.q) AS DOUBLE) * " +
        "(1.0 / sqrt(CAST(ANY_VALUE(n.nc) AS DOUBLE))) ELSE 0.0 END DESC, c.cid_c) AS r " +
        s"FROM itr v JOIN $p c USING (pos) JOIN inc$t n ON c.cid_c = n.cid_c " +
        "GROUP BY v.vec_id, c.cid_c) WHERE r = 1), " +
        s"iup$t AS (SELECT a.cid_c, v.pos, SUM(v.q) // COUNT(*) AS q " +
        s"FROM iasg$t a JOIN itr v USING (vec_id) GROUP BY 1, 2), " +
        s"ic$t AS (SELECT c.cid_c, c.pos, COALESCE(u.q, c.q) AS q " +
        s"FROM $p c LEFT JOIN iup$t u ON c.cid_c = u.cid_c AND c.pos = u.pos), "
    }.mkString
    head + lloyd +
      "seeds AS (SELECT cid_c, c, list_dot_product(c, c) AS nc FROM " +
      s"(SELECT cid_c, list(CAST(q AS DOUBLE) ORDER BY pos) AS c FROM ic$rounds GROUP BY 1))"
  }

  private val ivfCandCtes: String = {
    val probes = graft.operators.IvfIndex.Probes
    val spill = graft.operators.IvfIndex.Spill
    ivfQuantizerCtes("emb") + ", " +
      "assign AS (SELECT vec_id, cid_c, CASE WHEN nc > 0 THEN " +
      "list_dot_product(e, c) * (1.0 / sqrt(nc)) ELSE 0.0 END AS score " +
      "FROM emb CROSS JOIN seeds), " +
      "ranked AS (SELECT vec_id, cid_c, ROW_NUMBER() OVER " +
      "(PARTITION BY vec_id ORDER BY score DESC, cid_c) AS rr FROM assign), " +
      s"qa AS (SELECT vec_id AS qid, cid_c FROM ranked WHERE vec_id < 10 AND rr <= $probes), " +
      s"ca AS (SELECT vec_id AS cid, cid_c FROM ranked WHERE vec_id >= 10 AND rr <= $spill), " +
      "cand AS (SELECT DISTINCT qid, cid FROM qa JOIN ca USING (cid_c))"
  }

  /** SQ8 replay: FLOOR(x·10⁴+0.5) quantization, strided ≤1024-row
    * per-dimension scale training, sign-preserving truncating codes
    * clamped at ±127, exact int64 num/norm² sums, one double division
    * — op-for-op with [[graft.functions.SqScores]].
    */
  private def simSqSql: String =
    s"WITH $embCte, " +
      "sn AS (SELECT COUNT(*) AS n FROM emb WHERE vec_id >= 10), " +
      "sprm AS (SELECT GREATEST(1, n // 1024) AS tstride FROM sn), " +
      "sq AS (SELECT vec_id, CAST(i - 1 AS INT) AS pos, " +
      "CAST(FLOOR(x * 10000 + 0.5) AS BIGINT) AS q " +
      "FROM (SELECT vec_id, UNNEST(generate_series(1, len(e))) AS i, UNNEST(e) AS x FROM emb)), " +
      "samp AS (SELECT vec_id FROM emb, sprm WHERE vec_id >= 10 AND (vec_id - 10) % tstride = 0 " +
      "QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= 1024), " +
      "smax AS (SELECT pos, GREATEST(1, MAX(ABS(q))) AS s " +
      "FROM sq JOIN samp USING (vec_id) GROUP BY pos), " +
      "codes AS (SELECT vec_id, v.pos, CASE WHEN q < 0 THEN -LEAST(127, ((-q) * 127) // s) " +
      "ELSE LEAST(127, (q * 127) // s) END * s AS cs " +
      "FROM sq v JOIN smax m ON v.pos = m.pos WHERE vec_id >= 10), " +
      "qn AS (SELECT vec_id AS qid, SUM(q * q) AS qn2 FROM sq WHERE vec_id < 10 GROUP BY 1), " +
      "agg AS (SELECT a.vec_id AS qid, b.vec_id AS cid, SUM(a.q * b.cs) AS num, " +
      "SUM(b.cs * b.cs) AS n2 FROM sq a JOIN codes b ON a.pos = b.pos " +
      "WHERE a.vec_id < 10 GROUP BY 1, 2), " +
      "scored AS (SELECT qid, cid, CASE WHEN n2 > 0 AND qn2 > 0 THEN CAST(num AS DOUBLE) / " +
      "(sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE))) ELSE 0.0 END AS score " +
      "FROM agg JOIN qn USING (qid)), " +
      "r AS (SELECT qid, cid, score, ROW_NUMBER() OVER " +
      "(PARTITION BY qid ORDER BY score DESC, cid) AS rn FROM scored) " +
      "SELECT qid, cid, ROUND(score, 4) AS cos_sq, CAST(rn AS BIGINT) AS rn " +
      "FROM r WHERE rn <= 5 ORDER BY qid, rn"

  /** KNN self-join replay: the shared quantizer CTEs, spill
    * assignment for BOTH sides, same-cluster candidate pairs, exact
    * cosine + rank — op-for-op with [[graft.operators.Similarity.simKnnJoin]].
    */
  /** KNN self-join CTE chain ending in `knnr(id_a, id_b, cos_raw, rn)`
    * — shared by [[simKnnJoinSql]] and [[simPagerankSql]].
    */
  private def knnCtes: String = {
    val spill = graft.operators.IvfIndex.Spill
    s"$embCte, ${ivfQuantizerCtes("emb")}, " +
      "assign AS (SELECT vec_id, cid_c, CASE WHEN nc > 0 THEN " +
      "list_dot_product(e, c) * (1.0 / sqrt(nc)) ELSE 0.0 END AS score " +
      "FROM emb CROSS JOIN seeds), " +
      "ranked AS (SELECT vec_id, cid_c, ROW_NUMBER() OVER " +
      "(PARTITION BY vec_id ORDER BY score DESC, cid_c) AS rr FROM assign), " +
      s"ca AS (SELECT vec_id, cid_c FROM ranked WHERE rr <= $spill), " +
      "cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b " +
      "FROM ca a JOIN ca b USING (cid_c) WHERE a.vec_id <> b.vec_id), " +
      "sc AS (SELECT id_a, id_b, list_cosine_similarity(x.e, y.e) AS cos_raw " +
      "FROM cand JOIN emb x ON x.vec_id = id_a JOIN emb y ON y.vec_id = id_b), " +
      "knnr AS (SELECT id_a, id_b, cos_raw, ROW_NUMBER() OVER " +
      "(PARTITION BY id_a ORDER BY cos_raw DESC, id_b) AS rn FROM sc)"
  }

  private def simKnnJoinSql: String =
    s"WITH $knnCtes " +
      "SELECT id_a, id_b, ROUND(cos_raw, 4) AS cos, CAST(rn AS BIGINT) AS rn " +
      "FROM knnr WHERE rn <= 3 ORDER BY id_a, rn"

  /** Exact-integer PageRank replay over the KNN edges: mass at scale
    * 10¹², `r // outdeg` contributions, `(17·Σ) // 20` damping — all
    * integer, so the 3 unrolled iterations match Spark bit-for-bit.
    */
  private def simPagerankSql: String = {
    val S = "1000000000000"
    def iter(prev: String, cur: String): String =
      s"$cur AS (SELECT nodes.id, CAST((($S * 3) // 20) // n + " +
        s"(17 * COALESCE(c.s, 0)) // 20 AS BIGINT) AS r " +
        "FROM nodes CROSS JOIN nn LEFT JOIN (" +
        s"SELECT id_b, SUM($prev.r // deg) AS s FROM edges " +
        s"JOIN $prev ON $prev.id = edges.id_a JOIN odeg USING (id_a) " +
        "GROUP BY id_b) c ON c.id_b = nodes.id)"
    s"WITH $knnCtes, " +
      "edges AS (SELECT id_a, id_b FROM knnr WHERE rn <= 3), " +
      "nodes AS (SELECT DISTINCT id FROM (SELECT id_a AS id FROM edges " +
      "UNION ALL SELECT id_b FROM edges)), " +
      "nn AS (SELECT COUNT(*) AS n FROM nodes), " +
      "odeg AS (SELECT id_a, COUNT(*) AS deg FROM edges GROUP BY id_a), " +
      s"r0 AS (SELECT id, $S // n AS r FROM nodes CROSS JOIN nn), " +
      iter("r0", "r1") + ", " + iter("r1", "r2") + ", " + iter("r2", "r3") +
      " SELECT id AS vec_id, r AS pr FROM r3 ORDER BY vec_id"
  }

  /** Triangle replay over the KNN edges: canonical pairs, degree-
    * ordered orientation, wedge join + canonical-pair closure —
    * op-for-op with [[graft.operators.Similarity.simTriangles]].
    */
  private def simTrianglesSql: String =
    s"WITH $knnCtes, " +
      "edges AS (SELECT id_a, id_b FROM knnr WHERE rn <= 3), " +
      "und AS (SELECT DISTINCT LEAST(id_a, id_b) AS u, " +
      "GREATEST(id_a, id_b) AS v FROM edges), " +
      "deg AS (SELECT id, COUNT(*) AS d FROM (SELECT u AS id FROM und " +
      "UNION ALL SELECT v FROM und) GROUP BY id), " +
      "orient AS (SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) " +
      "THEN u ELSE v END AS s, CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) " +
      "THEN v ELSE u END AS t FROM und " +
      "JOIN deg du ON du.id = u JOIN deg dv ON dv.id = v), " +
      "wedges AS (SELECT a.s AS s, a.t AS y1, b.t AS y2 FROM orient a " +
      "JOIN orient b ON a.s = b.s AND a.t < b.t), " +
      "tri AS (SELECT s AS x, y1, y2 FROM wedges JOIN und " +
      "ON und.u = LEAST(y1, y2) AND und.v = GREATEST(y1, y2)) " +
      "SELECT id AS vec_id, COUNT(*) AS n_tri FROM " +
      "(SELECT x AS id FROM tri UNION ALL SELECT y1 FROM tri " +
      "UNION ALL SELECT y2 FROM tri) GROUP BY id " +
      "ORDER BY n_tri DESC, vec_id LIMIT 20"

  /** k-core replay over the KNN edges: three unrolled peel rounds
    * (degree on the canonical pair set → keep ≥ 3 → re-filter edges),
    * round-for-round with [[graft.operators.Similarity.simKcore]].
    */
  private def simKcoreSql: String = {
    // every und CTE is referenced several times by the next round —
    // MATERIALIZED stops DuckDB's default inlining from expanding the
    // whole upstream chain 4^rounds times
    def round(prev: String, i: Int): String =
      s"deg$i AS MATERIALIZED (SELECT id, COUNT(*) AS d FROM " +
        s"(SELECT u AS id FROM $prev " +
        s"UNION ALL SELECT v FROM $prev) GROUP BY id), " +
        s"keep$i AS MATERIALIZED (SELECT id FROM deg$i WHERE d >= 3), " +
        s"und$i AS MATERIALIZED (SELECT u, v FROM $prev " +
        s"JOIN keep$i ku ON ku.id = u JOIN keep$i kv ON kv.id = v)"
    s"WITH $knnCtes, " +
      "edges AS (SELECT id_a, id_b FROM knnr WHERE rn <= 3), " +
      "und0 AS MATERIALIZED (SELECT DISTINCT LEAST(id_a, id_b) AS u, " +
      "GREATEST(id_a, id_b) AS v FROM edges), " +
      round("und0", 1) + ", " + round("und1", 2) + ", " + round("und2", 3) +
      " SELECT id AS vec_id, CAST(COUNT(*) AS BIGINT) AS deg FROM " +
      "(SELECT u AS id FROM und3 UNION ALL SELECT v FROM und3) " +
      "GROUP BY id ORDER BY vec_id"
  }

  /** Unrolled greedy-MMR replay: the pool is the proven
    * sim_bruteforce_topk chain (top-[[Similarity.MmrPool]] with raw
    * cosine), pairwise candidate similarities via
    * `list_cosine_similarity`, then one CTE block per selection step —
    * each picks argmax of 0.5·cos − 0.5·max-sim-to-selected (λ = 0.5:
    * power-of-two scales, exact in IEEE double) with the (score desc,
    * cid) tiebreak. Step count and pool size come from the SAME Scala
    * constants as [[graft.operators.Similarity.simMmr]].
    */
  private def simMmrSql: String = {
    val pool = Similarity.MmrPool
    val k = Similarity.MmrK
    val steps = (2 to k).map { s =>
      val prev = s"prev$s"
      val prevDef =
        if (s == 2) s"$prev AS (SELECT qid, cid FROM sel1)"
        else s"$prev AS (SELECT qid, cid FROM prev${s - 1} " +
          s"UNION ALL SELECT qid, cid FROM sel${s - 1})"
      prevDef + ", " +
        s"sel$s AS (SELECT qid, cid, mmr, CAST($s AS BIGINT) AS rn FROM (" +
        "SELECT cv.qid, cv.cid, CAST(0.5 AS DOUBLE)*cv.cos_raw - " +
        "CAST(0.5 AS DOUBLE)*p.ms AS mmr, " +
        "ROW_NUMBER() OVER (PARTITION BY cv.qid ORDER BY " +
        "CAST(0.5 AS DOUBLE)*cv.cos_raw - CAST(0.5 AS DOUBLE)*p.ms DESC, " +
        "cv.cid) AS r " +
        "FROM cv JOIN (SELECT pw.qid, pw.i AS cid, MAX(pw.s) AS ms FROM pw " +
        s"JOIN $prev pv ON pw.qid = pv.qid AND pw.j = pv.cid " +
        "GROUP BY pw.qid, pw.i) p " +
        "ON cv.qid = p.qid AND cv.cid = p.cid " +
        s"WHERE NOT EXISTS (SELECT 1 FROM $prev pv2 " +
        "WHERE pv2.qid = cv.qid AND pv2.cid = cv.cid)) WHERE r = 1)"
    }.mkString(", ")
    "WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe " +
      "FROM embeddings WHERE vec_id < 10), " +
      "c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce " +
      "FROM embeddings WHERE vec_id >= 10), " +
      "s AS (SELECT qid, cid, list_cosine_similarity(qe, ce) AS cos_raw " +
      "FROM q CROSS JOIN c), " +
      "vk AS (SELECT qid, cid, cos_raw FROM (SELECT qid, cid, cos_raw, " +
      "ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_raw DESC, cid) AS rn " +
      s"FROM s) WHERE rn <= $pool), " +
      "cv AS (SELECT qid, vk.cid AS cid, cos_raw, ce FROM vk " +
      "JOIN c ON vk.cid = c.cid), " +
      "pw AS (SELECT a.qid, a.cid AS i, b.cid AS j, " +
      "list_cosine_similarity(a.ce, b.ce) AS s FROM cv a " +
      "JOIN cv b ON a.qid = b.qid AND a.cid <> b.cid), " +
      "sel1 AS (SELECT qid, cid, CAST(0.5 AS DOUBLE)*cos_raw AS mmr, " +
      "CAST(1 AS BIGINT) AS rn FROM (SELECT qid, cid, cos_raw, " +
      "ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_raw DESC, cid) AS r " +
      "FROM cv) WHERE r = 1), " + steps +
      " SELECT qid, cid, ROUND(mmr, 6) AS mmr, rn FROM (" +
      (1 to k).map(i => s"SELECT * FROM sel$i").mkString(" UNION ALL ") +
      ") ORDER BY qid, rn"
  }

  /** [[simIvfSql]] with a corpus-side label pre-filter on the
    * candidate rows — the index-backed "vector search with a WHERE
    * clause" replay.
    */
  private def simFilteredIvfSql: String =
    s"WITH $embCte, $ivfCandCtes, " +
      "candf AS (SELECT qid, cid FROM cand JOIN embeddings x ON x.vec_id = cid " +
      "WHERE x.label IN (2, 5, 7)), " +
      "sc AS (SELECT qid, cid, list_cosine_similarity(a.e, b.e) AS cos_raw " +
      "FROM candf JOIN emb a ON a.vec_id = qid JOIN emb b ON b.vec_id = cid), " +
      "r AS (SELECT qid, cid, cos_raw, ROW_NUMBER() OVER " +
      "(PARTITION BY qid ORDER BY cos_raw DESC, cid) AS rn FROM sc) " +
      "SELECT qid, cid, ROUND(cos_raw, 4) AS cos, CAST(rn AS BIGINT) AS rn " +
      "FROM r WHERE rn <= 5 ORDER BY qid, rn"

  private def simIvfSql: String =
    s"WITH $embCte, $ivfCandCtes, " +
      "sc AS (SELECT qid, cid, list_cosine_similarity(a.e, b.e) AS cos_raw " +
      "FROM cand JOIN emb a ON a.vec_id = qid JOIN emb b ON b.vec_id = cid), " +
      "r AS (SELECT qid, cid, cos_raw, ROW_NUMBER() OVER " +
      "(PARTITION BY qid ORDER BY cos_raw DESC, cid) AS rn FROM sc) " +
      "SELECT qid, cid, ROUND(cos_raw, 4) AS cos, CAST(rn AS BIGINT) AS rn " +
      "FROM r WHERE rn <= 5 ORDER BY qid, rn"

  private def simBruteforceSql: String =
    "WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings " +
      "WHERE vec_id < 10), c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce " +
      "FROM embeddings WHERE vec_id >= 10), s AS (SELECT qid, cid, " +
      "list_cosine_similarity(qe, ce) AS cos_raw FROM q CROSS JOIN c), r AS (" +
      "SELECT qid, cid, cos_raw, ROW_NUMBER() OVER (PARTITION BY qid " +
      "ORDER BY cos_raw DESC, cid) AS rn FROM s) SELECT qid, cid, " +
      "ROUND(cos_raw, 4) AS cos, CAST(rn AS BIGINT) AS rn FROM r WHERE rn <= 5 " +
      "ORDER BY qid, rn"

  /** ANN self-evaluation: both legs are the PROVEN oracle replicas of
    * sim_bruteforce_topk (ground truth) and sim_ivf (probe path),
    * composed into a per-query recall@5 — a nested WITH per leg.
    */
  private def simRecallSql: String =
    s"WITH bf AS ($simBruteforceSql), iv AS ($simIvfSql), " +
      "hits AS (SELECT bf.qid, COUNT(*) AS n_hits FROM bf " +
      "JOIN iv ON bf.qid = iv.qid AND bf.cid = iv.cid GROUP BY bf.qid) " +
      "SELECT q.qid, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits, " +
      "ROUND(COALESCE(h.n_hits, 0)/5.0, 4) AS recall " +
      "FROM (SELECT DISTINCT qid FROM bf) q LEFT JOIN hits h ON q.qid = h.qid " +
      "ORDER BY q.qid"

  /** S22: primary (rr=1) corpus assignments under the shared IVF
    * quantizer replica, aggregated to per-cluster populations; the
    * ppm share is INTEGER arithmetic so no float accumulation exists.
    */
  private def simClusterBalanceSql: String =
    s"WITH $embCte, $ivfCandCtes, " +
      "pa AS (SELECT vec_id, cid_c FROM ranked WHERE vec_id >= 10 AND rr = 1), " +
      "t AS (SELECT COUNT(*) AS tot FROM pa) " +
      "SELECT CAST(cid_c AS BIGINT) AS cluster, COUNT(*) AS n_vectors, " +
      "(COUNT(*) * 1000000) // (SELECT tot FROM t) AS share_ppm " +
      "FROM pa GROUP BY 1 ORDER BY 1"

  /** IVF candidates scored by PQ-ADC — the [[simIvfSql]] chain joined
    * against the [[simPqSql]] chain's `adc` table, ranked ascending.
    */
  private def simIvfPqSql: String =
    s"WITH $embCte, $ivfCandCtes, $pqAdcCtes, " +
      "r AS (SELECT qid, cid, adc, ROW_NUMBER() OVER " +
      "(PARTITION BY qid ORDER BY adc, cid) AS rn " +
      "FROM adc JOIN cand USING (qid, cid)) " +
      "SELECT qid, cid, adc, CAST(rn AS BIGINT) AS rn " +
      "FROM r WHERE rn <= 5 ORDER BY qid, rn"

  /** Full replay of the PQ operator: strided-medoid codebook seeds,
    * int64 quantization (FLOOR(x·10⁴+0.5) — the same IEEE op chain as
    * Math.round), [[graft.operators.PqCodebook.Iters]] unrolled Lloyd
    * refinement rounds (truncating integer-division centroids — DuckDB
    * `//` and Scala `Long./` agree), per-subspace L2² tables, encode
    * argmin with the lowest-codeword tiebreak, ADC sums. Every value
    * is exact integer arithmetic, so the comparison is bit-for-bit,
    * not tolerance-based.
    */
  /** PQ codebook-train + encode + ADC CTE chain (ends in
    * `adc(qid, cid, adc)` over ALL query×corpus pairs) — shared by
    * [[simPqSql]] and [[simIvfPqSql]]. Expects `emb` in scope.
    */
  private def pqAdcCtes: String = {
    val ks = graft.operators.PqCodebook.Ks
    val m = graft.operators.PqCodebook.M
    val tn = graft.operators.PqCodebook.TrainN
    val iters = graft.operators.PqCodebook.Iters
    val head =
      s"prm AS (SELECT GREATEST(1, (COUNT(*) FILTER (WHERE vec_id >= 10)) // $ks) AS stride, " +
        s"GREATEST(1, (COUNT(*) FILTER (WHERE vec_id >= 10)) // $tn) AS tstride, " +
        s"MAX(len(e)) // $m AS sub FROM emb), " +
        "cw AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c, vec_id " +
        "FROM emb, prm WHERE vec_id >= 10 AND (vec_id - 10) % stride = 0 " +
        s"QUALIFY c < $ks), " +
        "qc AS (SELECT vec_id, UNNEST(generate_series(1, len(e))) AS i, UNNEST(e) AS x FROM emb), " +
        "vq AS (SELECT vec_id, (i - 1) // sub AS j, (i - 1) % sub AS si, " +
        "CAST(FLOOR(x * 10000 + 0.5) AS BIGINT) AS q FROM qc, prm), " +
        "ts AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS t, vec_id " +
        "FROM emb, prm WHERE vec_id >= 10 AND (vec_id - 10) % tstride = 0 " +
        s"QUALIFY t < $tn), " +
        "tq AS (SELECT vq.vec_id, j, si, q FROM vq JOIN ts ON vq.vec_id = ts.vec_id), " +
        "b0 AS (SELECT c, j, si, q FROM cw JOIN vq ON cw.vec_id = vq.vec_id), "
    val lloyd = (1 to iters).map { t =>
      val p = s"b${t - 1}"
      s"a$t AS (SELECT vec_id, j, c FROM (" +
        "SELECT tq.vec_id, tq.j, b.c, ROW_NUMBER() OVER (PARTITION BY tq.vec_id, tq.j " +
        "ORDER BY SUM((tq.q - b.q) * (tq.q - b.q)), b.c) AS r " +
        s"FROM tq, $p b WHERE tq.j = b.j AND tq.si = b.si " +
        "GROUP BY tq.vec_id, tq.j, b.c) WHERE r = 1), " +
        s"n$t AS (SELECT a.j, a.c, t.si, SUM(t.q) // COUNT(*) AS q " +
        s"FROM a$t a JOIN tq t ON a.vec_id = t.vec_id AND a.j = t.j " +
        "GROUP BY a.j, a.c, t.si), " +
        s"b$t AS (SELECT b.j, b.c, b.si, COALESCE(n.q, b.q) AS q " +
        s"FROM $p b LEFT JOIN n$t n ON b.j = n.j AND b.c = n.c AND b.si = n.si), "
    }.mkString
    val tail =
      "d AS (SELECT v.vec_id, w.c, v.j, SUM((v.q - w.q) * (v.q - w.q)) AS d " +
        s"FROM vq v, b$iters w WHERE v.j = w.j AND v.si = w.si GROUP BY 1, 2, 3), " +
        "code AS (SELECT vec_id AS cid, j, c FROM (" +
        "SELECT vec_id, j, c, ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS r " +
        "FROM d WHERE vec_id >= 10) WHERE r = 1), " +
        "qt AS (SELECT vec_id AS qid, j, c, d FROM d WHERE vec_id < 10), " +
        "adc AS (SELECT qid, cid, CAST(SUM(qt.d) AS BIGINT) AS adc " +
        "FROM code JOIN qt USING (j, c) GROUP BY 1, 2)"
    head + lloyd + tail
  }

  private def simPqSql: String =
    s"WITH $embCte, $pqAdcCtes, " +
      "r AS (SELECT qid, cid, adc, ROW_NUMBER() OVER " +
      "(PARTITION BY qid ORDER BY adc, cid) AS rn FROM adc) " +
      "SELECT qid, cid, adc, CAST(rn AS BIGINT) AS rn " +
      "FROM r WHERE rn <= 5 ORDER BY qid, rn"

  /** ADC top-20 shortlist re-ranked by exact cosine — the
    * [[pqAdcCtes]] chain composed with the exact re-rank used by the
    * IVF/LSH oracles, replaying `Similarity.simPqRerank` end-to-end.
    */
  private def simPqRerankSql: String =
    s"WITH $embCte, $pqAdcCtes, " +
      "cand AS (SELECT qid, cid FROM (SELECT qid, cid, ROW_NUMBER() OVER " +
      "(PARTITION BY qid ORDER BY adc, cid) AS rc FROM adc) WHERE rc <= 20), " +
      "sc AS (SELECT qid, cid, list_cosine_similarity(a.e, b.e) AS cos_raw " +
      "FROM cand JOIN emb a ON a.vec_id = qid JOIN emb b ON b.vec_id = cid), " +
      "r AS (SELECT qid, cid, cos_raw, ROW_NUMBER() OVER " +
      "(PARTITION BY qid ORDER BY cos_raw DESC, cid) AS rn FROM sc) " +
      "SELECT qid, cid, ROUND(cos_raw, 4) AS cos, CAST(rn AS BIGINT) AS rn " +
      "FROM r WHERE rn <= 5 ORDER BY qid, rn"

  /** Shared langid prediction chain (doc_id, lang, lang_pred) — the
    * per-doc oracle orders it; the eval oracle aggregates it.
    */
  private val langidCoreSql: String =
    "SELECT doc_id, lang, CASE " +
      "WHEN s_zh > 0 AND s_zh >= s_en AND s_zh >= s_de AND s_zh >= s_es AND s_zh >= s_fr THEN 'zh' " +
      "WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en' " +
      "WHEN s_de >= s_es AND s_de >= s_fr THEN 'de' " +
      "WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS lang_pred FROM (" +
      "SELECT doc_id, lang, " +
      "len(regexp_extract_all(lower(text),'\\b(the|and|of|is|to)\\b')) AS s_en, " +
      "len(regexp_extract_all(lower(text),'\\b(der|die|das|und|ist)\\b')) AS s_de, " +
      "len(regexp_extract_all(lower(text),'\\b(el|los|las|es|y)\\b')) AS s_es, " +
      "len(regexp_extract_all(lower(text),'\\b(le|les|et|est|une)\\b')) AS s_fr, " +
      "len(regexp_extract_all(text,'[\\x{4e00}-\\x{9fff}]')) AS s_zh " +
      "FROM documents) t"

  private val wsTok = "CASE WHEN length(trim(text))=0 THEN 0 ELSE CAST(len(regexp_split_to_array(trim(text),'\\s+')) AS BIGINT) END"

  private val gopherFilterSql: String =
    ("WITH t AS (SELECT doc_id, text, CASE WHEN length(trim(text)) = 0 " +
        "THEN []::VARCHAR[] ELSE regexp_split_to_array(trim(text), '\\s+') END AS w " +
        "FROM documents), " +
        "f AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words, " +
        "CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS BIGINT) AS n_word_chars, " +
        "CAST((length(text) - length(replace(text, '#', ''))) + " +
        "(length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_symbols, " +
        "CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words, " +
        "CAST(len(list_filter(w, x -> list_contains(['the','be','to','of','and','that','have','with'], lower(x)))) AS BIGINT) AS n_stopwords " +
        "FROM t), " +
        "g AS (SELECT *, CASE WHEN n_words = 0 THEN 0.0 ELSE " +
        "ROUND(CAST(n_word_chars AS DOUBLE) / CAST(n_words AS DOUBLE), 4) END AS mean_word_len " +
        "FROM f) " +
        "SELECT doc_id, n_words, mean_word_len, n_symbols, n_alpha_words, n_stopwords, " +
        "(n_words >= 50 AND n_words <= 100000 AND mean_word_len >= 3.0 AND mean_word_len <= 10.0 " +
        "AND n_symbols * 10 < n_words AND n_alpha_words * 10 > n_words * 8 " +
        "AND n_stopwords >= 2) AS keep " +
        "FROM g ORDER BY doc_id")

  private val decontaminateSql: String =
    ("WITH t AS (SELECT doc_id, regexp_split_to_array(regexp_replace(lower(trim(text)), " +
        "'\\s+', ' ', 'g'), ' ') AS toks FROM documents), " +
        "g AS (SELECT doc_id, UNNEST(CASE WHEN len(toks) >= 5 THEN " +
        "list_transform(generate_series(1, len(toks)-4), " +
        "i -> array_to_string(toks[i:i+4], ' ')) ELSE []::VARCHAR[] END) AS gram FROM t) " +
        "SELECT DISTINCT c.doc_id, TRUE AS contaminated FROM g c " +
        "JOIN (SELECT DISTINCT gram FROM g WHERE doc_id < 20) b ON c.gram = b.gram " +
        "WHERE c.doc_id >= 20 ORDER BY c.doc_id")

  /** The whole corpus-assembly pipeline under ONE oracle: Gopher
    * quality gate → exact dedup (keep lowest id per content hash) →
    * eval-set decontamination → stratified sample. Composed from the
    * per-stage oracle fragments, so a green row certifies the stage
    * COMPOSITION cross-engine, not just each stage alone.
    */
  private val pipeE2eSql: String =
    s"WITH kept AS (SELECT doc_id FROM ($gopherFilterSql) gf WHERE keep), " +
      "d AS (SELECT MIN(doc_id) AS doc_id FROM documents JOIN kept USING (doc_id) " +
      "GROUP BY md5(text)), " +
      s"cont AS (SELECT doc_id FROM ($decontaminateSql) ct), " +
      "clean AS (SELECT doc_id FROM d WHERE doc_id >= 20 " +
      "AND doc_id NOT IN (SELECT doc_id FROM cont)), " +
      "smp AS (SELECT doc_id, lang, ROW_NUMBER() OVER " +
      "(PARTITION BY lang ORDER BY doc_id) AS rn " +
      "FROM clean JOIN documents USING (doc_id)) " +
      "SELECT doc_id, lang, CAST(rn AS BIGINT) AS rn FROM smp " +
      "WHERE rn <= 30 ORDER BY doc_id"

  /** DuckDB oracle SQL, driver-run on the same parquet tables. */
  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      ("SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity),2) AS sum_qty, " +
        "ROUND(SUM(l_extendedprice),2) AS sum_base_price, " +
        s"$rev AS sum_disc_price, ROUND(AVG(l_quantity),4) AS avg_qty, " +
        "COUNT(*) AS count_order FROM lineitem GROUP BY l_returnflag, l_linestatus " +
        "ORDER BY l_returnflag, l_linestatus"),
    "q2_selective_filter" ->
      ("SELECT COUNT(*) AS cnt FROM lineitem WHERE l_returnflag='R' " +
        "AND l_shipdate >= TIMESTAMP '1997-01-01'"),
    "q3_join_revenue" ->
      (s"SELECT o_orderpriority, $rev AS revenue, COUNT(*) AS n_items " +
        "FROM orders JOIN lineitem ON o_orderkey=l_orderkey " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "q4_top_customers" ->
      (s"SELECT c_custkey, c_name, $rev AS revenue FROM lineitem " +
        "JOIN orders ON l_orderkey=o_orderkey JOIN customer ON o_custkey=c_custkey " +
        "GROUP BY c_custkey, c_name ORDER BY revenue DESC, c_custkey LIMIT 10"),
    "q5_region_volume" ->
      (s"SELECT r_name, n_name, $rev AS revenue FROM lineitem " +
        "JOIN orders ON l_orderkey=o_orderkey JOIN customer ON o_custkey=c_custkey " +
        "JOIN nation ON c_nationkey=n_nationkey JOIN region ON n_regionkey=r_regionkey " +
        "GROUP BY r_name, n_name ORDER BY r_name, n_name"),
    "q6_forecast_revenue" ->
      ("SELECT ROUND(SUM(l_extendedprice*l_discount),2) AS revenue FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01' " +
        "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"),
    "q7_topn_per_brand" ->
      ("SELECT p_brand, p_partkey, ROUND(p_retailprice,2) AS p_retailprice, " +
        "CAST(rn AS BIGINT) AS rn FROM (SELECT p_brand, p_partkey, p_retailprice, " +
        "ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn " +
        "FROM part) t WHERE rn <= 3 ORDER BY p_brand, rn"),
    "q8_running_sum" ->
      ("SELECT o_custkey, o_orderkey, ROUND(SUM(o_totalprice) OVER (" +
        "PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running_total " +
        "FROM orders ORDER BY o_custkey, o_orderkey"),
    "q9_anti_join" ->
      ("SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS " +
        "(SELECT 1 FROM orders o WHERE o.o_custkey=c.c_custkey) ORDER BY c_custkey"),
    "q10_conditional_agg" ->
      ("SELECT l_linestatus, ROUND(SUM(CASE WHEN l_returnflag='R' THEN l_extendedprice " +
        "ELSE 0.0 END),2) AS returned_value, COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) " +
        "AS high_disc_items FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus"),
    "q11_distinct_parts" ->
      ("SELECT COUNT(DISTINCT l_partkey) AS n_parts, COUNT(DISTINCT l_suppkey) AS n_supps, " +
        "COUNT(DISTINCT l_orderkey) AS n_orders FROM lineitem"),
    "q12_event_windows" ->
      ("SELECT date_trunc('hour', ts) AS window_start, event_type, COUNT(*) AS n, " +
        "ROUND(SUM(value),2) AS sum_value FROM events " +
        "GROUP BY 1,2 ORDER BY 1,2"),
    // interval sweep: deltas pre-grouped BY INSTANT in both engines,
    // so half-open [s, s+value) semantics and the running max agree
    // exactly; FLOOR == Spark's cast-to-long truncation for the
    // positive durations admitted by the filter
    "q61_concurrency" ->
      ("WITH iv AS (SELECT epoch_us(ts) AS s, epoch_us(ts) + " +
        "CAST(FLOOR(value * 1000000) AS BIGINT) AS e FROM events WHERE value > 0), " +
        "pts AS (SELECT t, CAST(SUM(d) AS BIGINT) AS d FROM " +
        "(SELECT s AS t, 1 AS d FROM iv UNION ALL SELECT e AS t, -1 AS d FROM iv) u " +
        "GROUP BY t), " +
        "run AS (SELECT t, CAST(SUM(d) OVER (ORDER BY t " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS conc FROM pts) " +
        "SELECT (SELECT MAX(conc) FROM run) AS max_concurrent, " +
        "(SELECT t FROM run WHERE conc = (SELECT MAX(conc) FROM run) " +
        "ORDER BY t LIMIT 1) AS at_ts_us"),
    // anomaly sweep: the exact lower-median replica (rank by (n, hour),
    // take (cnt+1)/2 by integer division) — NOT DuckDB's averaging
    // MEDIAN(); flag = count reaches 3x that integer median
    "q63_anomaly" ->
      ("WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour, " +
        "CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1, 2), " +
        "rk AS (SELECT event_type, hour, n, " +
        "ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY n, hour) AS rn, " +
        "COUNT(*) OVER (PARTITION BY event_type) AS cnt FROM h), " +
        "m AS (SELECT event_type, n AS med FROM rk WHERE rn = (cnt + 1) // 2) " +
        "SELECT h.event_type, h.hour, h.n, m.med FROM h JOIN m USING (event_type) " +
        "WHERE h.n >= m.med * 3 ORDER BY event_type, hour"),
    // linear attribution: per-touch share by TRUE integer division
    // (DuckDB // ≡ Spark DIV); no-touch purchases ride the LEFT join
    "q66_attribution" ->
      ("WITH p AS (SELECT event_id AS p_id, user_id, ts AS p_ts, " +
        "CAST(ROUND(value*100) AS BIGINT) AS cents " +
        "FROM events WHERE event_type='purchase'), " +
        "t AS (SELECT event_id AS t_id, user_id AS t_uid, ts AS t_ts, " +
        "event_type AS touch_type FROM events WHERE event_type IN ('click','view')), " +
        "j AS (SELECT p.*, t.t_id, t.touch_type FROM p LEFT JOIN t " +
        "ON p.user_id = t.t_uid AND t.t_ts < p.p_ts " +
        "AND t.t_ts >= p.p_ts - INTERVAL 24 HOURS), " +
        "w AS (SELECT *, COUNT(t_id) OVER (PARTITION BY p_id) AS n_t, " +
        "COALESCE(touch_type, 'direct') AS bucket FROM j) " +
        "SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows, " +
        "CAST(SUM(CASE WHEN n_t = 0 THEN cents ELSE cents // n_t END) AS BIGINT) " +
        "AS attributed_cents FROM w GROUP BY bucket ORDER BY bucket"),
    // cohort LTV: month_k via month-boundary count (both inputs are
    // month-truncated dates, so datediff('month') ≡ months_between);
    // cumulative revenue partitions BY COHORT (calendar-bounded rows)
    "q67_cohort_ltv" ->
      ("WITH o AS (SELECT o_custkey, " +
        "CAST(date_trunc('month', o_orderdate) AS DATE) AS m, " +
        "CAST(ROUND(o_totalprice*100) AS BIGINT) AS cents FROM orders), " +
        "c AS (SELECT *, MIN(m) OVER (PARTITION BY o_custkey) AS cohort FROM o), " +
        "g AS (SELECT cohort, CAST(datediff('month', cohort, m) AS BIGINT) AS month_k, " +
        "CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_active, " +
        "CAST(SUM(cents) AS BIGINT) AS cents_m FROM c GROUP BY 1, 2) " +
        "SELECT cohort AS cohort_month, month_k, n_active, cents_m, " +
        "CAST(SUM(cents_m) OVER (PARTITION BY cohort ORDER BY month_k) AS BIGINT) " +
        "AS cum_cents FROM g ORDER BY cohort_month, month_k"),
    // decile migration: NTILE(10) per era replicated by the two-phase
    // ordinal + ntileBucket arithmetic; only both-era customers rank
    "q68_decile_migration" ->
      ("WITH spend AS (SELECT o_custkey, " +
        "SUM(CASE WHEN o_orderdate < '1998-01-01' THEN CAST(ROUND(o_totalprice*100) AS BIGINT) END) AS c1, " +
        "SUM(CASE WHEN o_orderdate >= '1998-01-01' THEN CAST(ROUND(o_totalprice*100) AS BIGINT) END) AS c2 " +
        "FROM orders GROUP BY o_custkey), " +
        "b AS (SELECT * FROM spend WHERE c1 IS NOT NULL AND c2 IS NOT NULL), " +
        "r AS (SELECT o_custkey, " +
        "CAST(NTILE(10) OVER (ORDER BY c1 DESC, o_custkey) AS BIGINT) AS d1, " +
        "CAST(NTILE(10) OVER (ORDER BY c2 DESC, o_custkey) AS BIGINT) AS d2 FROM b) " +
        "SELECT d1 AS from_decile, d2 AS to_decile, COUNT(*) AS n_customers " +
        "FROM r GROUP BY 1, 2 ORDER BY 1, 2"),
    // YoY growth: lag over the bounded nation×year aggregate; revenue
    // exact 1e-4-dollar integers, one double division at the end
    "q69_yoy_growth" ->
      ("WITH t AS (SELECT n_name AS nation, " +
        "CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year, " +
        "CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * " +
        "(100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS rev " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey GROUP BY 1, 2) " +
        "SELECT nation, o_year, " +
        "ROUND(CAST(rev - prev AS DOUBLE) / CAST(prev AS DOUBLE), 4) AS yoy_growth " +
        "FROM (SELECT nation, o_year, rev, " +
        "LAG(rev) OVER (PARTITION BY nation ORDER BY o_year) AS prev FROM t) " +
        "WHERE prev IS NOT NULL AND prev <> 0 ORDER BY nation, o_year"),
    // HHI: integer ppm shares (floor of an IEEE-identical double
    // revenue-weighted median: weights in exact CENTS, the median is
    // the smallest quantity with 2*cum >= tot — integer compare, no
    // division; the window runs over the (flag, quantity) grain
    // cohort retention: distinct (user, epoch-week) activity grain,
    // cohort = first week, matrix counts are plain COUNTs (one row
    // per user per cell by construction), retention in integer ppm
    "q72_cohort_retention" ->
      ("WITH a AS (SELECT DISTINCT user_id, " +
        "CAST(DATE_DIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS BIGINT) AS week " +
        "FROM events WHERE event_type = 'purchase'), " +
        "c AS (SELECT user_id, MIN(week) AS cohort_week FROM a GROUP BY 1), " +
        "m AS (SELECT c.cohort_week, a.week - c.cohort_week AS week_offset, " +
        "CAST(COUNT(*) AS BIGINT) AS active_users FROM a JOIN c USING (user_id) " +
        "GROUP BY 1, 2), " +
        "s AS (SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size " +
        "FROM c GROUP BY 1) " +
        "SELECT m.cohort_week, m.week_offset, m.active_users, s.cohort_size, " +
        "CAST(m.active_users * 1000000 // s.cohort_size AS BIGINT) AS retention_ppm " +
        "FROM m JOIN s USING (cohort_week) ORDER BY 1, 2"),
    // ordered funnel on first-occurrence timestamps; NULL-stage
    // comparisons are NULL -> counted 0; conversion in integer ppm
    "q73_funnel" ->
      ("WITH u AS (SELECT user_id, " +
        "MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view, " +
        "MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click, " +
        "MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase " +
        "FROM events GROUP BY 1), " +
        "f AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users, " +
        "CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view, " +
        "CAST(SUM(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click, " +
        "CAST(SUM(CASE WHEN t_click > t_view AND t_purchase > t_click THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_funnel FROM u) " +
        "SELECT n_users, n_view, n_view_click, n_funnel, " +
        "CAST(CASE WHEN n_view > 0 THEN n_view_click * 1000000 // n_view ELSE 0 END " +
        "AS BIGINT) AS click_ppm, " +
        "CAST(CASE WHEN n_view_click > 0 THEN n_funnel * 1000000 // n_view_click ELSE 0 END " +
        "AS BIGINT) AS purchase_ppm FROM f"),
    "q71_weighted_median" ->
      ("WITH g AS (SELECT l_returnflag, l_quantity, " +
        "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS w_cents " +
        "FROM lineitem GROUP BY 1, 2), " +
        "c AS (SELECT *, CAST(SUM(w_cents) OVER (PARTITION BY l_returnflag " +
        "ORDER BY l_quantity) AS BIGINT) AS cum, " +
        "CAST(SUM(w_cents) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tot FROM g) " +
        "SELECT l_returnflag, MIN(l_quantity) AS median_qty, " +
        "CAST(MAX(tot) AS BIGINT) AS total_cents FROM c " +
        "WHERE cum * 2 >= tot GROUP BY 1 ORDER BY 1"),
    // division of exact longs), then an INTEGER sum of squares —
    // no float accumulation anywhere, so both engines hash-match
    "q70_supplier_hhi" ->
      ("WITH bs AS (SELECT n_name AS nation, s_suppkey, " +
        "CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * " +
        "(100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS rev " +
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey GROUP BY 1, 2), " +
        "t AS (SELECT nation, CAST(SUM(rev) AS BIGINT) AS tot, " +
        "COUNT(*) AS n_suppliers FROM bs GROUP BY 1), " +
        "p AS (SELECT bs.nation AS nation, " +
        "CAST(FLOOR(CAST(bs.rev AS DOUBLE)/CAST(t.tot AS DOUBLE)*1000000) AS BIGINT) AS ppm, " +
        "t.n_suppliers AS n_suppliers FROM bs JOIN t ON bs.nation = t.nation) " +
        "SELECT nation, CAST(SUM(ppm*ppm) AS BIGINT) AS hhi_ppm2, " +
        "MIN(n_suppliers) AS n_suppliers FROM p GROUP BY 1 ORDER BY 1"),
    // RFM: NTILE(5) replicated by the two-phase ordinal + ntileBucket
    // arithmetic (the q29 parity contract); spend in exact cents
    "q64_rfm" ->
      ("WITH mx AS (SELECT CAST(MAX(o_orderdate) AS DATE) AS maxd FROM orders), " +
        "base AS (SELECT o_custkey, " +
        "date_diff('day', CAST(MAX(o_orderdate) AS DATE), (SELECT maxd FROM mx)) AS rec_days, " +
        "COUNT(*) AS freq, SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS cents " +
        "FROM orders GROUP BY o_custkey), " +
        "s AS (SELECT o_custkey, cents, " +
        "CAST(NTILE(5) OVER (ORDER BY rec_days, o_custkey) AS BIGINT) AS r_score, " +
        "CAST(NTILE(5) OVER (ORDER BY freq DESC, o_custkey) AS BIGINT) AS f_score, " +
        "CAST(NTILE(5) OVER (ORDER BY cents DESC, o_custkey) AS BIGINT) AS m_score " +
        "FROM base) " +
        "SELECT r_score, f_score, m_score, COUNT(*) AS n_customers, " +
        "CAST(SUM(cents) AS BIGINT) AS segment_cents " +
        "FROM s GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"),
    // Gini: Lorenz weighting Σ i·xᵢ in HUGEINT ≡ Spark DECIMAL(38,0);
    // doubles only at the two final divisions, n//10 ≡ Scala n/10
    "q65_gini" ->
      ("WITH rev AS (SELECT o_custkey, " +
        "SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS cents FROM orders " +
        "GROUP BY o_custkey), " +
        "nn AS (SELECT COUNT(*) AS n FROM rev), " +
        "rk AS (SELECT o_custkey, cents, " +
        "ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i FROM rev), " +
        "a AS (SELECT SUM(cents) AS tot, SUM(CAST(i AS HUGEINT)*cents) AS s, " +
        "SUM(CASE WHEN i > (SELECT n - n//10 FROM nn) THEN cents ELSE 0 END) AS topc " +
        "FROM rk) " +
        "SELECT (SELECT CAST(n AS BIGINT) FROM nn) AS n_customers, " +
        "CAST(tot AS BIGINT) AS total_cents, " +
        "ROUND(CAST(2*s AS DOUBLE)/(CAST((SELECT n FROM nn) AS DOUBLE)*CAST(tot AS DOUBLE)) - " +
        "CAST((SELECT n+1 FROM nn) AS DOUBLE)/CAST((SELECT n FROM nn) AS DOUBLE), 6) AS gini, " +
        "ROUND(CAST(topc AS DOUBLE)/CAST(tot AS DOUBLE), 6) AS top10_share FROM a"),
    // transition matrix: LEAD under the deterministic (ts, event_id)
    // order; SUM(BIGINT) re-cast from DuckDB's HUGEINT; probability
    // in exact DOUBLE division
    "q62_transitions" ->
      ("WITH p AS (SELECT user_id, event_type AS from_type, " +
        "LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type " +
        "FROM events), " +
        "c AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n FROM p " +
        "WHERE to_type IS NOT NULL GROUP BY from_type, to_type), " +
        "t AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from FROM c GROUP BY from_type) " +
        "SELECT c.from_type, c.to_type, c.n, " +
        "ROUND(CAST(c.n AS DOUBLE) / t.n_from, 6) AS p " +
        "FROM c JOIN t USING (from_type) ORDER BY from_type, to_type"),
    // association metrics: integer supports, one rounded lift ratio
    "q60_basket_lift" ->
      ("WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), " +
        "tot AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_total FROM li), " +
        "it AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_item FROM li GROUP BY 1), " +
        "p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, " +
        "CAST(COUNT(*) AS BIGINT) AS n_ab FROM li a JOIN li b " +
        "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
        "GROUP BY 1, 2 HAVING COUNT(*) >= 3) " +
        "SELECT part_a, part_b, n_ab, ia.n_item AS n_a, ib.n_item AS n_b, " +
        "ROUND(CAST(n_ab AS DOUBLE) * n_total / (ia.n_item * ib.n_item), 4) AS lift " +
        "FROM p JOIN it ia ON ia.l_partkey = part_a " +
        "JOIN it ib ON ib.l_partkey = part_b CROSS JOIN tot " +
        "ORDER BY n_ab DESC, part_a, part_b LIMIT 20"),
    // market-basket pairs within orders, total-ordered top-20
    "q59_basket" ->
      ("WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) " +
        "SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, " +
        "CAST(COUNT(*) AS BIGINT) AS n_orders " +
        "FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey " +
        "AND a.l_partkey < b.l_partkey " +
        "GROUP BY 1, 2 ORDER BY n_orders DESC, part_a, part_b LIMIT 20"),
    // exact mode, explicit (count desc, value) tie-break both sides
    "q58_mode" ->
      ("WITH c AS (SELECT l_returnflag, CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) AS qty_c, " +
        "CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem GROUP BY 1, 2), " +
        "r AS (SELECT l_returnflag, qty_c, cnt, ROW_NUMBER() OVER " +
        "(PARTITION BY l_returnflag ORDER BY cnt DESC, qty_c) AS rn FROM c) " +
        "SELECT l_returnflag, qty_c AS mode_qty_c, cnt FROM r WHERE rn = 1 " +
        "ORDER BY l_returnflag"),
    // algebraic one-pass correlation/regression per group
    "q57_regression" ->
      ("SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n, " +
        "ROUND(corr(l_quantity, l_extendedprice), 4) AS r, " +
        "ROUND(regr_slope(l_extendedprice, l_quantity), 2) AS slope, " +
        "ROUND(regr_intercept(l_extendedprice, l_quantity), 2) AS intercept " +
        "FROM lineitem GROUP BY 1 ORDER BY l_returnflag"),
    // integer-cents equi-width histogram, identical div arithmetic
    "q56_histogram" ->
      ("WITH o AS (SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders), " +
        "span AS (SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM o) " +
        "SELECT LEAST(((cents - lo) * 20) // (hi - lo + 1), 19) AS bucket, " +
        "CAST(COUNT(*) AS BIGINT) AS n, MIN(cents) AS lo_cents, MAX(cents) AS hi_cents " +
        "FROM o CROSS JOIN span GROUP BY 1 ORDER BY bucket"),
    // dense (type x hour) grid, zero-filled: generate_series is
    // inclusive on both ends, matching Spark's sequence()
    "q55_gap_fill" ->
      ("WITH span AS (SELECT date_trunc('hour', MIN(ts)) AS lo, " +
        "date_trunc('hour', MAX(ts)) AS hi FROM events), " +
        "grid AS (SELECT t.event_type, g.hour_ts FROM " +
        "(SELECT DISTINCT event_type FROM events) t CROSS JOIN " +
        "(SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_ts FROM span) g), " +
        "c AS (SELECT event_type, date_trunc('hour', ts) AS hour_ts, " +
        "CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2) " +
        "SELECT grid.event_type, grid.hour_ts, COALESCE(c.cnt, 0) AS n " +
        "FROM grid LEFT JOIN c USING (event_type, hour_ts) " +
        "ORDER BY event_type, hour_ts"),
    "q14_asof_join" ->
      ("SELECT p.event_id, MAX(epoch_us(c.ts)) AS last_click_us FROM events p " +
        "JOIN events c ON p.user_id=c.user_id AND c.event_type='click' AND c.ts<=p.ts " +
        "WHERE p.event_type='purchase' GROUP BY p.event_id ORDER BY p.event_id"),
    "q15_skew_salted" ->
      ("SELECT user_id, COUNT(*) AS n, ROUND(SUM(value),2) AS sum_value " +
        "FROM events GROUP BY user_id ORDER BY user_id"),
    "q16_rollup" ->
      ("SELECT l_returnflag, l_linestatus, COUNT(*) AS n, ROUND(SUM(l_quantity),2) " +
        "AS sum_qty FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus) " +
        "ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"),
    // sketch values are engine-specific; the contract is exact-side
    // equality plus in-bound flags the Spark side computed against
    // exact quantiles (see Analytics.q13Approx)
    "q13_approx" ->
      ("SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts, " +
        "TRUE AS parts_within_bound, TRUE AS p50_within_bound, " +
        "TRUE AS p95_within_bound FROM lineitem"),
    // Misra-Gries contract: exact heavy hitters recomputed exactly;
    // the sketch's recall and n/k error bound asserted as TRUE
    "q54_heavy_hitters" ->
      ("WITH w AS (SELECT substr(unnest(regexp_split_to_array(trim(text), '\\s+')), 1, 1) AS item " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "e AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM w GROUP BY 1), " +
        "n AS (SELECT COUNT(*) AS n_total FROM w) " +
        "SELECT item, exact_cnt, TRUE AS in_sketch, TRUE AS est_err_ok " +
        "FROM e, n WHERE exact_cnt * 24 > n_total ORDER BY item"),
    "q17_exact_percentile" ->
      ("SELECT ROUND(quantile_cont(l_extendedprice, 0.25),2) AS p25, " +
        "ROUND(quantile_cont(l_extendedprice, 0.5),2) AS p50, " +
        "ROUND(quantile_cont(l_extendedprice, 0.75),2) AS p75, " +
        "ROUND(quantile_cont(l_extendedprice, 0.95),2) AS p95 FROM lineitem"),
    "q18_order_gaps" ->
      ("SELECT o_custkey, o_orderkey, gap_days FROM (SELECT o_custkey, o_orderkey, " +
        "date_diff('day', CAST(LAG(o_orderdate) OVER (PARTITION BY o_custkey " +
        "ORDER BY o_orderdate, o_orderkey) AS DATE), CAST(o_orderdate AS DATE)) " +
        "AS gap_days FROM orders) t WHERE gap_days IS NOT NULL " +
        "ORDER BY o_custkey, o_orderkey"),
    "q19_levenshtein" ->
      ("SELECT n_name, r_name, CAST(levenshtein(n_name, r_name) AS BIGINT) AS dist " +
        "FROM nation CROSS JOIN region ORDER BY n_name, r_name"),
    "q20_cube" ->
      ("SELECT l_returnflag, l_linestatus, COUNT(*) AS n, " +
        "ROUND(SUM(l_extendedprice),2) AS sum_price FROM lineitem " +
        "GROUP BY CUBE (l_returnflag, l_linestatus) " +
        "ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"),
    "q21_correlated" ->
      ("SELECT o_orderkey, o_custkey, ROUND(o_totalprice,2) AS o_totalprice " +
        "FROM orders o WHERE o_totalprice > (SELECT 1.5*AVG(o2.o_totalprice) " +
        "FROM orders o2 WHERE o2.o_custkey=o.o_custkey) ORDER BY o_orderkey"),
    "q22_set_ops" ->
      ("WITH y96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=1996), " +
        "y97 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=1997) " +
        "SELECT o_custkey, 'both' AS tag FROM (SELECT * FROM y96 INTERSECT SELECT * FROM y97) " +
        "UNION ALL SELECT o_custkey, 'only_1996' AS tag FROM " +
        "(SELECT * FROM y96 EXCEPT SELECT * FROM y97) ORDER BY tag, o_custkey"),
    "q23_pivot" ->
      ("SELECT l_linestatus, " +
        "ROUND(SUM(CASE WHEN l_returnflag='A' THEN l_quantity END),2) AS \"A\", " +
        "ROUND(SUM(CASE WHEN l_returnflag='N' THEN l_quantity END),2) AS \"N\", " +
        "ROUND(SUM(CASE WHEN l_returnflag='R' THEN l_quantity END),2) AS \"R\" " +
        "FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus"),
    "q24_json_extract" ->
      ("SELECT event_type, COUNT(*) AS n, ROUND(AVG(k),4) AS avg_k, MAX(k) AS max_k " +
        "FROM (SELECT event_type, CAST(props->>'$.k' AS BIGINT) AS k FROM events) t " +
        "GROUP BY event_type ORDER BY event_type"),
    "q25_sessionize" ->
      ("WITH t AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events), " +
        "g AS (SELECT user_id, event_id, ts_us, CASE WHEN LAG(ts_us) OVER w IS NULL " +
        "OR ts_us - LAG(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess " +
        "FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)), " +
        "s AS (SELECT user_id, ts_us, SUM(new_sess) OVER (PARTITION BY user_id " +
        "ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS session_seq FROM g) SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, " +
        "COUNT(*) AS n_events, MIN(ts_us) AS session_start_us FROM s " +
        "GROUP BY user_id, session_seq ORDER BY user_id, session_seq"),
    "q26_skew_join" ->
      ("SELECT event_type, COUNT(*) AS n, " +
        "ROUND(SUM(value / n_user_events), 2) AS weighted_value " +
        "FROM events e JOIN (SELECT user_id, COUNT(*) AS n_user_events " +
        "FROM events GROUP BY user_id) u ON e.user_id = u.user_id " +
        "GROUP BY event_type ORDER BY event_type"),
    "text_bigrams" ->
      ("WITH t AS (SELECT regexp_split_to_array(regexp_replace(lower(trim(text)), " +
        "'\\s+', ' ', 'g'), ' ') AS toks FROM documents), " +
        "b AS (SELECT UNNEST(list_transform(generate_series(1, len(toks)-1), " +
        "i -> toks[i] || ' ' || toks[i+1])) AS bigram FROM t) " +
        "SELECT bigram, COUNT(*) AS n FROM b GROUP BY bigram " +
        "ORDER BY n DESC, bigram LIMIT 20"),
    "text_token_count" ->
      (s"SELECT doc_id, $wsTok AS n_ws_tokens, " +
        "CAST(len(regexp_extract_all(text,'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) " +
        "AS n_bpe_tokens FROM documents ORDER BY doc_id"),
    "text_quality" ->
      ("SELECT doc_id, n_chars, n_words, n_punct, ROUND(LEAST(n_words/100.0,1.0)*0.5 + " +
        "(1.0 - n_punct/GREATEST(n_chars,1.0))*0.5, 4) AS quality FROM (" +
        s"SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, $wsTok AS n_words, " +
        "CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS BIGINT) " +
        "AS n_punct FROM documents) t ORDER BY doc_id"),
    "text_langid" -> (langidCoreSql + " ORDER BY doc_id"),
    // confusion matrix over the same prediction chain: per (labelled,
    // predicted) pair counts — the eval loop a langid gate needs
    "text_langid_eval" ->
      (s"WITH pred AS ($langidCoreSql) " +
        "SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n " +
        "FROM pred GROUP BY lang, lang_pred ORDER BY lang, lang_pred"),
    "text_fingerprint" ->
      ("SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) " +
        "AS fingerprint FROM documents ORDER BY doc_id"),
    "q27_range_frame" ->
      ("SELECT o_custkey, o_orderkey, order_day, " +
        "CAST(ROUND(CAST(SUM(cents) OVER w AS DOUBLE) / COUNT(*) OVER w) AS BIGINT) " +
        "AS avg_90d_cents FROM (" +
        "SELECT o_custkey, o_orderkey, " +
        "CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents, " +
        "date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS order_day " +
        "FROM orders) t WINDOW w AS (PARTITION BY o_custkey ORDER BY order_day " +
        "RANGE BETWEEN 90 PRECEDING AND CURRENT ROW) ORDER BY o_custkey, o_orderkey"),
    "q28_range_join" ->
      ("SELECT p.event_id, COUNT(*) AS n_clicks FROM events p JOIN events c " +
        "ON p.user_id = c.user_id AND p.event_type = 'purchase' " +
        "AND c.event_type = 'click' " +
        "AND epoch_us(c.ts) > epoch_us(p.ts) - 3600000000 " +
        "AND epoch_us(c.ts) <= epoch_us(p.ts) " +
        "GROUP BY p.event_id ORDER BY p.event_id"),
    "q31_grouping_sets" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid, " +
        "COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS sum_qty FROM lineitem " +
        "GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ()) " +
        "ORDER BY gid, l_returnflag, l_linestatus"),
    "q29_ntile" ->
      ("WITH s AS (SELECT o_custkey, ROUND(SUM(o_totalprice),2) AS spend FROM orders " +
        "GROUP BY o_custkey), d AS (SELECT o_custkey, spend, " +
        "CAST(NTILE(10) OVER (ORDER BY spend DESC, o_custkey) AS BIGINT) AS decile FROM s) " +
        "SELECT decile, COUNT(*) AS n_customers, ROUND(SUM(spend),2) AS decile_spend " +
        "FROM d GROUP BY decile ORDER BY decile"),
    "q30_string_agg" ->
      ("SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations, " +
        "COUNT(*) AS n_nations FROM nation JOIN region ON n_regionkey = r_regionkey " +
        "GROUP BY r_name ORDER BY r_name"),
    "q32_percent_rank" ->
      ("WITH s AS (SELECT o_custkey, ROUND(SUM(o_totalprice),2) AS spend FROM orders " +
        "GROUP BY o_custkey) SELECT o_custkey, spend, " +
        "ROUND(percent_rank() OVER (ORDER BY spend DESC, o_custkey),6) AS pr, " +
        "ROUND(cume_dist() OVER (ORDER BY spend DESC, o_custkey),6) AS cd " +
        "FROM s ORDER BY o_custkey"),
    "q34_min_cost_supplier" ->
      ("WITH ps AS (SELECT l_partkey, l_suppkey, " +
        "ROUND(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / " +
        "(SUM(CAST(l_quantity AS BIGINT)) * 100.0), 2) AS cost FROM lineitem " +
        "GROUP BY l_partkey, l_suppkey), " +
        "minc AS (SELECT l_partkey, MIN(cost) AS min_cost FROM ps GROUP BY l_partkey) " +
        "SELECT ps.l_partkey, s_name, n_name, min_cost FROM ps " +
        "JOIN minc ON ps.l_partkey = minc.l_partkey AND ps.cost = minc.min_cost " +
        "JOIN supplier ON ps.l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "WHERE ps.l_partkey < 200 ORDER BY ps.l_partkey, s_name"),
    "q35_solo_supplier" ->
      ("WITH pairs AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem), " +
        "multi AS (SELECT l_orderkey FROM pairs GROUP BY l_orderkey " +
        "HAVING COUNT(*) > 1) " +
        "SELECT s_suppkey, s_name, n_solo_orders FROM (" +
        "SELECT l_suppkey, COUNT(*) AS n_solo_orders FROM pairs " +
        "WHERE l_orderkey NOT IN (SELECT l_orderkey FROM multi) " +
        "GROUP BY l_suppkey) t JOIN supplier ON l_suppkey = s_suppkey " +
        "ORDER BY n_solo_orders DESC, s_suppkey LIMIT 20"),
    "q39_order_priority" ->
      ("SELECT o_orderpriority, COUNT(*) AS order_count FROM orders o " +
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01' " +
        "AND o_orderdate < TIMESTAMP '1996-04-01' " +
        "AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey " +
        "AND l.l_shipdate > o.o_orderdate) " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "q40_cust_distribution" ->
      ("SELECT c_count, COUNT(*) AS custdist FROM (" +
        "SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count " +
        "FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey " +
        "GROUP BY c.c_custkey) t " +
        "GROUP BY c_count ORDER BY custdist DESC, c_count DESC"),
    "q41_big_orders" ->
      ("WITH big AS (SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) " +
        "AS total_qty " +
        "FROM lineitem GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS BIGINT)) > 300) " +
        "SELECT c_custkey, c_name, o_orderkey, o_totalprice, total_qty " +
        "FROM big JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"),
    "q42_inactive_balance" ->
      ("WITH pos AS (SELECT SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) AS tot, " +
        "COUNT(*) AS n FROM customer WHERE c_acctbal > 0) " +
        "SELECT c_mktsegment, COUNT(*) AS numcust, " +
        "ROUND(SUM(c_acctbal),2) AS totacctbal FROM customer c, pos " +
        "WHERE CAST(ROUND(c_acctbal*100) AS BIGINT) * n > tot " +
        "AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey " +
        "AND o.o_orderdate >= TIMESTAMP '2000-01-01') " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    "q43_nation_trade" ->
      ("SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, " +
        "CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year, " +
        "CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * " +
        "(100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_e4 " +
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation n1 ON s_nationkey = n1.n_nationkey " +
        "JOIN nation n2 ON c_nationkey = n2.n_nationkey " +
        "WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') " +
        "OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1') " +
        "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"),
    "q44_market_share" ->
      ("WITH t AS (SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year, " +
        "CAST(SUM(CASE WHEN n1.n_name = 'NATION_7' THEN " +
        "CAST(ROUND(l_extendedprice*100) AS BIGINT) * " +
        "(100 - CAST(ROUND(l_discount*100) AS BIGINT)) ELSE 0 END) AS BIGINT) AS nat, " +
        "CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * " +
        "(100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS tot " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation n1 ON s_nationkey = n1.n_nationkey " +
        "JOIN nation n2 ON c_nationkey = n2.n_nationkey " +
        "JOIN region ON n2.n_regionkey = r_regionkey " +
        "WHERE p_type = 'PROMO' AND r_name = 'ASIA' GROUP BY 1) " +
        "SELECT o_year, ROUND(CAST(nat AS DOUBLE) / CAST(tot AS DOUBLE), 4) AS mkt_share " +
        "FROM t ORDER BY o_year"),
    "q45_product_profit" ->
      ("SELECT n_name AS nation, CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year, " +
        "CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * " +
        "(100 - CAST(ROUND(l_discount*100) AS BIGINT)) - " +
        "CAST(ROUND(p_retailprice*100) AS BIGINT) * " +
        "CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS profit_e4 " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "WHERE p_type = 'ECONOMY' GROUP BY 1, 2 ORDER BY nation, o_year DESC"),
    "q46_returned_items" ->
      ("SELECT c_custkey, c_name, n_name AS nation, " +
        "CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * " +
        "(100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_e4 " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE l_returnflag = 'R' AND o_orderdate >= TIMESTAMP '1996-01-01' " +
        "AND o_orderdate < TIMESTAMP '1996-04-01' " +
        "GROUP BY 1, 2, 3 ORDER BY revenue_e4 DESC, c_custkey LIMIT 20"),
    "q47_important_parts" ->
      ("WITH pp AS (SELECT l_partkey, " +
        "CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * " +
        "(100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS value_e4 " +
        "FROM lineitem GROUP BY 1), " +
        "t AS (SELECT CAST(SUM(value_e4) AS BIGINT) AS total_e4 FROM pp) " +
        "SELECT l_partkey, value_e4 FROM pp, t WHERE value_e4 * 1000 > total_e4 " +
        "ORDER BY value_e4 DESC, l_partkey"),
    "q48_ship_priority" ->
      ("SELECT l_linestatus, " +
        "COUNT(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 END) AS high_line_count, " +
        "COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 END) AS low_line_count " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE EXTRACT(year FROM l_shipdate) = 1997 " +
        "AND DATE_DIFF('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 60 " +
        "GROUP BY 1 ORDER BY 1"),
    "q49_promo_effect" ->
      ("WITH t AS (SELECT CAST(EXTRACT(month FROM l_shipdate) AS BIGINT) AS o_month, " +
        "CAST(SUM(CASE WHEN p_type = 'PROMO' THEN " +
        "CAST(ROUND(l_extendedprice*100) AS BIGINT) * " +
        "(100 - CAST(ROUND(l_discount*100) AS BIGINT)) ELSE 0 END) AS BIGINT) AS promo_e4, " +
        "CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * " +
        "(100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS total_e4 " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE EXTRACT(year FROM l_shipdate) = 1997 GROUP BY 1) " +
        "SELECT o_month, ROUND(100.0 * promo_e4 / total_e4, 4) AS promo_pct " +
        "FROM t ORDER BY o_month"),
    "q50_small_qty_revenue" ->
      ("WITH pp AS (SELECT l_partkey AS pk, " +
        "CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qc, " +
        "COUNT(*) AS n FROM lineitem GROUP BY 1) " +
        "SELECT p_brand, " +
        "CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * " +
        "(100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_e4, " +
        "COUNT(*) AS n_items " +
        "FROM lineitem JOIN pp ON l_partkey = pk " +
        "JOIN part ON l_partkey = p_partkey " +
        "WHERE CAST(ROUND(l_quantity*100) AS BIGINT) * 2 * n < sum_qc " +
        "GROUP BY 1 ORDER BY 1"),
    "q51_brand_bands" ->
      ("SELECT CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * " +
        "(100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_e4, " +
        "COUNT(*) AS n_items FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5) " +
        "OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10) " +
        "OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)"),
    "q52_excess_suppliers" ->
      ("WITH ps AS (SELECT l_partkey, l_suppkey, " +
        "CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS q_ps " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE p_type = 'PROMO' AND EXTRACT(year FROM l_shipdate) = 1997 " +
        "GROUP BY 1, 2), " +
        "pt AS (SELECT l_partkey AS pk, CAST(SUM(q_ps) AS BIGINT) AS q_p, " +
        "COUNT(*) AS n_supp FROM ps GROUP BY 1) " +
        "SELECT s_suppkey, s_name, n_name AS nation " +
        "FROM supplier JOIN nation ON s_nationkey = n_nationkey " +
        "WHERE s_suppkey IN (SELECT DISTINCT l_suppkey FROM ps JOIN pt ON l_partkey = pk " +
        "WHERE q_ps * n_supp > q_p * 2) ORDER BY s_suppkey"),
    "q53_supplier_variety" ->
      ("SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE p_type <> 'PROMO' AND l_suppkey NOT IN " +
        "(SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) " +
        "GROUP BY 1, 2 ORDER BY supplier_cnt DESC, p_brand, p_size"),
    "q37_funnel" ->
      ("WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events " +
        "WHERE event_type = 'view' GROUP BY user_id), " +
        "c AS (SELECT e.user_id, MIN(ts) AS t_click FROM events e " +
        "JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view " +
        "WHERE event_type = 'click' GROUP BY e.user_id), " +
        "p AS (SELECT e.user_id, MIN(ts) AS t_purchase FROM events e " +
        "JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click " +
        "WHERE event_type = 'purchase' GROUP BY e.user_id) " +
        "SELECT stage, n_users FROM (" +
        "SELECT '1_view' AS stage, COUNT(*) AS n_users FROM v " +
        "UNION ALL SELECT '2_click', COUNT(*) FROM c " +
        "UNION ALL SELECT '3_purchase', COUNT(*) FROM p) t ORDER BY stage"),
    "q38_retention" ->
      ("WITH cohort AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day " +
        "FROM events WHERE event_type = 'signup' GROUP BY user_id) " +
        "SELECT cohort_day, day_offset, n_users FROM (" +
        "SELECT c.cohort_day, date_diff('day', c.cohort_day, CAST(e.ts AS DATE)) " +
        "AS day_offset, COUNT(DISTINCT e.user_id) AS n_users FROM events e " +
        "JOIN cohort c ON e.user_id = c.user_id " +
        "GROUP BY 1, 2) t WHERE day_offset IN (1, 7) ORDER BY cohort_day, day_offset"),
    "q36_top_rev_supplier" ->
      ("WITH rev AS (SELECT l_suppkey, " +
        "SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * " +
        "(100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS rev_u " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' " +
        "AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY l_suppkey) " +
        "SELECT s_suppkey, s_name, ROUND(rev_u / 10000.0, 2) AS total_rev " +
        "FROM rev JOIN supplier ON l_suppkey = s_suppkey " +
        "WHERE rev_u = (SELECT MAX(rev_u) FROM rev) ORDER BY s_suppkey"),
    "q33_group_median" ->
      ("SELECT l_returnflag, " +
        "ROUND(quantile_cont(cents, 0.25),1) AS q1_cents, " +
        "ROUND(quantile_cont(cents, 0.5),1) AS median_cents, " +
        "ROUND(quantile_cont(cents, 0.75),1) AS q3_cents " +
        "FROM (SELECT l_returnflag, CAST(ROUND(l_extendedprice * 100) AS BIGINT) " +
        "AS cents FROM lineitem) t GROUP BY l_returnflag ORDER BY l_returnflag"),
    "pipe_incremental_dedup" ->
      ("WITH corpus AS (SELECT DISTINCT md5(text) AS content_hash FROM documents " +
        "WHERE doc_id < 300), batch AS (" +
        "SELECT doc_id, md5(text) AS content_hash FROM documents WHERE doc_id >= 300 " +
        "UNION ALL SELECT doc_id + 200000, md5(text) FROM documents WHERE doc_id < 40) " +
        "SELECT MIN(doc_id) AS doc_id, content_hash FROM batch b " +
        "WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.content_hash = b.content_hash) " +
        "GROUP BY content_hash ORDER BY doc_id"),
    // exact-integer audio features replayed from the SOURCE bytes:
    // mean = sum // n, crossings/deltas via the position self-join
    "mm_audio_features" ->
      ("WITH c AS (SELECT doc_id, ascii(unnest(regexp_split_to_array(text, ''))) AS b, " +
        "generate_subscripts(regexp_split_to_array(text, ''), 1) AS pos " +
        "FROM documents WHERE doc_id % 2 = 1 AND length(text) > 0), " +
        "m AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(b) AS BIGINT) // COUNT(*) AS mean FROM c GROUP BY doc_id), " +
        "f AS (SELECT a.doc_id, CAST(SUM(CASE WHEN (a.b >= m.mean) <> (b2.b >= m.mean) " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS cr, CAST(SUM(abs(b2.b - a.b)) AS BIGINT) AS sad " +
        "FROM c a JOIN c b2 ON a.doc_id = b2.doc_id AND b2.pos = a.pos + 1 " +
        "JOIN m ON m.doc_id = a.doc_id GROUP BY a.doc_id) " +
        "SELECT d.doc_id, COALESCE(m.n, 0) AS n_samples, " +
        "CAST(COALESCE(m.mean, 0) AS BIGINT) AS mean_b, " +
        "COALESCE(f.cr, 0) AS n_mean_cross, COALESCE(f.sad, 0) AS sum_abs_delta " +
        "FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d " +
        "LEFT JOIN m USING (doc_id) LEFT JOIN f USING (doc_id) ORDER BY doc_id"),
    "mm_audio_window" ->
      ("WITH t AS (SELECT doc_id, text, octet_length(encode(text)) AS nb FROM documents), " +
        "a AS (SELECT doc_id, text, 8000 * (1 << (nb % 3)) AS sample_rate, " +
        "nb * 50 AS n_samples FROM t), " +
        "w AS (SELECT doc_id, text, sample_rate, n_samples, " +
        "GREATEST(FLOOR((n_samples - 400) / 160.0) + 1, 0) AS n_windows FROM a), " +
        "k AS (SELECT doc_id, text, sample_rate, n_samples, n_windows, " +
        "LEAST(n_windows, 6) AS k FROM w WHERE n_windows > 0), " +
        "f AS (SELECT doc_id, text, sample_rate, n_samples, n_windows, " +
        "UNNEST(generate_series(0, CAST(k AS BIGINT) - 1)) AS i FROM k) " +
        "SELECT doc_id, CAST(sample_rate AS BIGINT) AS sample_rate, " +
        "CAST(n_samples AS BIGINT) AS n_samples, CAST(n_windows AS BIGINT) AS n_windows, " +
        "CAST(i * 160 AS BIGINT) AS win_start, " +
        "md5(text || '@' || CAST(i * 160 AS VARCHAR)) AS window_checksum " +
        "FROM f ORDER BY doc_id, win_start"),
    "text_pii_scrub" ->
      ("SELECT doc_id, " +
        "CAST(len(list_filter(string_split(text, ' '), " +
        "t -> regexp_matches(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))) AS BIGINT) " +
        "AS n_email_tokens, " +
        "CAST(len(list_filter(string_split(text, ' '), " +
        "t -> regexp_matches(t, 'https?://[^ \\t\\n]+'))) AS BIGINT) AS n_url_tokens, " +
        "md5(regexp_replace(regexp_replace(text, " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
        "'https?://[^ \\t\\n]+', '<URL>', 'g')) AS scrubbed_md5 " +
        "FROM documents ORDER BY doc_id"),
    "text_repetition" ->
      ("WITH t AS (SELECT doc_id, regexp_split_to_array(regexp_replace(lower(trim(text)), " +
        "'\\s+', ' ', 'g'), ' ') AS toks FROM documents), " +
        "g AS (SELECT doc_id, CASE WHEN len(toks) >= 3 THEN " +
        "list_transform(generate_series(1, len(toks)-2), " +
        "i -> array_to_string(toks[i:i+2], ' ')) ELSE []::VARCHAR[] END AS g3 FROM t) " +
        "SELECT doc_id, CAST(len(g3) AS BIGINT) AS n_trigrams, " +
        "CAST(len(list_distinct(g3)) AS BIGINT) AS n_distinct, " +
        "CASE WHEN len(g3) = 0 THEN 0.0 ELSE " +
        "ROUND(CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3), 4) END " +
        "AS dup_frac FROM g ORDER BY doc_id"),
    "dedup_exact" ->
      ("SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies " +
        "FROM documents GROUP BY md5(text) ORDER BY keep_id"),
    "text_entropy" ->
      ("WITH chars AS (SELECT doc_id, UNNEST(string_split(text, '')) AS ch " +
        "FROM documents), " +
        "f AS (SELECT doc_id, ch, COUNT(*) AS cnt FROM chars WHERE ch <> '' " +
        "GROUP BY doc_id, ch), " +
        "g AS (SELECT doc_id, list(cnt ORDER BY ch) AS cs, SUM(cnt) AS total " +
        "FROM f GROUP BY doc_id) " +
        "SELECT doc_id, ROUND(list_reduce(list_prepend(0.0, " +
        "list_transform(cs, c -> CAST(c AS DOUBLE))), " +
        "(acc, c) -> acc - (c / total) * ln(c / total)), 4) AS entropy_nats " +
        "FROM g ORDER BY doc_id"),
    "text_gopher_filter" -> gopherFilterSql,
    "dedup_normalized" ->
      ("SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash, " +
        "MIN(doc_id) AS keep_id, COUNT(*) AS n_copies FROM documents " +
        "GROUP BY 1 ORDER BY keep_id"),
    "pipe_corpus_stats" ->
      ("SELECT source, lang, COUNT(*) AS n_docs, " +
        "COUNT(DISTINCT md5(text)) AS n_unique, " +
        "CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE " +
        "len(regexp_split_to_array(trim(text), '\\s+')) END) AS BIGINT) AS total_tokens, " +
        "CAST(SUM(length(text)) AS BIGINT) AS total_chars FROM documents " +
        "GROUP BY source, lang ORDER BY source, lang"),
    // source governance report: dup flag ships the md5 hash (the D1
    // convention), counts exact, dup_rate in exact DOUBLE division
    "pipe_source_report" ->
      ("WITH d AS (SELECT source, doc_id, md5(text) AS h, " +
        "CAST(length(text) AS BIGINT) AS n_chars, " +
        "CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE " +
        "len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens " +
        "FROM documents), " +
        "c AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS n_copies FROM d GROUP BY h) " +
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(COUNT(CASE WHEN n_tokens = 0 THEN 1 END) AS BIGINT) AS n_empty, " +
        "CAST(SUM(n_chars) AS BIGINT) AS total_chars, " +
        "CAST(SUM(n_tokens) AS BIGINT) AS total_tokens, " +
        "CAST(COUNT(CASE WHEN n_copies > 1 THEN 1 END) AS BIGINT) AS n_dup_docs, " +
        "ROUND(CAST(COUNT(CASE WHEN n_copies > 1 THEN 1 END) AS DOUBLE) / COUNT(*), 6) " +
        "AS dup_rate FROM d JOIN c USING (h) GROUP BY source ORDER BY source"),
    "pipe_cross_dup" -> pipeCrossDupSql,
    // token fertility by language: both counting kernels replicated
    // (whitespace split + the BPE-ish [alpha|digit|other] extraction),
    // ppm ratio in exact integer division; sums re-CAST off HUGEINT
    "text_fertility" ->
      (s"SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        s"CAST(SUM($wsTok) AS BIGINT) AS n_words, " +
        "CAST(SUM(CAST(len(regexp_extract_all(text,'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)) AS BIGINT) AS n_tokens, " +
        s"(CAST(SUM(CAST(len(regexp_extract_all(text,'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)) AS BIGINT) * 1000000) " +
        s"// CAST(SUM($wsTok) AS BIGINT) AS fertility_ppm " +
        "FROM documents GROUP BY lang ORDER BY lang"),
    // type-token ratio: distinct via the (doc, word) pre-group in both
    // engines; ratio in exact DOUBLE at the edge
    "text_ttr" ->
      ("WITH toks AS (SELECT doc_id, " +
        "UNNEST(string_split_regex(trim(text), '\\s+')) AS word " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "tf AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf FROM toks " +
        "GROUP BY doc_id, word) " +
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_types, " +
        "CAST(SUM(tf) AS BIGINT) AS n_tokens, " +
        "ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(tf) AS BIGINT), 6) AS ttr " +
        "FROM tf GROUP BY doc_id ORDER BY doc_id"),
    // Zipf fit: bit-length bins (length(bin(n)) both engines), exact
    // integer regression sums, HUGEINT ≡ DECIMAL(38,0) products,
    // doubles only at the two final divisions
    "text_zipf" ->
      ("WITH w AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "v AS (SELECT word, COUNT(*) AS freq FROM w GROUP BY word), " +
        "r AS (SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, word) AS rank FROM v), " +
        "b AS (SELECT CAST(length(bin(rank)) AS BIGINT) AS x, " +
        "CAST(length(bin(freq)) AS BIGINT) AS y FROM r), " +
        "f AS (SELECT COUNT(*) AS v, SUM(x) AS sx, SUM(y) AS sy, " +
        "SUM(x*x) AS sxx, SUM(x*y) AS sxy FROM b) " +
        "SELECT CAST(v AS BIGINT) AS vocab_size, " +
        "ROUND(CAST(v*sxy - sx*sy AS DOUBLE)/CAST(v*sxx - sx*sx AS DOUBLE), 6) AS slope, " +
        "ROUND((CAST(sy AS DOUBLE) - " +
        "(CAST(v*sxy - sx*sy AS DOUBLE)/CAST(v*sxx - sx*sx AS DOUBLE))*CAST(sx AS DOUBLE))" +
        "/CAST(v AS DOUBLE), 6) AS intercept FROM f"),
    // temperature mixture: integer floor-sqrt weights (exact integer
    // denominator — see pipeTemperatureMix), doubles at the edge
    "pipe_temperature_mix" ->
      ("WITH src AS (SELECT source, COUNT(*) AS n_docs, " +
        "CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE " +
        "len(regexp_split_to_array(trim(text), '\\s+')) END) AS BIGINT) AS tokens " +
        "FROM documents GROUP BY source), " +
        "si AS (SELECT source, n_docs, tokens, " +
        "CAST(FLOOR(SQRT(CAST(tokens AS DOUBLE))) AS BIGINT) AS isqrt FROM src), " +
        "tot AS (SELECT SUM(tokens) AS tot_tokens, SUM(isqrt) AS tot_isqrt FROM si) " +
        "SELECT source, n_docs, tokens, " +
        "ROUND(CAST(tokens AS DOUBLE)/CAST(tot_tokens AS DOUBLE), 6) AS share, " +
        "ROUND(CAST(isqrt AS DOUBLE)/CAST(tot_isqrt AS DOUBLE), 6) AS weight, " +
        "ROUND((CAST(isqrt AS DOUBLE)/CAST(tot_isqrt AS DOUBLE)) / " +
        "(CAST(tokens AS DOUBLE)/CAST(tot_tokens AS DOUBLE)), 6) AS boost, " +
        "CAST(FLOOR((CAST(isqrt AS DOUBLE)/CAST(tot_isqrt AS DOUBLE)) * 1000000) AS BIGINT) " +
        "AS samples FROM si CROSS JOIN tot ORDER BY source"),
    "dedup_ngram_jaccard" -> jaccardPairsSql,
    "dedup_minhash_lsh" -> minhashLshSql,
    // the sidecar replays the session signature/band arithmetic over
    // the same rows — bit-identical to dedup_minhash_lsh
    "dedup_minhash_materialized" -> minhashLshSql,
    "dedup_simhash" -> simhashSql,
    // threshold band profile: the D2 verified-pair replica banded by
    // floor(est*10) (same rounded doubles both engines), planted mass
    // flagged via the shared id offset
    "dedup_band_profile" ->
      (s"WITH pairs AS ($minhashLshSql), " +
        "b AS (SELECT CAST(FLOOR(est_jaccard * 10) AS BIGINT) AS band, " +
        s"CASE WHEN id_a >= ${graft.operators.Dedup.PlantedIdOffset} " +
        s"OR id_b >= ${graft.operators.Dedup.PlantedIdOffset} " +
        "THEN 1 ELSE 0 END AS pl FROM pairs) " +
        "SELECT band, CAST(COUNT(*) AS BIGINT) AS n_pairs, " +
        "CAST(SUM(pl) AS BIGINT) AS n_planted " +
        "FROM b GROUP BY band ORDER BY band"),
    "dedup_clusters" ->
      (s"WITH RECURSIVE jp AS (SELECT id_a, id_b FROM ($jaccardPairsSql) p), " +
        "edges AS (SELECT id_a AS u, id_b AS v FROM jp " +
        "UNION SELECT id_b AS u, id_a AS v FROM jp), " +
        "reach(u, r) AS (SELECT u, u FROM (SELECT DISTINCT u FROM edges) t " +
        "UNION SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u), " +
        "comp AS (SELECT u AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY u) " +
        "SELECT doc_id, cluster_id, COUNT(*) OVER (PARTITION BY cluster_id) " +
        "AS cluster_size FROM comp ORDER BY doc_id"),
    // filter-ablation matrix: the five Gopher sub-conditions
    // decomposed from the SAME replica arithmetic as
    // text_gopher_filter; unique kills = docs failing exactly one
    "pipe_filter_ablation" ->
      (s"WITH g AS ($gopherFilterSql), " +
        "f AS (SELECT n_words, " +
        "NOT(n_words >= 50 AND n_words <= 100000) AS f_words, " +
        "NOT(mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS f_wordlen, " +
        "NOT(n_symbols * 10 < n_words) AS f_symbols, " +
        "NOT(n_alpha_words * 10 > n_words * 8) AS f_alpha, " +
        "NOT(n_stopwords >= 2) AS f_stopwords FROM g), " +
        "ff AS (SELECT *, CAST(f_words AS INT) + CAST(f_wordlen AS INT) + " +
        "CAST(f_symbols AS INT) + CAST(f_alpha AS INT) + " +
        "CAST(f_stopwords AS INT) AS n_fail FROM f), " +
        "m AS (" + Seq("words", "wordlen", "symbols", "alpha", "stopwords")
          .map(n => s"SELECT '$n' AS filter, " +
            s"CAST(COUNT(CASE WHEN f_$n THEN 1 END) AS BIGINT) AS n_failed, " +
            s"CAST(COUNT(CASE WHEN f_$n AND n_fail = 1 THEN 1 END) AS BIGINT) AS n_unique_kills, " +
            s"CAST(COALESCE(SUM(CASE WHEN f_$n AND n_fail = 1 THEN n_words END), 0) AS BIGINT) AS tokens_unique_lost " +
            "FROM ff").mkString(" UNION ALL ") +
        ") SELECT * FROM m ORDER BY filter"),
    // same connected-components chain, keep-longest representatives
    // dropped per cluster, savings attributed to the BASE doc's source
    // (planted ids resolve via the shared offset)
    "pipe_dedup_savings" ->
      (s"WITH RECURSIVE jp AS (SELECT id_a, id_b FROM ($jaccardPairsSql) p), " +
        "edges AS (SELECT id_a AS u, id_b AS v FROM jp " +
        "UNION SELECT id_b AS u, id_a AS v FROM jp), " +
        "reach(u, r) AS (SELECT u, u FROM (SELECT DISTINCT u FROM edges) t " +
        "UNION SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u), " +
        "comp AS (SELECT u AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY u), " +
        "lenu AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars FROM (" +
        "SELECT doc_id, text FROM documents UNION ALL " +
        s"SELECT doc_id + ${graft.operators.Dedup.PlantedIdOffset}, " +
        "text || ' appended near duplicate tail marker' " +
        "FROM documents WHERE doc_id < 20)), " +
        "m AS (SELECT comp.doc_id, cluster_id, n_chars, ROW_NUMBER() OVER (" +
        "PARTITION BY cluster_id ORDER BY n_chars DESC, comp.doc_id) AS rn " +
        "FROM comp JOIN lenu USING (doc_id)), " +
        s"d AS (SELECT CASE WHEN doc_id >= ${graft.operators.Dedup.PlantedIdOffset} " +
        s"THEN doc_id - ${graft.operators.Dedup.PlantedIdOffset} ELSE doc_id END " +
        "AS base_id, n_chars FROM m WHERE rn > 1) " +
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_dropped, " +
        "CAST(SUM(d.n_chars) AS BIGINT) AS chars_dropped " +
        "FROM d JOIN documents ON base_id = doc_id " +
        "GROUP BY source ORDER BY source"),
    // same connected-components chain rolled up to one row per
    // cluster size — the duplication-shape histogram (D14)
    "dedup_cluster_sizes" ->
      (s"WITH RECURSIVE jp AS (SELECT id_a, id_b FROM ($jaccardPairsSql) p), " +
        "edges AS (SELECT id_a AS u, id_b AS v FROM jp " +
        "UNION SELECT id_b AS u, id_a AS v FROM jp), " +
        "reach(u, r) AS (SELECT u, u FROM (SELECT DISTINCT u FROM edges) t " +
        "UNION SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u), " +
        "comp AS (SELECT u AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY u), " +
        "sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY 1) " +
        "SELECT cluster_size, COUNT(*) AS n_clusters, " +
        "CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs " +
        "FROM sz GROUP BY 1 ORDER BY 1"),
    // same connected-components chain as dedup_clusters, then the
    // keep-longest representative pick rides a window + aggregate on
    // the cluster key
    "dedup_keep_longest" ->
      (s"WITH RECURSIVE jp AS (SELECT id_a, id_b FROM ($jaccardPairsSql) p), " +
        "edges AS (SELECT id_a AS u, id_b AS v FROM jp " +
        "UNION SELECT id_b AS u, id_a AS v FROM jp), " +
        "reach(u, r) AS (SELECT u, u FROM (SELECT DISTINCT u FROM edges) t " +
        "UNION SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u), " +
        "comp AS (SELECT u AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY u), " +
        "len AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars FROM documents), " +
        "m AS (SELECT comp.doc_id, cluster_id, n_chars, ROW_NUMBER() OVER (" +
        "PARTITION BY cluster_id ORDER BY n_chars DESC, comp.doc_id) AS rn " +
        "FROM comp JOIN len USING (doc_id)) " +
        "SELECT cluster_id, COUNT(*) AS n_members, " +
        "MAX(CASE WHEN rn = 1 THEN doc_id END) AS rep_doc_id, " +
        "MAX(CASE WHEN rn = 1 THEN n_chars END) AS rep_chars " +
        "FROM m GROUP BY 1 ORDER BY 1"),
    "dedup_embedding" ->
      ("WITH base AS (SELECT vec_id, embedding FROM embeddings UNION ALL " +
        "SELECT vec_id + 100000, list_transform(embedding, (x, i) -> CASE WHEN i = 1 " +
        "THEN CAST(CAST(x AS DOUBLE) + CAST(CAST(0.05 AS FLOAT) AS DOUBLE) AS FLOAT) " +
        "ELSE x END) FROM embeddings WHERE vec_id < 20), " +
        "d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM base) " +
        "SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
        "ROUND(list_cosine_similarity(a.e, b.e), 4) AS cos " +
        "FROM d a JOIN d b ON a.vec_id < b.vec_id " +
        // filter on the ROUNDED cosine — the Spark side rounds before its
        // threshold, so a 0.98996 boundary value must pass on both engines
        "WHERE ROUND(list_cosine_similarity(a.e, b.e), 4) >= 0.99 ORDER BY id_a, id_b"),
    "dedup_semantic" ->
      ("WITH emb0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        ivfQuantizerCtes("emb0") + ", " +
        "base AS (SELECT vec_id, embedding FROM embeddings UNION ALL " +
        "SELECT vec_id + 100000, list_transform(embedding, (x, i) -> CASE WHEN i = 1 " +
        "THEN CAST(CAST(x AS DOUBLE) + CAST(CAST(0.05 AS FLOAT) AS DOUBLE) AS FLOAT) " +
        "ELSE x END) FROM embeddings WHERE vec_id < 20), " +
        "d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM base), " +
        "assign AS (SELECT vec_id, cid_c, CASE WHEN nc > 0 THEN " +
        "list_dot_product(e, c) * (1.0 / sqrt(nc)) ELSE 0.0 END AS score " +
        "FROM d CROSS JOIN seeds), " +
        "cl AS (SELECT vec_id, cid_c AS cluster FROM (SELECT vec_id, cid_c, " +
        "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cid_c) AS rr " +
        "FROM assign) r WHERE rr = 1), " +
        "p AS (SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b FROM cl a " +
        "JOIN cl b ON a.cluster = b.cluster AND a.vec_id < b.vec_id), " +
        "sc AS (SELECT CAST(cluster AS BIGINT) AS cluster, id_a, id_b, " +
        "ROUND(list_cosine_similarity(da.e, db.e), 4) AS cos FROM p " +
        "JOIN d da ON da.vec_id = id_a JOIN d db ON db.vec_id = id_b) " +
        "SELECT cluster, id_a, id_b, cos FROM sc WHERE cos >= 0.99 " +
        "ORDER BY id_a, id_b"),
    // index-backed SemDeDup: the quantizer trains over the SAME
    // corpus-plus-variants frame the durable index covers, so the
    // whole chain (stride seeds, Lloyd rounds, top-1 assignment,
    // same-cluster pairing, cosine verify) replays over `emb2`
    "dedup_semantic_materialized" ->
      ("WITH base AS (SELECT vec_id, embedding FROM embeddings UNION ALL " +
        "SELECT vec_id + 100000, list_transform(embedding, (x, i) -> CASE WHEN i = 1 " +
        "THEN CAST(CAST(x AS DOUBLE) + CAST(CAST(0.05 AS FLOAT) AS DOUBLE) AS FLOAT) " +
        "ELSE x END) FROM embeddings WHERE vec_id < 20), " +
        "emb2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM base), " +
        ivfQuantizerCtes("emb2") + ", " +
        "assign AS (SELECT vec_id, cid_c, CASE WHEN nc > 0 THEN " +
        "list_dot_product(e, c) * (1.0 / sqrt(nc)) ELSE 0.0 END AS score " +
        "FROM emb2 CROSS JOIN seeds), " +
        "cl AS (SELECT vec_id, cid_c AS cluster FROM (SELECT vec_id, cid_c, " +
        "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cid_c) AS rr " +
        "FROM assign) r WHERE rr = 1), " +
        "p AS (SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b FROM cl a " +
        "JOIN cl b ON a.cluster = b.cluster AND a.vec_id < b.vec_id), " +
        "sc AS (SELECT CAST(cluster AS BIGINT) AS cluster, id_a, id_b, " +
        "ROUND(list_cosine_similarity(da.e, db.e), 4) AS cos FROM p " +
        "JOIN emb2 da ON da.vec_id = id_a JOIN emb2 db ON db.vec_id = id_b) " +
        "SELECT cluster, id_a, id_b, cos FROM sc WHERE cos >= 0.99 " +
        "ORDER BY id_a, id_b"),
    // fixed 60-char windows at stride 20, md5-fingerprinted; windows in
    // >32 docs dropped (boilerplate cut), pairs sharing ≥2 windows kept
    "dedup_substring" ->
      ("WITH wins AS (SELECT DISTINCT doc_id, md5(substr(text, CAST(p AS INT), 60)) AS h " +
        "FROM documents, LATERAL (SELECT unnest(generate_series(1, len(text)-59, 20)) AS p) s " +
        "WHERE len(text) >= 60), " +
        "freq AS (SELECT h FROM wins GROUP BY h HAVING COUNT(*) <= 32), " +
        "w2 AS (SELECT * FROM wins WHERE h IN (SELECT h FROM freq)) " +
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared " +
        "FROM w2 a JOIN w2 b USING (h) WHERE a.doc_id < b.doc_id " +
        "GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY 1, 2"),
    "sim_lsh_ann" -> simLshAnnSql,
    "sim_ivf" -> simIvfSql,
    "sim_knn_join" -> simKnnJoinSql,
    "sim_filtered_ivf" -> simFilteredIvfSql,
    "sim_pagerank" -> simPagerankSql,
    "sim_triangles" -> simTrianglesSql,
    "sim_kcore" -> simKcoreSql,
    "sim_mmr" -> simMmrSql,
    "sim_sq_topk" -> simSqSql,
    // the materialized-codes path shares the session chain's scales
    // and code arithmetic, so it shares the full replay oracle
    "sim_sq_materialized" -> simSqSql,
    // materialized-assignments IVF replays the same centroid stride and
    // assignment kernel over the same rows — bit-identical to sim_ivf
    "sim_ivf_materialized" -> simIvfSql,
    "sim_pq" -> simPqSql,
    // IVF candidates scored with PQ-ADC: both replica chains composed
    "sim_ivfpq" -> simIvfPqSql,
    "sim_pq_rerank" -> simPqRerankSql,
    // the materialized-codes path is bit-identical to sim_pq by
    // construction (same training rows, exact-int64 arithmetic), so it
    // shares the full codebook-replay oracle
    "sim_pq_materialized" -> simPqSql,
    "sim_bruteforce_topk" -> simBruteforceSql,
    "sim_recall_report" -> simRecallSql,
    "sim_cluster_balance" -> simClusterBalanceSql,
    // hybrid RRF: both leg chains are the proven sim_bruteforce_topk
    // and text_search_ranked replicas (k=30 / top-100, candidate floor
    // doc_id >= 10); fusion arithmetic in exact DOUBLE (CAST, not
    // DuckDB's DECIMAL literal division), ranks re-derived per query
    "sim_hybrid_rrf" ->
      ("WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings " +
        "WHERE vec_id < 10), c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce " +
        "FROM embeddings WHERE vec_id >= 10), s AS (SELECT qid, cid, " +
        "list_cosine_similarity(qe, ce) AS cos_raw FROM q CROSS JOIN c), " +
        "vk AS (SELECT qid, cid, rn AS vrn FROM (SELECT qid, cid, " +
        "ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_raw DESC, cid) AS rn FROM s) " +
        "WHERE rn <= 30), " +
        "toks AS (SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS term " +
        "FROM documents WHERE length(trim(text)) > 0 AND doc_id >= 10), " +
        "tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks " +
        "WHERE term IN ('merge', 'vector', 'customer') GROUP BY doc_id, term), " +
        "dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term), " +
        "nd AS (SELECT COUNT(*) AS n_docs FROM documents), " +
        "sc AS (SELECT doc_id, SUM(tf * (length(bin(n_docs)) - length(bin(df)))) AS score " +
        "FROM tf JOIN dfq USING (term) CROSS JOIN nd GROUP BY doc_id), " +
        "tk AS (SELECT doc_id AS cid, rn AS trn FROM (SELECT doc_id, " +
        "ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rn FROM sc) WHERE rn <= 100), " +
        "pairs AS (SELECT qid, cid FROM vk UNION " +
        "SELECT qid, cid FROM (SELECT qid FROM q) CROSS JOIN tk), " +
        "fused AS (SELECT p.qid, p.cid, " +
        "COALESCE(CAST(1 AS DOUBLE)/(60+vk.vrn), 0) + " +
        "COALESCE(CAST(1 AS DOUBLE)/(60+tk.trn), 0) AS rrf FROM pairs p " +
        "LEFT JOIN vk ON p.qid = vk.qid AND p.cid = vk.cid " +
        "LEFT JOIN tk ON p.cid = tk.cid), " +
        "r AS (SELECT qid, cid, rrf, ROW_NUMBER() OVER (PARTITION BY qid " +
        "ORDER BY rrf DESC, cid) AS rn FROM fused) " +
        "SELECT qid, cid, ROUND(rrf, 6) AS rrf, CAST(rn AS BIGINT) AS rn FROM r " +
        "WHERE rn <= 5 ORDER BY qid, rn"),
    // hybrid with the BM25 sparse leg: same fusion chassis; sparse
    // scores are the text_search_bm25 replica with corpus stats (N,
    // T, dl) over ALL docs and only the candidate hits floored at
    // doc_id >= 10 (length norms are corpus-level facts)
    "sim_hybrid_bm25" ->
      ("WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings " +
        "WHERE vec_id < 10), c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce " +
        "FROM embeddings WHERE vec_id >= 10), s AS (SELECT qid, cid, " +
        "list_cosine_similarity(qe, ce) AS cos_raw FROM q CROSS JOIN c), " +
        "vk AS (SELECT qid, cid, rn AS vrn FROM (SELECT qid, cid, " +
        "ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_raw DESC, cid) AS rn FROM s) " +
        "WHERE rn <= 30), " +
        "toks AS (SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS term " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "posts AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2), " +
        "lens AS (SELECT doc_id, SUM(tf) AS dl FROM posts GROUP BY 1), " +
        "corpus AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS t FROM lens), " +
        "hits AS (SELECT * FROM posts WHERE term IN ('dup', 'merge', 'vector') AND doc_id >= 10), " +
        "dfq AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM hits GROUP BY term), " +
        "scored AS (SELECT h.doc_id, h.tf, l.dl, n, t, ((n * 1048576) // df) AS r " +
        "FROM hits h JOIN dfq USING (term) JOIN lens l USING (doc_id) CROSS JOIN corpus), " +
        "idf AS (SELECT *, CAST((CAST(length(bin(r)) - 21 AS BIGINT) * 1000000) + " +
        "((CAST(r - (CAST(1 AS BIGINT) << (length(bin(r)) - 1)) AS HUGEINT) * 1000000) // " +
        "(CAST(1 AS BIGINT) << (length(bin(r)) - 1))) AS BIGINT) AS idf_ppm FROM scored), " +
        "sc AS (SELECT doc_id, CAST(SUM((CAST(idf_ppm AS HUGEINT) * 22 * tf * t) // " +
        "((CAST(10 AS HUGEINT) * tf * t) + (3 * t) + (9 * dl * n))) AS BIGINT) AS score " +
        "FROM idf GROUP BY doc_id), " +
        "tk AS (SELECT doc_id AS cid, rn AS trn FROM (SELECT doc_id, " +
        "ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rn FROM sc) WHERE rn <= 100), " +
        "pairs AS (SELECT qid, cid FROM vk UNION " +
        "SELECT qid, cid FROM (SELECT qid FROM q) CROSS JOIN tk), " +
        "fused AS (SELECT p.qid, p.cid, " +
        "COALESCE(CAST(1 AS DOUBLE)/(60+vk.vrn), 0) + " +
        "COALESCE(CAST(1 AS DOUBLE)/(60+tk.trn), 0) AS rrf FROM pairs p " +
        "LEFT JOIN vk ON p.qid = vk.qid AND p.cid = vk.cid " +
        "LEFT JOIN tk ON p.cid = tk.cid), " +
        "r AS (SELECT qid, cid, rrf, ROW_NUMBER() OVER (PARTITION BY qid " +
        "ORDER BY rrf DESC, cid) AS rn FROM fused) " +
        "SELECT qid, cid, ROUND(rrf, 6) AS rrf, CAST(rn AS BIGINT) AS rn FROM r " +
        "WHERE rn <= 5 ORDER BY qid, rn"),
    // Euclidean top-k: list_distance is DuckDB's exact L2; nearest =
    // smallest distance, ties ascending by cid like the kernel
    "sim_l2_topk" ->
      ("WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings " +
        "WHERE vec_id < 10), c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce " +
        "FROM embeddings WHERE vec_id >= 10), s AS (SELECT qid, cid, " +
        "list_distance(qe, ce) AS d_raw FROM q CROSS JOIN c), r AS (" +
        "SELECT qid, cid, d_raw, ROW_NUMBER() OVER (PARTITION BY qid " +
        "ORDER BY d_raw, cid) AS rn FROM s) SELECT qid, cid, " +
        "ROUND(d_raw, 4) AS dist, CAST(rn AS BIGINT) AS rn FROM r WHERE rn <= 5 " +
        "ORDER BY qid, rn"),
    // MIPS top-k: raw inner product, largest-is-best, same tie-break
    "sim_mips_topk" ->
      ("WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings " +
        "WHERE vec_id < 10), c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce " +
        "FROM embeddings WHERE vec_id >= 10), s AS (SELECT qid, cid, " +
        "list_inner_product(qe, ce) AS dot_raw FROM q CROSS JOIN c), r AS (" +
        "SELECT qid, cid, dot_raw, ROW_NUMBER() OVER (PARTITION BY qid " +
        "ORDER BY dot_raw DESC, cid) AS rn FROM s) SELECT qid, cid, " +
        "ROUND(dot_raw, 4) AS dot, CAST(rn AS BIGINT) AS rn FROM r WHERE rn <= 5 " +
        "ORDER BY qid, rn"),
    // filtered vector search: identical exact-cosine chain, corpus
    // pre-filtered on the metadata predicate before any vector math
    "sim_filtered_topk" ->
      ("WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings " +
        "WHERE vec_id < 10), c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce " +
        "FROM embeddings WHERE vec_id >= 10 AND label IN (2, 5, 7)), s AS (SELECT qid, cid, " +
        "list_cosine_similarity(qe, ce) AS cos_raw FROM q CROSS JOIN c), r AS (" +
        "SELECT qid, cid, cos_raw, ROW_NUMBER() OVER (PARTITION BY qid " +
        "ORDER BY cos_raw DESC, cid) AS rn FROM s) SELECT qid, cid, " +
        "ROUND(cos_raw, 4) AS cos, CAST(rn AS BIGINT) AS rn FROM r WHERE rn <= 5 " +
        "ORDER BY qid, rn"),
    // radius search: same exact-cosine base as sim_bruteforce_topk,
    // thresholded on the ROUNDED score so the float boundary agrees
    "sim_range" ->
      ("WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings " +
        "WHERE vec_id < 10), c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce " +
        "FROM embeddings WHERE vec_id >= 10), s AS (SELECT qid, cid, " +
        "ROUND(list_cosine_similarity(qe, ce), 4) AS cos FROM q CROSS JOIN c) " +
        "SELECT qid, cid, cos FROM s WHERE cos >= 0.3 ORDER BY qid, cid"),
    "pipe_pack" ->
      (s"WITH t AS (SELECT doc_id, lang, $wsTok AS toks FROM documents), " +
        "c AS (SELECT lang, toks, SUM(toks) OVER (PARTITION BY lang ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t) " +
        "SELECT lang, CAST(FLOOR((cum - toks) / 4096) AS BIGINT) AS pack_id, " +
        "COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS pack_tokens FROM c " +
        "GROUP BY lang, pack_id ORDER BY lang, pack_id"),
    "pipe_stratified_sample" ->
      ("SELECT doc_id, lang, rn FROM (SELECT doc_id, lang, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS rn " +
        "FROM documents) t WHERE rn <= 50 ORDER BY doc_id"),
    // MOSS winnowing replica: k=8 char shingles, FNV-1a per shingle
    // (the shared fold replica), w=4 sliding windows picking the
    // rightmost minimal hash under SIGNED comparison — the packed
    // arg_min key biases the unsigned fold by 2^63 so HUGEINT order
    // matches the kernel's signed-long order, then tie-breaks toward
    // the larger position via (2^32-1 − i). Consecutive-dup dedup is
    // keyword search: AND-match over the materialized inverted index
    // must equal a direct tokenize-and-filter over the corpus
    "text_search" ->
      ("WITH toks AS (SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS term " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks " +
        "WHERE term IN ('merge', 'vector') GROUP BY doc_id, term) " +
        "SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS hits FROM tf GROUP BY doc_id " +
        "HAVING COUNT(DISTINCT term) = 2 ORDER BY doc_id"),
    // ranked OR retrieval: tf·(⌊log₂N⌋−⌊log₂df⌋) exact-integer
    // scoring, N = table row count (empty-text docs included)
    "text_search_ranked" ->
      ("WITH toks AS (SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS term " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks " +
        "WHERE term IN ('merge', 'vector', 'customer') GROUP BY doc_id, term), " +
        "dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term), " +
        "nd AS (SELECT COUNT(*) AS n_docs FROM documents) " +
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms, " +
        "CAST(SUM(tf * (length(bin(n_docs)) - length(bin(df)))) AS BIGINT) AS score " +
        "FROM tf JOIN dfq USING (term) CROSS JOIN nd " +
        "GROUP BY doc_id ORDER BY doc_id"),
    // BM25 (k1=1.2, b=0.75) in exact integer arithmetic: idf_ppm =
    // log2(N/df)*1e6 via bit length + linear mantissa interpolation
    // over the scaled ratio r = N*2^20 DIV df; saturation/length-norm
    // cleared of the avgdl division by multiplying through by T = sum
    // of doc lengths; k1/b scaled x10 (22/3/9). Same tokenizer as the
    // index; doc length = per-doc token count
    "text_search_bm25" ->
      ("WITH toks AS (SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS term " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "posts AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2), " +
        "lens AS (SELECT doc_id, SUM(tf) AS dl FROM posts GROUP BY 1), " +
        "corpus AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS t FROM lens), " +
        "hits AS (SELECT * FROM posts WHERE term IN ('dup', 'merge', 'vector')), " +
        "dfq AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM hits GROUP BY term), " +
        "scored AS (SELECT h.doc_id, h.term, h.tf, l.dl, n, t, ((n * 1048576) // df) AS r " +
        "FROM hits h JOIN dfq USING (term) JOIN lens l USING (doc_id) CROSS JOIN corpus), " +
        "idf AS (SELECT *, CAST((CAST(length(bin(r)) - 21 AS BIGINT) * 1000000) + " +
        "((CAST(r - (CAST(1 AS BIGINT) << (length(bin(r)) - 1)) AS HUGEINT) * 1000000) // " +
        "(CAST(1 AS BIGINT) << (length(bin(r)) - 1))) AS BIGINT) AS idf_ppm FROM scored) " +
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms, " +
        "CAST(SUM((CAST(idf_ppm AS HUGEINT) * 22 * tf * t) // " +
        "((CAST(10 AS HUGEINT) * tf * t) + (3 * t) + (9 * dl * n))) AS BIGINT) AS bm25_micro " +
        "FROM idf GROUP BY doc_id ORDER BY doc_id"),
    // proximity: minimal token distance + pairs within a 5-token
    // window, from the same 1-based positional tokenization
    "text_search_proximity" ->
      ("WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS l " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "toks AS (SELECT doc_id, unnest(l) AS term, generate_subscripts(l, 1) AS pos FROM d), " +
        "a AS (SELECT doc_id, pos FROM toks WHERE term = 'merge'), " +
        "b AS (SELECT doc_id, pos FROM toks WHERE term = 'vector') " +
        "SELECT a.doc_id, CAST(MIN(ABS(a.pos - b.pos)) AS BIGINT) AS min_dist, " +
        "CAST(COUNT(CASE WHEN ABS(a.pos - b.pos) <= 5 THEN 1 END) AS BIGINT) AS n_close " +
        "FROM a JOIN b ON a.doc_id = b.doc_id GROUP BY a.doc_id ORDER BY a.doc_id"),
    // three-term phrase: two chained position-adjacency joins
    "text_phrase3" ->
      ("WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS l " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "toks AS (SELECT doc_id, unnest(l) AS term, generate_subscripts(l, 1) AS pos FROM d), " +
        "a AS (SELECT doc_id, pos FROM toks WHERE term = 'slow'), " +
        "b AS (SELECT doc_id, pos FROM toks WHERE term = 'hash'), " +
        "c AS (SELECT doc_id, pos FROM toks WHERE term = 'batch') " +
        "SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_adj FROM a " +
        "JOIN b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 " +
        "JOIN c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2 " +
        "GROUP BY a.doc_id ORDER BY a.doc_id"),
    // phrase adjacency: 1-based token ordinals on both sides;
    // generate_subscripts zips with unnest in DuckDB
    "text_phrase" ->
      ("WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS l " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "toks AS (SELECT doc_id, unnest(l) AS term, generate_subscripts(l, 1) AS pos FROM d), " +
        "a AS (SELECT doc_id, pos FROM toks WHERE term = 'merge'), " +
        "b AS (SELECT doc_id, pos FROM toks WHERE term = 'vector') " +
        "SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_adj FROM a " +
        "JOIN b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 " +
        "GROUP BY a.doc_id ORDER BY a.doc_id"),
    // context-window chunking: starts every 48 tokens, 64-token
    // windows, tail truncated — 1-based slice semantics match Spark's
    "text_chunk" ->
      ("WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "c AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t), " +
        "s AS (SELECT doc_id, toks, n, UNNEST(range(0, n, 48)) AS start FROM c) " +
        "SELECT doc_id, CAST(start // 48 AS BIGINT) AS chunk_seq, " +
        "CAST(LEAST(64, n - start) AS BIGINT) AS n_tokens, " +
        "array_to_string(toks[CAST(start + 1 AS BIGINT):CAST(start + 64 AS BIGINT)], ' ') AS chunk_text " +
        "FROM s ORDER BY doc_id, chunk_seq"),
    // plain DISTINCT (selected positions are non-decreasing).
    "text_winnow" ->
      ("WITH docs AS (SELECT doc_id, lower(trim(text)) AS t FROM documents), " +
        "pos AS (SELECT doc_id, t, UNNEST(range(1, greatest(length(t)-6,1))) AS i FROM docs), " +
        "grams AS (SELECT doc_id, CAST(i AS BIGINT) AS i, " +
        "substr(t, CAST(i AS INT), 8) AS sh FROM pos), " +
        "hs AS (SELECT doc_id, i, CASE WHEN hu >= CAST('9223372036854775808' AS HUGEINT) " +
        "THEN CAST(hu - CAST('18446744073709551616' AS HUGEINT) AS BIGINT) " +
        "ELSE CAST(hu AS BIGINT) END AS h, " +
        "(((hu + CAST('9223372036854775808' AS HUGEINT)) % " +
        "CAST('18446744073709551616' AS HUGEINT)) * 4294967296 + (4294967295 - i)) AS k " +
        s"FROM (SELECT doc_id, i, ${fnvFoldSql("14695981039346656037")} AS hu FROM grams)), " +
        "wins AS (SELECT a.doc_id, a.i AS s0, " +
        "arg_min(b.i, b.k) AS bi, arg_min(b.h, b.k) AS bh " +
        "FROM hs a JOIN hs b ON b.doc_id=a.doc_id AND b.i BETWEEN a.i AND a.i+3 " +
        "GROUP BY a.doc_id, a.i HAVING COUNT(*) = 4), " +
        "ded AS (SELECT DISTINCT doc_id, bi, bh FROM wins), " +
        "fps AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp, " +
        "string_agg(bi || ':' || bh, ',' ORDER BY bi) AS s FROM ded GROUP BY doc_id) " +
        "SELECT d.doc_id, CAST(greatest(length(t)-7,0) AS BIGINT) AS n_grams, " +
        "COALESCE(f.n_fp, 0) AS n_fp, md5(COALESCE(f.s,'')) AS fp_md5 " +
        "FROM docs d LEFT JOIN fps f USING(doc_id) ORDER BY doc_id"),
    "text_vocab" ->
      ("WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "v AS (SELECT word, COUNT(*) AS freq, COUNT(DISTINCT doc_id) AS doc_freq " +
        "FROM w GROUP BY word) " +
        "SELECT word, freq, doc_freq, CAST(ROW_NUMBER() OVER " +
        "(ORDER BY freq DESC, word) AS BIGINT) AS rank FROM v ORDER BY rank"),
    // tf·idf with integer floor-log2 idf (binary-length difference):
    // exact integer scores, fixed (score desc, word) tiebreak
    "text_tfidf" ->
      ("WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "tf AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf FROM w GROUP BY 1, 2), " +
        "dfq AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1), " +
        "nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM w), " +
        "s AS (SELECT tf.doc_id, tf.word, tf.tf, dfq.df, " +
        "CAST(length(bin(n_docs)) - length(bin(df)) AS BIGINT) AS idf_bits " +
        "FROM tf JOIN dfq USING (word) CROSS JOIN nd), " +
        "r AS (SELECT doc_id, word, tf, df, tf * idf_bits AS score, " +
        "ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tf * idf_bits DESC, word) AS rn " +
        "FROM s) " +
        "SELECT doc_id, CAST(rn AS BIGINT) AS rn, word, tf, df, " +
        "CAST(score AS BIGINT) AS score FROM r WHERE rn <= 3 ORDER BY doc_id, rn"),
    // collocation lift report: top-100 supported bigrams by exact
    // integer lift_ppm = floor(c12*N*1e6 / (c1*c2)), products in
    // HUGEINT / DECIMAL(38,0) -- no log, no float anywhere
    "text_collocations" ->
      ("WITH t AS (SELECT regexp_split_to_array(trim(text), '\\s+') AS w " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "bi AS (SELECT UNNEST(w[1:len(w)-1]) AS w1, UNNEST(w[2:len(w)]) AS w2 " +
        "FROM t WHERE len(w) >= 2), " +
        "cc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bi GROUP BY 1, 2), " +
        "m1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM cc GROUP BY 1), " +
        "m2 AS (SELECT w2, CAST(SUM(c12) AS BIGINT) AS c2 FROM cc GROUP BY 1), " +
        "nn AS (SELECT CAST(SUM(c12) AS BIGINT) AS n FROM cc), " +
        "f AS (SELECT cc.w1, cc.w2, cc.c12, m1.c1, m2.c2, " +
        "CAST(CAST(cc.c12 AS HUGEINT) * nn.n * 1000000 // " +
        "(CAST(m1.c1 AS HUGEINT) * m2.c2) AS BIGINT) AS lift_ppm " +
        "FROM cc JOIN m1 USING (w1) JOIN m2 USING (w2), nn " +
        "WHERE cc.c12 >= 5 " +
        "ORDER BY lift_ppm DESC, cc.w1, cc.w2 LIMIT 100) " +
        "SELECT CAST(ROW_NUMBER() OVER (ORDER BY lift_ppm DESC, w1, w2) AS BIGINT) AS rank, " +
        "w1, w2, c12, c1, c2, lift_ppm FROM f ORDER BY rank"),
    "text_rarity" ->
      ("WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "v AS (SELECT word, CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, word) " +
        "AS BIGINT) AS rank FROM w GROUP BY word) " +
        "SELECT doc_id, COUNT(*) AS n_words, CAST(SUM(rank) AS BIGINT) AS rank_sum, " +
        "ROUND(CAST(SUM(rank) AS DOUBLE) / COUNT(*), 4) AS mean_rank " +
        "FROM w JOIN v USING (word) GROUP BY doc_id ORDER BY doc_id"),
    // corpus bigram LM: floor-log2 surprisal as binary-string length
    // difference -- exact integers, so the model replays bit-for-bit
    "text_perplexity" ->
      ("WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "bi AS (SELECT doc_id, UNNEST(w[1:len(w)-1]) AS w1, UNNEST(w[2:len(w)]) AS w2 " +
        "FROM t WHERE len(w) >= 2), " +
        "c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY 1, 2), " +
        "c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1), " +
        "v AS (SELECT COUNT(*) AS v FROM c1), " +
        "s AS (SELECT doc_id, length(bin(c1 + v)) - length(bin(c12)) AS bits " +
        "FROM bi JOIN c12 USING (w1, w2) JOIN c1 USING (w1), v) " +
        "SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(bits) AS BIGINT) AS bits_sum, " +
        "ROUND(CAST(SUM(bits) AS DOUBLE) / COUNT(*), 4) AS bits_per_bigram " +
        "FROM s GROUP BY 1 ORDER BY 1"),
    // curriculum deciles over the exact-integer surprisal rate: cut
    // points are the values at 1-indexed ranks (i*n)//10 of the sorted
    // rate column (ties share a value, so tie order is irrelevant) and
    // bucket = 1 + #(cuts < rate) — replays Pipeline.pipeCurriculum's
    // rank-selection + broadcast-comparison exactly
    "pipe_curriculum" ->
      ("WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "bi AS (SELECT doc_id, UNNEST(w[1:len(w)-1]) AS w1, UNNEST(w[2:len(w)]) AS w2 " +
        "FROM t WHERE len(w) >= 2), " +
        "c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY 1, 2), " +
        "c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1), " +
        "v AS (SELECT COUNT(*) AS v FROM c1), " +
        "s AS (SELECT doc_id, length(bin(c1 + v)) - length(bin(c12)) AS bits " +
        "FROM bi JOIN c12 USING (w1, w2) JOIN c1 USING (w1), v), " +
        "p AS (SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(bits) AS BIGINT) AS bits_sum " +
        "FROM s GROUP BY 1), " +
        "sc AS (SELECT doc_id, (bits_sum * 1000) // n_bigrams AS rate FROM p), " +
        "n AS (SELECT COUNT(*) AS n FROM sc), " +
        "rk AS (SELECT rate, ROW_NUMBER() OVER (ORDER BY rate) AS rn FROM sc), " +
        "cuts AS (SELECT rk.rate AS cut FROM rk, n WHERE rk.rn >= 1 AND rk.rn IN (" +
        "(1*n.n)//10, (2*n.n)//10, (3*n.n)//10, (4*n.n)//10, (5*n.n)//10, " +
        "(6*n.n)//10, (7*n.n)//10, (8*n.n)//10, (9*n.n)//10)) " +
        "SELECT doc_id, rate, CAST(1 + (SELECT COUNT(*) FROM cuts WHERE cut < sc.rate) " +
        "AS BIGINT) AS bucket FROM sc ORDER BY doc_id"),
    // cluster-balanced sampling: the shared Lloyd-refined quantizer
    // assigns every vector top-1, a per-cluster row_number keeps the 4
    // lowest ids — replays Pipeline.pipeClusterSample exactly
    // token-budget selection: inclusive running total over the
    // (quality desc, doc_id) order, integer 40% budget
    // quality-decile calibration: NTILE(10) over (q desc, doc_id)
    // replicated by the two-phase ordinal; dup flag from corpus-wide
    // md5 counts; min/max bound each decile (order-independent)
    "pipe_quality_decile" ->
      ("WITH d AS (SELECT doc_id, " + wsTok + " AS toks, " +
        "ROUND(LEAST((" + wsTok + ")/100.0, 1.0)*0.5 + " +
        "(1.0 - (CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS BIGINT))" +
        "/GREATEST(CAST(length(text) AS BIGINT), 1.0))*0.5, 4) AS q, " +
        "md5(text) AS h FROM documents), " +
        "hc AS (SELECT h, COUNT(*) AS cnt FROM d GROUP BY h), " +
        "r AS (SELECT d.doc_id, d.toks, d.q, hc.cnt, " +
        "CAST(NTILE(10) OVER (ORDER BY d.q DESC, d.doc_id) AS BIGINT) AS decile " +
        "FROM d JOIN hc USING (h)) " +
        "SELECT decile, COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS sum_tokens, " +
        "CAST(COUNT(CASE WHEN cnt > 1 THEN 1 END) AS BIGINT) AS n_dup_docs, " +
        "ROUND(MIN(q), 4) AS min_q, ROUND(MAX(q), 4) AS max_q " +
        "FROM r GROUP BY decile ORDER BY decile"),
    "pipe_token_budget" ->
      ("WITH d AS (SELECT doc_id, " + wsTok + " AS n_tokens, " +
        "ROUND(LEAST((" + wsTok + ")/100.0, 1.0)*0.5 + " +
        "(1.0 - (CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS BIGINT))" +
        "/GREATEST(CAST(length(text) AS BIGINT), 1.0))*0.5, 4) AS q FROM documents), " +
        "tot AS (SELECT SUM(n_tokens) AS t FROM d), " +
        "c AS (SELECT doc_id, n_tokens, SUM(n_tokens) OVER (ORDER BY q DESC, doc_id) AS cum FROM d) " +
        "SELECT doc_id, n_tokens, CAST(cum AS BIGINT) AS cum_tokens FROM c CROSS JOIN tot " +
        "WHERE cum <= t * 2 // 5 ORDER BY doc_id"),
    "pipe_cluster_sample" ->
      ("WITH emb0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        ivfQuantizerCtes("emb0") + ", " +
        "assign AS (SELECT vec_id, cid_c, CASE WHEN nc > 0 THEN " +
        "list_dot_product(e, c) * (1.0 / sqrt(nc)) ELSE 0.0 END AS score " +
        "FROM emb0 CROSS JOIN seeds), " +
        "cl AS (SELECT vec_id, cid_c AS cluster FROM (SELECT vec_id, cid_c, " +
        "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cid_c) AS rr " +
        "FROM assign) r WHERE rr = 1) " +
        "SELECT CAST(cluster AS BIGINT) AS cluster, vec_id, rank FROM (" +
        "SELECT cluster, vec_id, CAST(ROW_NUMBER() OVER " +
        "(PARTITION BY cluster ORDER BY vec_id) AS BIGINT) AS rank FROM cl) " +
        "WHERE rank <= 4 ORDER BY cluster, vec_id"),
    // shard manifest: same Knuth hash as pipe_shuffle, mod 16
    "pipe_shard_manifest" ->
      ("SELECT (((doc_id % 2147483648) * 2654435761) % 4294967296) % 16 AS shard, " +
        "CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(length(text)) AS BIGINT) AS n_chars " +
        "FROM documents GROUP BY 1 ORDER BY shard"),
    // split leakage: the text_bigrams kernel replica + the pipe_split
    // hash, distinct train set before the join, exact-DOUBLE rate
    "pipe_split_leakage" ->
      ("WITH d AS (SELECT doc_id, " +
        "(((doc_id % 2147483648) * 2654435761) % 4294967296) % 100 AS bucket, " +
        "regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "b AS (SELECT doc_id, bucket, UNNEST(list_transform(" +
        "generate_series(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1])) AS bigram FROM d), " +
        "tr AS (SELECT DISTINCT bigram FROM b WHERE bucket < 97), " +
        "te AS (SELECT DISTINCT doc_id, bigram FROM b WHERE bucket >= 99) " +
        "SELECT te.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams, " +
        "CAST(COUNT(tr.bigram) AS BIGINT) AS n_leaked, " +
        "ROUND(CAST(COUNT(tr.bigram) AS DOUBLE) / COUNT(*), 6) AS leak_rate " +
        "FROM te LEFT JOIN tr ON te.bigram = tr.bigram " +
        "GROUP BY te.doc_id ORDER BY te.doc_id"),
    // epoch planner: pure integer arithmetic (// is DuckDB's integral
    // division matching Spark's div); budget/cap constants in lockstep
    // with Pipeline.EpochBudget/MaxEpochs
    "pipe_epoch_plan" ->
      ("WITH t AS (SELECT source, CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0 " +
        "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) AS BIGINT) AS tokens " +
        "FROM documents GROUP BY source HAVING tokens > 0), " +
        "n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sources FROM t), " +
        "p AS (SELECT source, tokens, CAST(200000 // n_sources AS BIGINT) AS alloc " +
        "FROM t CROSS JOIN n), " +
        "e AS (SELECT source, tokens, alloc, " +
        "CAST(LEAST(4, (alloc + tokens - 1) // tokens) AS BIGINT) AS epochs FROM p), " +
        "a AS (SELECT source, tokens, alloc, epochs, " +
        "CAST(LEAST(alloc, epochs * tokens) AS BIGINT) AS achieved FROM e) " +
        "SELECT source, tokens, alloc, epochs, achieved, " +
        "CAST(alloc - achieved AS BIGINT) AS deficit FROM a ORDER BY source"),
    // DSIR selection: floor-log2 bits via bin-length (the T13 trick),
    // inner-join smoothing (out-of-target terms carry no evidence),
    // exact-integer score, constant top-100
    "pipe_dsir_select" ->
      ("WITH toks AS (SELECT doc_id, lang, " +
        "UNNEST(string_split_regex(trim(text), '\\s+')) AS word " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "cf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_c FROM toks GROUP BY word), " +
        "tgt AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_t FROM toks " +
        "WHERE lang = 'en' GROUP BY word), " +
        "tf AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf FROM toks " +
        "GROUP BY doc_id, word), " +
        "sc AS (SELECT doc_id, CAST(SUM(tf * (length(bin(n_t)) - length(bin(n_c)))) AS BIGINT) " +
        "AS score FROM tf JOIN tgt USING (word) JOIN cf USING (word) GROUP BY doc_id), " +
        "r AS (SELECT doc_id, score, ROW_NUMBER() OVER " +
        "(ORDER BY score DESC, doc_id) AS rn FROM sc) " +
        "SELECT doc_id, score, CAST(rn AS BIGINT) AS rn FROM r WHERE rn <= 100 ORDER BY rn"),
    "pipe_shuffle" ->
      ("SELECT doc_id, ((doc_id % 2147483648) * 2654435761) % 4294967296 AS shuffle_key, " +
        "CAST(ROW_NUMBER() OVER (ORDER BY ((doc_id % 2147483648) * 2654435761) % 4294967296, doc_id) " +
        "AS BIGINT) AS pos FROM documents ORDER BY pos"),
    "pipe_split" ->
      ("SELECT doc_id, (((doc_id % 2147483648) * 2654435761) % 4294967296) % 100 AS bucket, " +
        "CASE WHEN (((doc_id % 2147483648) * 2654435761) % 4294967296) % 100 < 97 THEN 'train' " +
        "WHEN (((doc_id % 2147483648) * 2654435761) % 4294967296) % 100 < 99 THEN 'validation' " +
        "ELSE 'test' END AS split FROM documents ORDER BY doc_id"),
    "pipe_mixture" ->
      ("SELECT doc_id, lang, rn FROM (SELECT doc_id, lang, " +
        "CASE lang WHEN 'en' THEN 80 WHEN 'de' THEN 40 WHEN 'es' THEN 40 " +
        "WHEN 'fr' THEN 20 WHEN 'zh' THEN 20 ELSE 0 END AS quota, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS rn " +
        "FROM documents) t WHERE rn <= quota ORDER BY doc_id"),
    "pipe_decontaminate" -> decontaminateSql,
    // MinHash-LSH corpus x eval collision join + exact word-set
    // Jaccard verification, per-corpus-doc rollup
    "pipe_fuzzy_decontaminate" ->
      (minhashCandSql +
        ", ws AS (SELECT doc_id, list_distinct(string_split_regex(lower(trim(text)), '\\s+')) " +
        "AS ws FROM base), " +
        "p AS (SELECT id_b AS doc_id, id_a AS eval_id, " +
        "CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE) / " +
        "CAST(len(list_distinct(wa.ws || wb.ws)) AS DOUBLE) AS jac_raw " +
        "FROM cand JOIN ws wa ON wa.doc_id = id_a JOIN ws wb ON wb.doc_id = id_b " +
        "WHERE id_a < 20 AND id_b >= 20) " +
        "SELECT doc_id, COUNT(*) AS n_eval_matches, MAX(ROUND(jac_raw, 4)) AS max_jaccard " +
        "FROM p WHERE jac_raw >= 0.5 GROUP BY 1 ORDER BY 1"),
    "pipe_e2e" -> pipeE2eSql,
    // the oracle reproduces the payload BUILDER's arithmetic; Spark's
    // values come from parsing the built container header bytes, so a
    // green row proves the parse round-trips the real binary layout
    "mm_decode_meta" ->
      ("WITH t AS (SELECT doc_id, text, octet_length(encode(text)) AS nb " +
        "FROM documents) " +
        "SELECT doc_id, " +
        "CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'wav' END AS format, " +
        "CAST(CASE WHEN doc_id % 2 = 0 THEN nb + 54 ELSE nb + 44 END AS BIGINT) AS n_bytes, " +
        "CAST(CASE WHEN doc_id % 2 = 0 THEN nb % 640 + 1 ELSE 0 END AS BIGINT) AS width, " +
        "CAST(CASE WHEN doc_id % 2 = 0 THEN (nb * 7) % 480 + 1 ELSE 0 END AS BIGINT) AS height, " +
        "CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 8000 * (1 << (nb % 3)) END AS BIGINT) AS sample_rate, " +
        "CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE nb END AS BIGINT) AS n_samples, " +
        "md5(text) AS checksum FROM t ORDER BY doc_id"),
    // content stats recomputed from the SOURCE bytes the builder
    // wrapped (docs are ASCII, so ascii(ch) is the byte value): a
    // aHash replica over the BMP content span (== the text bytes, the
    // invariant mm_content_stats proves): 64 equal index-span cells,
    // bit = exact-integer mean comparison, 4×16-bit band buckets,
    // Hamming ≤ 6 verified by counting differing bits
    "mm_phash_dedup" ->
      ("WITH base AS (SELECT doc_id, text FROM documents UNION ALL " +
        "SELECT doc_id + 100000, substr(text, 1, length(text) - 10) || 'XXXXXXXXXX' " +
        "FROM documents WHERE doc_id < 20), " +
        "docs AS (SELECT doc_id, text, length(text) AS n FROM base " +
        "WHERE length(text) >= 64), " +
        "b AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS i, " +
        "ascii(substr(text, CAST(i AS INT), 1)) AS v, n " +
        "FROM docs, UNNEST(range(1, length(text) + 1)) AS u(i)), " +
        "cells AS (SELECT doc_id, (i * 64) // n AS c, SUM(v) AS cs, " +
        "COUNT(*) AS cn, n FROM b GROUP BY doc_id, (i * 64) // n, n), " +
        "tot AS (SELECT doc_id, SUM(v) AS ts FROM b GROUP BY doc_id), " +
        "bits AS (SELECT c.doc_id, c.c, CASE WHEN c.cs * c.n > t.ts * c.cn " +
        "THEN 1 ELSE 0 END AS bit FROM cells c JOIN tot t USING (doc_id)), " +
        "bands AS (SELECT doc_id, c // 16 AS band, " +
        "SUM(bit * (1 << CAST(c % 16 AS INT))) AS key FROM bits GROUP BY 1, 2), " +
        "cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b " +
        "FROM bands a JOIN bands b2 ON a.band = b2.band AND a.key = b2.key " +
        "AND a.doc_id < b2.doc_id), " +
        "ham AS (SELECT cand.id_a, cand.id_b, " +
        "SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS d " +
        "FROM cand JOIN bits x ON x.doc_id = cand.id_a " +
        "JOIN bits y ON y.doc_id = cand.id_b AND y.c = x.c GROUP BY 1, 2) " +
        "SELECT id_a, id_b, CAST(d AS BIGINT) AS hamming FROM ham " +
        "WHERE d <= 6 ORDER BY id_a, id_b"),
    // match proves the Spark parser located exactly the content span
    // via the payload's own header fields
    "mm_content_stats" ->
      ("WITH c AS (SELECT doc_id, ascii(unnest(regexp_split_to_array(text, ''))) AS b " +
        "FROM documents WHERE length(text) > 0), " +
        "s AS (SELECT doc_id, COUNT(*) AS n, CAST(SUM(b) AS BIGINT) AS sm, " +
        "CAST(SUM(b * b) AS BIGINT) AS sq, CAST(MIN(b) AS BIGINT) AS mn, " +
        "CAST(MAX(b) AS BIGINT) AS mx FROM c GROUP BY doc_id) " +
        "SELECT d.doc_id, CASE WHEN d.doc_id % 2 = 0 THEN 'bmp' ELSE 'wav' END AS format, " +
        "COALESCE(s.n, 0) AS n_content, COALESCE(s.sm, 0) AS byte_sum, " +
        "COALESCE(s.sq, 0) AS byte_sumsq, COALESCE(s.mn, 0) AS min_byte, " +
        "COALESCE(s.mx, 0) AS max_byte " +
        "FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id ORDER BY d.doc_id"),
    // energy segmentation: 16 equal index-span cells (cell of 1-based
    // pos = (pos-1)*k // n), per-cell sum-of-squares vs the uniform
    // share by cross multiplication — exact integers end to end
    "mm_energy_segments" ->
      ("WITH c AS (SELECT doc_id, length(text) AS n, " +
        "ascii(unnest(regexp_split_to_array(text, ''))) AS b, " +
        "generate_subscripts(regexp_split_to_array(text, ''), 1) AS pos " +
        "FROM documents WHERE length(text) > 0), " +
        "cells AS (SELECT doc_id, n, ((pos - 1) * LEAST(16, n)) // n AS cell, " +
        "CAST(b AS BIGINT) AS b FROM c), " +
        "agg AS (SELECT doc_id, n, cell, SUM(b * b) AS sq, " +
        "CAST(COUNT(*) AS BIGINT) AS cl FROM cells GROUP BY 1, 2, 3), " +
        "tot AS (SELECT doc_id, SUM(sq) AS total FROM agg GROUP BY 1), " +
        "sc AS (SELECT agg.doc_id, n, cell, " +
        "CAST(sq * n - total * cl AS BIGINT) AS score " +
        "FROM agg JOIN tot USING (doc_id)), " +
        "p AS (SELECT doc_id, cell AS peak_cell, score AS peak_score FROM (" +
        "SELECT doc_id, cell, score, ROW_NUMBER() OVER (PARTITION BY doc_id " +
        "ORDER BY score DESC, cell) AS rn FROM sc) WHERE rn = 1), " +
        "g AS (SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_content, " +
        "CAST(COUNT(*) AS BIGINT) AS n_cells, " +
        "CAST(COUNT(CASE WHEN score > 0 THEN 1 END) AS BIGINT) AS n_loud " +
        "FROM sc GROUP BY 1) " +
        "SELECT g.doc_id, n_content, n_cells, n_loud, " +
        "CAST(peak_cell AS BIGINT) AS peak_cell, peak_score " +
        "FROM g JOIN p USING (doc_id) ORDER BY g.doc_id"),
    // PNG: the oracle replays the builder's geometry arithmetic and
    // recomputes content stats from the SOURCE bytes; Spark's values
    // come from parsing big-endian chunk framing + CRC-verified IHDR
    "mm_png_meta" ->
      ("WITH c AS (SELECT doc_id, ascii(unnest(regexp_split_to_array(text, ''))) AS b " +
        "FROM documents WHERE length(text) > 0), " +
        "s AS (SELECT doc_id, COUNT(*) AS n, CAST(SUM(b) AS BIGINT) AS sm FROM c GROUP BY doc_id), " +
        "t AS (SELECT doc_id, octet_length(encode(text)) AS nb FROM documents) " +
        "SELECT t.doc_id, 'png' AS format, CAST(nb + 57 AS BIGINT) AS n_bytes, " +
        "CAST(nb % 640 + 1 AS BIGINT) AS width, " +
        "CAST((nb * 7) % 480 + 1 AS BIGINT) AS height, " +
        "COALESCE(s.n, 0) AS n_content, COALESCE(s.sm, 0) AS byte_sum " +
        "FROM t LEFT JOIN s ON t.doc_id = s.doc_id ORDER BY t.doc_id"),
    "mm_frame_sample" ->
      ("WITH t AS (SELECT doc_id, text, octet_length(encode(text)) % 16 + 1 AS n_frames " +
        "FROM documents), k AS (SELECT doc_id, text, n_frames, LEAST(n_frames, 4) AS k FROM t), " +
        "f AS (SELECT doc_id, text, n_frames, k, UNNEST(generate_series(0, k-1)) AS i FROM k) " +
        "SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames, " +
        "CAST(FLOOR(i * n_frames / k) AS BIGINT) AS frame_idx, " +
        "md5(text || ':' || CAST(FLOOR(i * n_frames / k) AS BIGINT)) AS frame_checksum " +
        "FROM f ORDER BY doc_id, frame_idx"),
    "mm_resize_plan" ->
      ("SELECT doc_id, CAST(width AS BIGINT) AS width, CAST(height AS BIGINT) AS height, " +
        "GREATEST(CAST(FLOOR(width * LEAST(224.0/width, LEAST(224.0/height, 1.0))) AS BIGINT), 1) AS out_w, " +
        "GREATEST(CAST(FLOOR(height * LEAST(224.0/width, LEAST(224.0/height, 1.0))) AS BIGINT), 1) AS out_h " +
        "FROM (SELECT doc_id, octet_length(encode(text)) % 640 + 1 AS width, " +
        "(octet_length(encode(text)) * 7) % 480 + 1 AS height FROM documents " +
        "WHERE doc_id % 2 = 0) t ORDER BY doc_id"),
    // ViT patch grid: replay the BMP geometry construction, then the
    // row-major 16x16 grid with edge-clamped extents, first 8 patches
    "mm_patch_grid" ->
      ("WITH g AS (SELECT doc_id, CAST(octet_length(encode(text)) % 640 + 1 AS BIGINT) AS width, " +
        "CAST((octet_length(encode(text)) * 7) % 480 + 1 AS BIGINT) AS height FROM documents " +
        "WHERE doc_id % 2 = 0), " +
        "d AS (SELECT doc_id, width, height, (width + 15) // 16 AS grid_cols, " +
        "(height + 15) // 16 AS grid_rows FROM g), " +
        "e AS (SELECT d.*, grid_cols * grid_rows AS n_patches, " +
        "UNNEST(generate_series(0, CAST(LEAST(grid_cols * grid_rows - 1, 7) AS BIGINT))) AS patch_id FROM d) " +
        "SELECT doc_id, width, height, n_patches, patch_id, " +
        "(patch_id % grid_cols) * 16 AS x0, (patch_id // grid_cols) * 16 AS y0, " +
        "LEAST(16, width - (patch_id % grid_cols) * 16) AS pw, " +
        "LEAST(16, height - (patch_id // grid_cols) * 16) AS ph " +
        "FROM e ORDER BY doc_id, patch_id"),
    "lake_roundtrip" -> LakeOps.liAggOracle.format("lineitem"),
    "lake_optimize" -> LakeOps.liAggOracle.format("lineitem"),
    "lake_zorder" -> LakeOps.liAggOracle.format("lineitem"),
    "lake_restore" -> LakeOps.liAggOracle.format("lineitem"),
    // data intact AFTER reclaim + reclaimed-file accounting: count
    // parameterized from the same fixture constant the query uses,
    // identity (reclaimed paths == tombstoned paths) asserted in the
    // query and surfaced as a hash-checked boolean
    "lake_vacuum" ->
      ("SELECT l_returnflag, COUNT(*) AS n, ROUND(SUM(l_extendedprice),2) AS sum_price, " +
        "ROUND(SUM(l_quantity),2) AS sum_qty, " +
        s"CAST(${graft.operators.LakeOps.VacuumFixtureFiles} AS BIGINT) AS reclaimed_files, " +
        "TRUE AS reclaim_identity " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    // seed evens + INSERT odds = whole table; OVERWRITE keeps only 'R'
    "lake_insert" ->
      ("SELECT l_returnflag, COUNT(*) AS n, ROUND(SUM(l_extendedprice),2) AS sum_price, " +
        "ROUND(SUM(l_quantity),2) AS sum_qty FROM lineitem WHERE l_returnflag = 'R' " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    // dynamic file pruning must drop no matching rows: the pruned,
    // dim-driven join aggregates identically to the unpruned plan
    "lake_dfp" ->
      ("SELECT l_returnflag, COUNT(*) AS n, ROUND(SUM(l_extendedprice),2) AS sum_price " +
        "FROM lineitem JOIN (SELECT o_orderkey FROM orders " +
        "WHERE o_totalprice > 400000) o ON l_orderkey = o_orderkey " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    // incremental MV == full recompute: replay the DELETE, UPDATE,
    // and append against the seed and aggregate from scratch
    "lake_mv_incremental" ->
      ("WITH base AS (SELECT l_orderkey, l_returnflag, " +
        "CAST(ROUND(l_quantity * 100) AS BIGINT) AS qty_c FROM lineitem), " +
        "s1 AS (SELECT * FROM base WHERE l_orderkey % 7 <> 0), " +
        "s2 AS (SELECT l_orderkey, l_returnflag, " +
        "CASE WHEN l_orderkey % 5 = 0 THEN qty_c + 100 ELSE qty_c END AS qty_c FROM s1), " +
        "s3 AS (SELECT * FROM s2 UNION ALL " +
        "SELECT l_orderkey, l_returnflag, qty_c * 2 AS qty_c FROM base " +
        "WHERE l_orderkey % 11 = 0) " +
        "SELECT l_returnflag, COUNT(*) AS n_rows, " +
        "CAST(SUM(qty_c) AS BIGINT) AS sum_qty_c " +
        "FROM s3 GROUP BY l_returnflag ORDER BY l_returnflag"),
    // join view: fold fact deltas, then rebuild on the dim change —
    // must equal the from-scratch fact'⋈dim' aggregate
    // COUNT DISTINCT view: the oracle replays the net table state
    // (partial delete, full delete, shifted append) then counts
    // distinct orders per flag from scratch
    "lake_mv_distinct" ->
      ("WITH base AS (SELECT l_orderkey, l_returnflag, l_linenumber FROM lineitem), " +
        "s1 AS (SELECT * FROM base WHERE NOT (l_linenumber = 1 AND l_orderkey % 3 = 0)), " +
        "s2 AS (SELECT * FROM s1 WHERE l_orderkey % 7 <> 0), " +
        "s3 AS (SELECT * FROM s2 UNION ALL " +
        "SELECT l_orderkey + 10000000, l_returnflag, l_linenumber FROM base " +
        "WHERE l_orderkey % 11 = 0) " +
        "SELECT l_returnflag, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_distinct " +
        "FROM s3 GROUP BY l_returnflag ORDER BY l_returnflag"),
    "lake_mv_outer_join" ->
      ("WITH fact AS (SELECT l_orderkey, CAST(ROUND(l_quantity * 100) AS BIGINT) " +
        "AS qty_c FROM lineitem), " +
        "f1 AS (SELECT * FROM fact WHERE l_orderkey % 7 <> 0), " +
        "f2 AS (SELECT * FROM f1 UNION ALL SELECT l_orderkey, qty_c * 3 AS qty_c " +
        "FROM fact WHERE l_orderkey % 11 = 0), " +
        "dim0 AS (SELECT o_orderkey AS l_orderkey, o_orderpriority FROM orders " +
        "WHERE o_orderkey % 2 = 0), " +
        "dim1 AS (SELECT l_orderkey, CASE WHEN o_orderpriority = '5-LOW' " +
        "THEN '4-NOT SPECIFIED' ELSE o_orderpriority END AS o_orderpriority " +
        "FROM dim0 WHERE l_orderkey % 6 <> 0) " +
        "SELECT COALESCE(o_orderpriority, '<unmatched>') AS o_orderpriority, " +
        "COUNT(*) AS n_rows, CAST(SUM(qty_c) AS BIGINT) AS sum_qty_c " +
        "FROM f2 LEFT JOIN dim1 USING (l_orderkey) " +
        "GROUP BY 1 ORDER BY o_orderpriority"),
    "lake_mv_join" ->
      ("WITH fact AS (SELECT l_orderkey, CAST(ROUND(l_quantity * 100) AS BIGINT) " +
        "AS qty_c FROM lineitem), " +
        "f1 AS (SELECT * FROM fact WHERE l_orderkey % 7 <> 0), " +
        "f2 AS (SELECT * FROM f1 UNION ALL SELECT l_orderkey, qty_c * 3 AS qty_c " +
        "FROM fact WHERE l_orderkey % 11 = 0), " +
        "dim AS (SELECT o_orderkey AS l_orderkey, CASE WHEN o_orderpriority = '5-LOW' " +
        "THEN '4-NOT SPECIFIED' ELSE o_orderpriority END AS o_orderpriority FROM orders) " +
        "SELECT o_orderpriority, COUNT(*) AS n_rows, CAST(SUM(qty_c) AS BIGINT) AS sum_qty_c " +
        "FROM f2 JOIN dim USING (l_orderkey) " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "lake_mv_avg" ->
      ("WITH base AS (SELECT l_orderkey, l_returnflag, " +
        "CASE WHEN l_orderkey % 3 = 0 THEN NULL " +
        "ELSE CAST(ROUND(l_quantity * 100) AS BIGINT) END AS qty_c FROM lineitem), " +
        "s1 AS (SELECT * FROM base WHERE l_orderkey % 7 <> 0), " +
        "s3 AS (SELECT * FROM s1 UNION ALL " +
        "SELECT l_orderkey, l_returnflag, qty_c * 2 AS qty_c FROM base " +
        "WHERE l_orderkey % 11 = 0) " +
        "SELECT l_returnflag, COUNT(qty_c) AS n_vals, " +
        "ROUND(AVG(qty_c),4) AS avg_qty_c " +
        "FROM s3 GROUP BY l_returnflag ORDER BY l_returnflag"),
    "lake_mv_minmax" ->
      ("WITH base AS (SELECT l_orderkey, l_returnflag, " +
        "CAST(ROUND(l_quantity * 100) AS BIGINT) AS qty_c FROM lineitem), " +
        "s1 AS (SELECT * FROM base WHERE qty_c <= 4000), " +
        "s3 AS (SELECT * FROM s1 UNION ALL " +
        "SELECT l_orderkey, l_returnflag, qty_c + 50 AS qty_c FROM base " +
        "WHERE l_orderkey % 13 = 0) " +
        "SELECT l_returnflag, COUNT(*) AS n_rows, " +
        "MIN(qty_c) AS min_qty_c, MAX(qty_c) AS max_qty_c " +
        "FROM s3 GROUP BY l_returnflag ORDER BY l_returnflag"),
    // untouched partitions keep source rows; the 'R' partition is
    // replaced by the doubled-quantity backfill
    "lake_dynamic_overwrite" ->
      ("WITH src AS (SELECT l_returnflag, l_quantity, l_extendedprice " +
        "FROM lineitem WHERE l_returnflag <> 'R' " +
        "UNION ALL SELECT l_returnflag, l_quantity * 2 AS l_quantity, " +
        "l_extendedprice FROM lineitem WHERE l_returnflag = 'R') " +
        "SELECT l_returnflag, COUNT(*) AS n, ROUND(SUM(l_quantity),2) AS sum_qty, " +
        "ROUND(SUM(l_extendedprice),2) AS sum_price " +
        "FROM src GROUP BY l_returnflag ORDER BY l_returnflag"),
    // the bloom row filter is advisory (false positives only); the
    // exact join must make the result identical to the plain plan
    "lake_bloom_join" ->
      ("SELECT l_returnflag, COUNT(*) AS n, ROUND(SUM(l_extendedprice),2) AS sum_price " +
        "FROM lineitem JOIN (SELECT o_orderkey FROM orders " +
        "WHERE o_orderpriority = '1-URGENT') o ON l_orderkey = o_orderkey " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    // symlink manifest (Delta GENERATE parity): an EXTERNAL parquet
    // reader over the manifest-listed paths must see exactly the
    // post-OPTIMIZE post-DELETE snapshot
    "lake_manifest" ->
      ("SELECT COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS sum_qty, " +
        "ROUND(SUM(l_extendedprice), 2) AS sum_price " +
        "FROM lineitem WHERE l_orderkey % 3 <> 0"),
    // manifest MATERIALIZE over LIVE deletion vectors: the external
    // read must miss the MoR DELETE's masked rows and see the MoR
    // UPDATE's post-images exactly once (update hits surviving rows
    // only — a %35 key is deleted, never resurrected by a post-image)
    "lake_manifest_dv" ->
      ("SELECT COUNT(*) AS n, " +
        "ROUND(SUM(CASE WHEN l_orderkey % 7 = 0 THEN l_quantity + 100 " +
        "ELSE l_quantity END), 2) AS sum_qty, " +
        "ROUND(SUM(l_extendedprice), 2) AS sum_price " +
        "FROM lineitem WHERE l_orderkey % 5 <> 0"),
    // histogram-steered runtime-filter read: whichever path the cost
    // model picks (plain / bloom / DFP per dim shape), the joined
    // aggregate must equal plain-SQL arithmetic — advisory filters
    // affect cost, never answers
    "lake_dfp_cost" ->
      ("WITH mk AS (SELECT MAX(p_partkey) AS m FROM part) " +
        "SELECT dim_set, COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS sum_qty " +
        "FROM (SELECT 'full' AS dim_set, l_quantity FROM lineitem " +
        "JOIN part ON l_partkey = p_partkey " +
        "UNION ALL SELECT 'quarter', l_quantity FROM lineitem " +
        "JOIN part ON l_partkey = p_partkey CROSS JOIN mk WHERE p_partkey * 4 < m " +
        "UNION ALL SELECT 'narrow', l_quantity FROM lineitem " +
        "JOIN part ON l_partkey = p_partkey WHERE p_partkey < 40) " +
        "GROUP BY dim_set ORDER BY dim_set"),
    // Iceberg v2 export: the external read must miss the CoW delete's
    // rows (files rewritten), drop the MoR delete's rows to position
    // deletes, see the MoR update's post-images once, and recover the
    // partition column from the manifest partition struct
    // Delta-log export replay: same DML bracket as the Iceberg oracle
    // (CoW %3 delete, MoR %5 delete, MoR %7 quantity update), read back
    // EXTERNALLY from _delta_log alone
    "lake_delta_export" ->
      ("SELECT l_returnflag, COUNT(*) AS n, " +
        "ROUND(SUM(CASE WHEN l_orderkey % 7 = 0 THEN l_quantity + 100 " +
        "ELSE l_quantity END), 2) AS sum_qty, " +
        "ROUND(SUM(l_extendedprice), 2) AS sum_price " +
        "FROM lineitem WHERE l_orderkey % 3 <> 0 AND l_orderkey % 5 <> 0 " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    "lake_iceberg_export" ->
      ("SELECT l_returnflag, COUNT(*) AS n, " +
        "ROUND(SUM(CASE WHEN l_orderkey % 7 = 0 THEN l_quantity + 100 " +
        "ELSE l_quantity END), 2) AS sum_qty, " +
        "ROUND(SUM(l_extendedprice), 2) AS sum_price " +
        "FROM lineitem WHERE l_orderkey % 3 <> 0 AND l_orderkey % 5 <> 0 " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    // Iceberg ATTACH + RESYNC (the reverse direction): same DML
    // bracket read through the ENGINE over adopted manifests, then
    // the source's post-attach %11 MoR delete arrives via
    // resyncAttached — the attached table must track the source's
    // linear history
    "lake_iceberg_attach" ->
      ("SELECT l_returnflag, COUNT(*) AS n, " +
        "ROUND(SUM(CASE WHEN l_orderkey % 7 = 0 THEN l_quantity + 100 " +
        "ELSE l_quantity END), 2) AS sum_qty, " +
        "ROUND(SUM(l_extendedprice), 2) AS sum_price " +
        "FROM lineitem WHERE l_orderkey % 3 <> 0 AND l_orderkey % 5 <> 0 " +
        "AND l_orderkey % 11 <> 0 " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    // id = create-time global key rank (deterministic two-file sorted
    // write); OPTIMIZE + DELETE must both preserve surviving ids
    "lake_rowtracking" ->
      ("WITH base AS (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 200), " +
        "ids AS (SELECT o_orderkey, ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS row_id " +
        "FROM base) SELECT o_orderkey, row_id FROM ids " +
        "WHERE o_orderkey % 3 <> 0 ORDER BY o_orderkey"),
    // identity = start + step*(rank-1) in sorted row order for the
    // create batch; the append batch resumes past the create batch's
    // last value (mark 82 = 10 + 3*24), proving the cross-commit mark
    "lake_identity" ->
      ("WITH a AS (SELECT n_name, 7 + 3*ROW_NUMBER() OVER (ORDER BY n_name) AS n_seq " +
        "FROM nation), " +
        "b AS (SELECT r_name AS n_name, 82 + 3*ROW_NUMBER() OVER (ORDER BY r_name) AS n_seq " +
        "FROM region) " +
        "SELECT n_seq, n_name FROM (SELECT * FROM a UNION ALL SELECT * FROM b) t " +
        "ORDER BY n_seq"),
    "lake_timetravel" -> LakeOps.liAggOracle.format("lineitem"),
    // the tag pinned the PRISTINE version through delete/MoR/OPTIMIZE/
    // vacuum-0/log-cleanup; its read equals the raw table
    "lake_tag" -> LakeOps.liAggOracle.format("lineitem"),
    // branch merge-back: the linear-history equivalent of
    // (fork → CoW delete R → MoR delete qty>45 → append keys<50)
    // on the branch plus a commuting parent append of keys [50,100)
    // governed read: DuckDB applies the same row filter and mask to
    // the raw parquet (sum_price sums the MASKED expression)
    "lake_row_filter" ->
      ("SELECT l_returnflag, COUNT(*) AS n, " +
        "ROUND(SUM(CAST(l_orderkey % 100 AS DOUBLE)),2) AS sum_price, " +
        "ROUND(SUM(l_quantity),2) AS sum_qty FROM lineitem " +
        "WHERE l_quantity <= 45 GROUP BY l_returnflag ORDER BY l_returnflag"),
    // CLUSTER BY AUTO (L120): layout choice must never change results
    "lake_cluster_auto" ->
      ("SELECT l_returnflag, COUNT(*) AS n, " +
        "ROUND(SUM(l_extendedprice),2) AS sum_price FROM lineitem " +
        "WHERE l_quantity > 45 GROUP BY l_returnflag ORDER BY l_returnflag"),
    // VARIANT shredding (L119): the payload was constructed from the
    // typed source columns, so the oracle recomputes from them raw
    "lake_variant_shred" ->
      ("SELECT source, COUNT(*) AS n, " +
        "CAST(SUM(n_chars) AS BIGINT) AS sum_chars FROM documents " +
        "WHERE lang <> 'de' AND n_chars > 500 " +
        "GROUP BY source ORDER BY source"),
    "lake_branch" -> LakeOps.liAggOracle.format(
      "(SELECT * FROM lineitem WHERE l_returnflag <> 'R' AND l_quantity <= 45 " +
        "UNION ALL SELECT * FROM lineitem WHERE l_orderkey < 50 " +
        "UNION ALL SELECT * FROM lineitem " +
        "WHERE l_orderkey >= 50 AND l_orderkey < 100)"),
    // the linear history: branch's R-partition delete + parent's
    // A-partition delete + both appends (rebase adopts, merge lands)
    "lake_rebase" -> LakeOps.liAggOracle.format(
      "(SELECT * FROM lineitem " +
        "WHERE NOT (l_returnflag = 'R' AND l_quantity > 40) " +
        "AND NOT (l_returnflag = 'A' AND l_quantity > 45) " +
        "UNION ALL SELECT * FROM lineitem WHERE l_orderkey < 50 " +
        "UNION ALL SELECT * FROM lineitem " +
        "WHERE l_orderkey >= 50 AND l_orderkey < 100)"),
    // the auditor branch of the principal-bound policy: filter
    // qty<=45, mask = identity (a broken binding takes the ELSE
    // branch — qty<=20 and zeroed prices — and hash-mismatches)
    "lake_principal" -> LakeOps.liAggOracle.format(
      "(SELECT * FROM lineitem WHERE l_quantity <= 45)"),
    "lake_delete" -> LakeOps.liAggOracle.format(
      "(SELECT * FROM lineitem WHERE l_returnflag <> 'R') t"),
    "lake_delete_mor" -> LakeOps.liAggOracle.format(
      "(SELECT * FROM lineitem WHERE l_returnflag <> 'R') t"),
    "lake_update" ->
      ("SELECT l_returnflag, ROUND(SUM(l_discount),4) AS sum_disc, COUNT(*) AS n FROM (" +
        "SELECT l_returnflag, CASE WHEN l_returnflag='R' THEN 0.0 ELSE l_discount END " +
        "AS l_discount FROM lineitem) t GROUP BY l_returnflag ORDER BY l_returnflag"),
    "lake_update_mor" ->
      ("SELECT l_returnflag, ROUND(SUM(l_discount),4) AS sum_disc, COUNT(*) AS n FROM (" +
        "SELECT l_returnflag, CASE WHEN l_returnflag='R' THEN 0.0 ELSE l_discount END " +
        "AS l_discount FROM lineitem) t GROUP BY l_returnflag ORDER BY l_returnflag"),
    // catalog UPDATE through spark.sql — same planner and observable
    // contract as lake_update, SQL entry point (L94)
    "lake_rlo_update" ->
      ("SELECT l_returnflag, ROUND(SUM(l_discount),4) AS sum_disc, COUNT(*) AS n FROM (" +
        "SELECT l_returnflag, CASE WHEN l_returnflag='R' THEN 0.0 ELSE l_discount END " +
        "AS l_discount FROM lineitem) t GROUP BY l_returnflag ORDER BY l_returnflag"),
    // catalog UPDATE in merge-on-read mode: DV marks + post-images (L97)
    "lake_rlo_update_mor" ->
      ("SELECT l_returnflag, ROUND(SUM(l_discount),4) AS sum_disc, COUNT(*) AS n FROM (" +
        "SELECT l_returnflag, CASE WHEN l_returnflag='R' THEN 0.0 ELSE l_discount END " +
        "AS l_discount FROM lineitem) t GROUP BY l_returnflag ORDER BY l_returnflag"),
    // transaction squash: CREATE staged pre-DML, DELETE+UPDATE land
    // atomically; exact integer cents on both sides (L96)
    "lake_txn" ->
      ("SELECT side, n, total_cents FROM (" +
        "SELECT 'base' AS side, COUNT(*) AS n, " +
        "CAST(SUM(CAST(ROUND((CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2 " +
        "ELSE o_totalprice END) * 100) AS BIGINT)) AS BIGINT) AS total_cents " +
        "FROM orders WHERE o_orderstatus <> 'F' " +
        "UNION ALL " +
        "SELECT 'sel' AS side, COUNT(*) AS n, " +
        "CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents " +
        "FROM orders WHERE o_totalprice > 300000) u ORDER BY side"),
    "lake_merge" ->
      ("WITH src AS (SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "ROUND(o_totalprice*2,2) AS o_totalprice, o_orderdate, o_orderpriority " +
        "FROM orders WHERE o_orderkey < 100 UNION ALL " +
        "SELECT o_orderkey+10000000, o_custkey, o_orderstatus, o_totalprice, " +
        "o_orderdate, o_orderpriority FROM orders WHERE o_orderkey < 50), " +
        "merged AS (SELECT * FROM orders WHERE o_orderkey NOT IN " +
        "(SELECT o_orderkey FROM src) UNION ALL SELECT * FROM src) " +
        "SELECT COUNT(*) AS n, ROUND(SUM(o_totalprice),2) AS total FROM merged"),
    // catalog MERGE through spark.sql: identical final state to lake_merge (L94)
    "lake_rlo_merge" ->
      ("WITH src AS (SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "ROUND(o_totalprice*2,2) AS o_totalprice, o_orderdate, o_orderpriority " +
        "FROM orders WHERE o_orderkey < 100 UNION ALL " +
        "SELECT o_orderkey+10000000, o_custkey, o_orderstatus, o_totalprice, " +
        "o_orderdate, o_orderpriority FROM orders WHERE o_orderkey < 50), " +
        "merged AS (SELECT * FROM orders WHERE o_orderkey NOT IN " +
        "(SELECT o_orderkey FROM src) UNION ALL SELECT * FROM src) " +
        "SELECT COUNT(*) AS n, ROUND(SUM(o_totalprice),2) AS total FROM merged"),
    "lake_merge_composite" ->
      ("WITH base AS (SELECT l_orderkey, l_linenumber, COUNT(*) AS n_lines, " +
        "SUM(l_quantity) AS qty FROM lineitem GROUP BY 1,2), " +
        "src AS (SELECT l_orderkey, l_linenumber, n_lines, qty*2 AS qty FROM base " +
        "WHERE l_orderkey < 100 UNION ALL SELECT l_orderkey+10000000 AS l_orderkey, " +
        "l_linenumber, n_lines, qty FROM base WHERE l_orderkey < 50), " +
        "merged AS (SELECT * FROM base t WHERE NOT EXISTS (SELECT 1 FROM src s " +
        "WHERE s.l_orderkey=t.l_orderkey AND s.l_linenumber=t.l_linenumber) " +
        "UNION ALL SELECT * FROM src) " +
        "SELECT COUNT(*) AS n, ROUND(SUM(qty),2) AS sum_qty FROM merged"),
    "lake_merge_predicate" ->
      ("WITH base AS (SELECT o_orderkey, o_custkey, " +
        "CAST(ROUND(o_totalprice*100) AS BIGINT) AS price_c FROM orders), " +
        "src AS (SELECT o_orderkey, o_custkey, CASE WHEN o_orderkey % 2 = 0 " +
        "THEN price_c + 1000 ELSE price_c - 1000 END AS price_c FROM base " +
        "WHERE o_orderkey < 2000 UNION ALL SELECT o_orderkey + 10000000, " +
        "o_custkey, price_c FROM base WHERE o_orderkey < 500), " +
        "merged AS (SELECT t.o_orderkey, t.o_custkey, CASE WHEN s.o_orderkey " +
        "IS NOT NULL THEN s.price_c ELSE t.price_c END AS price_c FROM base t " +
        "LEFT JOIN src s ON t.o_orderkey = s.o_orderkey AND s.price_c > t.price_c " +
        "UNION ALL SELECT s.o_orderkey, s.o_custkey, s.price_c FROM src s " +
        "WHERE NOT EXISTS (SELECT 1 FROM base t WHERE t.o_orderkey = s.o_orderkey " +
        "AND s.price_c > t.price_c)) " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(price_c) AS BIGINT) AS sum_price FROM merged"),
    "lake_partition_prune" ->
      ("SELECT l_linestatus, COUNT(*) AS n, ROUND(SUM(l_quantity),2) AS sum_qty " +
        "FROM lineitem WHERE l_returnflag='R' GROUP BY l_linestatus ORDER BY l_linestatus"),
    "lake_data_skipping" ->
      ("SELECT COUNT(*) AS n, ROUND(SUM(l_quantity),2) AS sum_qty FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '2000-01-01'"),
    "lake_history" ->
      ("SELECT CAST(v AS BIGINT) AS version, op AS operation FROM (VALUES " +
        "(0,'CREATE TABLE AS SELECT'),(1,'DELETE'),(2,'OPTIMIZE')) t(v, op) " +
        "ORDER BY version"))
}
