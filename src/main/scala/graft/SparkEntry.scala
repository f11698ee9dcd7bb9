package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.analytics.RelationalOps
import graft.ops.{CurationOps, DedupOps, ExtractQueries, MultimodalOps, SamplingOps, TextOps, VectorOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries cover SURVEY §2's operator inventory (scan/filter/project P3-P6,
  * aggregations A1-A8, sorts/limits/set-ops O1-O5, joins J1-J3, windows,
  * the extraction core F1-F10/C1-C5/G1-G6 via ExtractQueries) plus the
  * training-data operators (dedup, similarity search, text analysis,
  * multimodal plumbing). Every SQL-expressible query has a DuckDB oracle
  * with matching column names and a deterministic ORDER BY.
  */
object SparkEntry {

  /** Flagship: full extraction over a docs table derived from the sf0.001
    * documents test table; driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    ExtractQueries.extractFull(spark, "/root/testdata/sf0.001")

  /** Every driver query, listed once: its name, the query, and the DuckDB
    * oracle SQL that checks it (`None` where the result is not
    * SQL-expressible).
    */
  private def registry: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    // extraction core over driver data
    ("x1_chunk_sections", ExtractQueries.chunkSectionCounts _,
      Some(ExtractQueries.chunkSectionCountsSql)),
    ("x2_extract_full", ExtractQueries.extractFull _, Some(ExtractQueries.extractFullSql)),
    ("x3_extract_spans", ExtractQueries.extractSpans _, Some(ExtractQueries.extractSpansSql)),
    ("x4_rule_fields", ExtractQueries.ruleFields _, Some(ExtractQueries.ruleFieldsSql)),
    ("x5_block_classify", ExtractQueries.blockClassify _, Some(ExtractQueries.blockClassifySql)),
    ("a3_signature_stats", ExtractQueries.signatureStats _, None),
    ("a4_usage_snapshot", ExtractQueries.usageSnapshot _, None),
    ("a4b_usage_counters", ExtractQueries.usageCounters _, Some(ExtractQueries.usageCountersSql)),
    ("a5_rules_stats", ExtractQueries.rulesStats _, Some(ExtractQueries.rulesStatsSql)),
    ("a6_field_accuracy", ExtractQueries.fieldAccuracy _, Some(ExtractQueries.fieldAccuracySql)),
    ("a7_eval_prf", ExtractQueries.evalPrf _, Some(ExtractQueries.evalPrfSql)),
    // relational / repository analytics
    ("q1_pricing_summary", RelationalOps.q1PricingSummary _, Some(RelationalOps.q1Sql)),
    ("q2_top_customers", RelationalOps.q2TopCustomers _, Some(RelationalOps.q2Sql)),
    ("q3_region_revenue", RelationalOps.q3RegionRevenue _, Some(RelationalOps.q3Sql)),
    ("q4_filter_project", RelationalOps.q4FilterProject _, Some(RelationalOps.q4Sql)),
    ("q5_distinct", RelationalOps.q5Distinct _, Some(RelationalOps.q5Sql)),
    ("q6_window_top_order", RelationalOps.q6WindowTopOrder _, Some(RelationalOps.q6Sql)),
    ("q7_eval_ratios", RelationalOps.q7EvalRatios _, Some(RelationalOps.q7Sql)),
    ("q8_events_daily", RelationalOps.q8EventsDaily _, Some(RelationalOps.q8Sql)),
    ("q9_orders_by_month", RelationalOps.q9OrdersByMonth _, Some(RelationalOps.q9Sql)),
    ("q10_anti_join", RelationalOps.q10AntiJoin _, Some(RelationalOps.q10Sql)),
    ("q11_semi_join", RelationalOps.q11SemiJoin _, Some(RelationalOps.q11Sql)),
    ("q12_fact_join", RelationalOps.q12FactJoin _, Some(RelationalOps.q12Sql)),
    ("p3_library_search", RelationalOps.p3LibrarySearch _, Some(RelationalOps.p3Sql)),
    ("p1_doc_lookup", RelationalOps.p1DocLookup _, Some(RelationalOps.p1Sql)),
    ("p5_retention", RelationalOps.p5Retention _, Some(RelationalOps.p5Sql)),
    ("a2_repo_stats", RelationalOps.a2RepoStats _, Some(RelationalOps.a2Sql)),
    // dedup
    ("d1_exact_dedup", DedupOps.exactDedup _, Some(DedupOps.exactDedupSql)),
    ("d2_ngram_jaccard", DedupOps.ngramJaccardPairs _, Some(DedupOps.ngramJaccardSql)),
    ("d3_minhash", DedupOps.minhash _, Some(DedupOps.minhashSql)),
    ("d4_lsh_pairs", DedupOps.lshPairs _, Some(DedupOps.lshPairsSql)),
    ("d5_simhash", DedupOps.simhash _, Some(DedupOps.simhashSql)),
    ("d8_lsh_clusters", DedupOps.lshClusters _, Some(DedupOps.lshClustersSql)),
    ("d6_embed_neardup", DedupOps.embedNearDup _, Some(DedupOps.embedNearDupSql)),
    ("d7_lsh_neardup", DedupOps.lshNearDup _, Some(DedupOps.lshNearDupSql)),
    ("d9_decontaminate", DedupOps.decontaminate _, Some(DedupOps.decontaminateSql)),
    ("d10_boilerplate", DedupOps.boilerplate _, Some(DedupOps.boilerplateSql)),
    ("d11_semdedup", DedupOps.semDedup _, Some(DedupOps.semDedupSql)),
    // similarity search
    ("v1_ann_topk", VectorOps.annTopK _, Some(VectorOps.annTopKSql)),
    ("v2_lsh_buckets", VectorOps.lshBuckets _, Some(VectorOps.lshBucketsSql)),
    ("v4_lsh_ann_topk", VectorOps.lshAnnTopK _, Some(VectorOps.lshAnnTopKSql)),
    ("v3_cluster_stats", VectorOps.clusterStats _, Some(VectorOps.clusterStatsSql)),
    ("v5_ivf_topk", VectorOps.ivfTopK _, Some(VectorOps.ivfTopKSql)),
    ("v6_kmeans", VectorOps.kmeansRefine _, Some(VectorOps.kmeansRefineSql)),
    // text analysis
    ("t1_langid", TextOps.langId _, Some(TextOps.langIdSql)),
    ("c1_curation_funnel", CurationOps.curationFunnel _, Some(CurationOps.curationFunnelSql)),
    ("c2_curated_docs", CurationOps.curatedDocs _, Some(CurationOps.curatedDocsSql)),
    ("c3_curated_mixture", CurationOps.curatedMixture _, Some(CurationOps.curatedMixtureSql)),
    ("t2_quality", TextOps.quality _, Some(TextOps.qualitySql)),
    ("t3_token_count", TextOps.tokenCount _, Some(TextOps.tokenCountSql)),
    ("t4_fingerprint", TextOps.fingerprint _, Some(TextOps.fingerprintSql)),
    ("t5_repetition", TextOps.repetition _, Some(TextOps.repetitionSql)),
    ("t6_vocab", TextOps.vocab _, Some(TextOps.vocabSql)),
    ("t7_pii_scrub", TextOps.piiScrub _, Some(TextOps.piiScrubSql)),
    ("t8_rarity", TextOps.rarity _, Some(TextOps.raritySql)),
    ("t9_bigram_merge", TextOps.bigramMerge _, Some(TextOps.bigramMergeSql)),
    // dataset mixing / sampling
    ("s1_hash_sample", SamplingOps.hashSample _, Some(SamplingOps.hashSampleSql)),
    ("s2_mixture_quota", SamplingOps.mixtureQuota _, Some(SamplingOps.mixtureQuotaSql)),
    ("s3_temperature_weights", SamplingOps.temperatureWeights _,
      Some(SamplingOps.temperatureWeightsSql)),
    ("s4_shard_shuffle", SamplingOps.shardShuffle _, Some(SamplingOps.shardShuffleSql)),
    ("s5_split_manifest", SamplingOps.splitManifest _, Some(SamplingOps.splitManifestSql)),
    ("s6_dsir_weights", SamplingOps.dsirWeights _, Some(SamplingOps.dsirWeightsSql)),
    // multimodal
    ("m1_media_features", MultimodalOps.mediaFeatures _, Some(MultimodalOps.mediaFeaturesSql)),
    ("m2_media_decode", MultimodalOps.mediaPpmDecode _, Some(MultimodalOps.mediaPpmDecodeSql)),
    ("m3_frame_sample", MultimodalOps.frameSampleStats _,
      Some(MultimodalOps.frameSampleStatsSql)))

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, fn, _) => name -> fn }.toMap

  def oracleSql: Map[String, String] =
    registry.collect { case (name, _, Some(sql)) => name -> sql }.toMap
}
