package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** c1 — the composed training-data curation funnel over `documents`: the
  * canonical pretraining-pipeline shape, built entirely from the operator
  * family this engine already ships (t1 language-ID, t2 quality, d1 exact
  * dedup, d2 posting-list jaccard, t3 token accounting) chained the way a
  * production curation job chains them. One row per stage with the
  * surviving document count and BPE-token budget:
  *
  *   0 all      — every document
  *   1 lang     — t1's stopword language pick != 'und'
  *   2 quality  — t2's keep flag (n_chars >= 100 AND n_tokens >= 20)
  *   3 exact    — d1 semantics: min doc_id per md5(text) group among
  *                stage-2 survivors (one window over the content hash)
  *   4 neardup  — d2's df-pruned posting-list jaccard pairs at tau = 0.8
  *                among stage-3 survivors; DROP every doc that pairs with
  *                a smaller doc_id. One-pass pair-min-id semantics, by
  *                design: on a transitive chain A~B~C (A<B<C, A!~C) both B
  *                and C drop even though B (C's only qualifying partner)
  *                was itself dropped — the standard scalable one-pass rule,
  *                an upper bound on connected-components dedup
  *                aggressiveness. The DuckDB oracle applies the identical
  *                rule, so the gate pins the semantics, not just the count.
  *
  * Scale shape — the funnel is computed as each document's LAST SURVIVING
  * STAGE, not as five per-stage aggregation passes: the flag columns
  * (language pick, quality flag, content hash, token count) are projected
  * in one pass, and one window over content_hash (the flag columns ride
  * that exchange, text never does) marks each stage-2 survivor that is
  * its hash's min doc_id as the exact-dedup keeper. That spine is
  * checkpointed once (see [[stagedDocs]] for why). The near-dup drop set
  * reuses d2's posting-list machinery over the keepers' text (ONE shuffle
  * on the 60-bit shingle hash, sorted so each df-capped posting list is
  * one run, ONE more sorted so each doc's packed partner tails are one
  * run, whose overlaps are counted per document — no row per candidate
  * pair, no join, no list-collecting aggregate) and meets the spine in
  * one left join. The five funnel rows come from ONE `explode(sequence(0,
  * last_stage))` over a 2-column frame whose hash-aggregate map-side
  * combines to ≤5 rows per partition before its only shuffle. Filters run
  * BEFORE the expensive pair stage, exactly how a 100 TB curation run
  * must be ordered; the funnel accounting itself adds no per-stage corpus
  * re-scan. No UDFs, no driver-side loops.
  */
object CurationOps {

  val NearDupTau = 0.8

  /** Per-document curation verdict: (doc_id, lang_pred, n_bpe,
    * last_stage) where last_stage is the LAST funnel stage the doc
    * survives — 0 all / 1 lang / 2 quality / 3 exact / 4 neardup. A NULL
    * text has no language pick, so it survives only stage 0, as in the
    * oracle (where `lang_pred <> 'und'` is NULL). The exact-dedup keeper
    * is one window: a stage-2 survivor whose doc_id is the min over its
    * content_hash's stage-2 survivors (a NULL doc_id is never one). The
    * near-dup drop set is one left join, so every doc keeps exactly one
    * row. Shared spine of c1 (funnel report), c2 (curated output set) and
    * c3 (mixture).
    */
  private def stagedDocs(spark: SparkSession, dir: String): DataFrame = {
    // Both scans share this one read, so its schema is inferred by one job
    val documents = spark.read.parquet(s"$dir/documents.parquet")
    val s2 = col("lang_pred") =!= "und" && col("qual_ok")
    // The flags come from ONE native pass per row
    // ([[graft.functions.CurationFlags]], value-equal to the TextOps forms
    // the t1/t2/t3 oracles mirror). The checkpoint keeps it one: without it
    // the keeper ids and the final verdict each prune the window's input
    // differently, ReuseExchange does not fire, and the flags and the window
    // run twice (traced curate_neardup: one more exchange, ~40% more task
    // time). It holds no text; the near-dup stage re-reads that column for
    // the keepers only.
    val base = documents
      .select(col("doc_id"),
        graft.functions.TextFlags.curationFlagsCol(col("text")).as("f"))
      .select(col("doc_id"), col("f.*"))
      .select(col("doc_id"), col("lang_pred"), col("qual_ok"), col("n_bpe"),
        coalesce(s2 && col("doc_id") === min(when(s2, col("doc_id")))
          .over(Window.partitionBy(col("content_hash"))), lit(false))
          .as("keeper"))
      .localCheckpoint()

    // d2 pairs at tau among the keepers; drop the larger id of each
    val keeperText = documents.select(col("doc_id"), col("text"))
      .join(base.filter(col("keeper")).select(col("doc_id")), Seq("doc_id"),
        "left_semi")
    val drops = DedupOps
      .ngramJaccardPairsOn(keeperText, NearDupTau)
      .select(col("doc_b").as("doc_id")).distinct()

    base.join(drops.withColumn("nd_drop", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang_pred"), col("n_bpe"),
        when(col("lang_pred").isNull || col("lang_pred") === "und", 0)
          .when(!col("qual_ok"), 1)
          .when(!col("keeper"), 2)
          .when(col("nd_drop").isNotNull, 3)
          .otherwise(4).as("last_stage"))
  }

  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    // One row per (doc, stage-it-survives): ≤5× row expansion of a
    // 2-int frame, map-side combined to ≤5 rows/partition pre-shuffle
    val counts = stagedDocs(spark, dir)
      .select(explode(sequence(lit(0), col("last_stage"))).as("stage_id"),
        col("n_bpe"))
      .groupBy(col("stage_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_bpe")).as("n_bpe_tokens"))

    // All five stages appear even when empty (matches the oracle's CTEs)
    import spark.implicits._
    val stages = Seq((0, "all"), (1, "lang"), (2, "quality"), (3, "exact"),
      (4, "neardup")).toDF("stage_id", "stage")
    stages.join(counts, Seq("stage_id"), "left")
      .select(col("stage_id"), col("stage"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
      .orderBy("stage_id")
  }

  /** c2 — the curated OUTPUT of the funnel: the stage-4 survivor set with
    * its language pick and token count, i.e. the table a training run
    * actually consumes (c1 is the report; this is the product). Same
    * one-pass spine; the projection drops text so only ids + small
    * columns reach the sink.
    */
  def curatedDocs(spark: SparkSession, dir: String): DataFrame =
    stagedDocs(spark, dir)
      .filter(col("last_stage") === 4)
      .select(col("doc_id"), col("lang_pred"), col("n_bpe"))
      .orderBy("doc_id")

  /** Shared DuckDB CTE prefix: base flags + the four survivor stages; the
    * near-dup stage is d2's oracle pair CTEs (df cap 100, 60-bit
    * md5-prefix hash) over the stage-3 survivors with the tau floor.
    */
  private def curationCtes: String =
    s"""base AS (
         SELECT doc_id, text,
                (${TextOps.langCaseSql}) AS lang_pred,
                (length(text) >= 100 AND len(string_split(text, ' ')) >= 20) AS qual_ok,
                md5(text) AS content_hash,
                CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS n_bpe
         FROM (SELECT *, ${TextOps.langBestSql} AS best FROM documents)),
       s1 AS (SELECT * FROM base WHERE lang_pred <> 'und'),
       s2 AS (SELECT * FROM s1 WHERE qual_ok),
       k AS (SELECT min(doc_id) AS doc_id FROM s2 GROUP BY content_hash),
       s3 AS (SELECT s2.* FROM s2 JOIN k USING (doc_id)),
       ${DedupOps.shingleCtes("s3")},
       ${DedupOps.jaccardPairCtes(NearDupTau)},
       drops AS (SELECT DISTINCT doc_b AS doc_id FROM jpairs),
       s4 AS (SELECT * FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM drops))"""

  def curationFunnelSql: String =
    s"""WITH $curationCtes,
       funnel AS (
         SELECT 0 AS stage_id, 'all' AS stage, count(*) AS n_docs,
                coalesce(sum(n_bpe), 0) AS n_bpe_tokens FROM base
         UNION ALL SELECT 1, 'lang', count(*), coalesce(sum(n_bpe), 0) FROM s1
         UNION ALL SELECT 2, 'quality', count(*), coalesce(sum(n_bpe), 0) FROM s2
         UNION ALL SELECT 3, 'exact', count(*), coalesce(sum(n_bpe), 0) FROM s3
         UNION ALL SELECT 4, 'neardup', count(*), coalesce(sum(n_bpe), 0) FROM s4)
       SELECT CAST(stage_id AS INT) AS stage_id, stage,
              CAST(n_docs AS BIGINT) AS n_docs,
              CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens
       FROM funnel ORDER BY stage_id"""

  /** DuckDB twin of [[curatedDocs]]: the s4 CTE projected to the output
    * columns.
    */
  def curatedDocsSql: String =
    s"""WITH $curationCtes
       SELECT doc_id, lang_pred, CAST(n_bpe AS BIGINT) AS n_bpe
       FROM s4 ORDER BY doc_id"""

  /** c3's declared language mixture over the curated set: downsample the
    * dominant language, keep most of the rest — the "rebalance the crawl"
    * step every multilingual pretraining mix runs. 'und' never appears
    * (stage 1 filtered it).
    */
  val MixPermille: Seq[(String, Int)] =
    Seq("en" -> 250, "es" -> 900, "de" -> 900, "fr" -> 900)

  /** c3 — the END-TO-END pipeline as one query: the c1/c2 curation funnel
    * (lang → quality → exact dedup → near-dup) composed with s1's
    * deterministic md5-threshold mixer, stratified by the funnel's OWN
    * language pick. This is the table a training run actually reads:
    * curated survivors, rebalanced to the declared language mixture.
    *
    * Scale shape: the mixer adds a stateless map filter on top of the
    * curation spine — zero additional shuffles, zero additional scans
    * (the flags are already materialized once per spine; the threshold is
    * a plan-time literal CASE). Membership is the s1 rule exactly
    * ([[SamplingOps.rateThreshold]] 6-hex lexicographic compare), so the
    * DuckDB oracle composes c2's CTEs with the same CASE verbatim.
    */
  def curatedMixture(spark: SparkSession, dir: String): DataFrame =
    stagedDocs(spark, dir)
      .filter(col("last_stage") === 4)
      .filter(SamplingOps.sampleKey(col("doc_id"))
        < SamplingOps.thresholdExpr(col("lang_pred"), MixPermille))
      .select(col("doc_id"), col("lang_pred"), col("n_bpe"))
      .orderBy("doc_id")

  def curatedMixtureSql: String =
    s"""WITH $curationCtes
       SELECT doc_id, lang_pred, CAST(n_bpe AS BIGINT) AS n_bpe
       FROM s4
       WHERE ${SamplingOps.sampleKeySql("doc_id")}
             < ${SamplingOps.thresholdCaseSql("lang_pred", MixPermille)}
       ORDER BY doc_id"""
}
