package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** A4 cost-model fixture test, mirroring the reference's hand-computed
  * expectations (`test_usage_tracking.py:99-136`): feed known per-doc
  * counters through [[ExtractQueries.usageSnapshotFrom]] and check every
  * derived column against the formula in `usage_tracker.py:92-141`.
  */
class UsageSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession("usage-spec", 2)

  test("usage snapshot computes the reference cost model on a hand-checked fixture") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    // (parse_us, n_kvs, llm_calls, di_calls, input_tokens, output_tokens, di_pages)
    val perDoc = Seq(
      (1500000L, 2L, 1L, 0L, 10000L, 2000L, 0L),
      (2500000L, 3L, 0L, 1L, 0L, 0L, 7L),
      (2000000L, 5L, 0L, 0L, 0L, 0L, 0L))
      .toDF("parse_us", "n_kvs", "llm_calls", "di_calls",
        "input_tokens", "output_tokens", "di_pages")
    val r = ExtractQueries.usageSnapshotFrom(perDoc).head()

    assert(r.getAs[Long]("documents_processed") == 3L)
    assert(r.getAs[Long]("llm_calls") == 1L)
    assert(r.getAs[Long]("di_calls") == 1L)
    assert(r.getAs[Long]("rule_field_hits") == 10L)
    assert(r.getAs[Long]("input_tokens") == 10000L)
    assert(r.getAs[Long]("output_tokens") == 2000L)
    assert(r.getAs[Long]("di_pages_processed") == 7L)
    assert(r.getAs[Double]("total_processing_seconds") == 6.0)
    assert(r.getAs[Double]("avg_processing_seconds") == 2.0)
    assert(r.getAs[Double]("avg_rule_fields_per_doc") == 3.3)
    // ai_docs = min(llm+di, docs) = 2 → 2/3 rounded to 2dp
    assert(r.getAs[Double]("ai_doc_ratio") == 0.67)
    // llm: (10000/1000)*0.0015 + (2000/1000)*0.0020 = 0.019 (usage_tracker.py:116-120)
    assert(r.getAs[Double]("llm_cost") == 0.019)
    // di: 7 * 0.01 (usage_tracker.py:121)
    assert(r.getAs[Double]("di_cost") == 0.07)
    assert(r.getAs[Double]("total_cost") == 0.089)
  }

  test("zero-docs snapshot hits the documents_processed > 0 guards, not NaN") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, Long, Long, Long, Long, Long)]
      .toDF("parse_us", "n_kvs", "llm_calls", "di_calls",
        "input_tokens", "output_tokens", "di_pages")
    val r = ExtractQueries.usageSnapshotFrom(empty).head()
    // every column must be an actual zero, never NULL (the reference's
    // counters are zero-initialized)
    (0 until r.length).foreach(i => assert(!r.isNullAt(i), s"column $i is NULL"))
    assert(r.getAs[Long]("documents_processed") == 0L)
    assert(r.getAs[Long]("rule_field_hits") == 0L)
    assert(r.getAs[Double]("avg_processing_seconds") == 0.0)
    assert(r.getAs[Double]("ai_doc_ratio") == 0.0)
    assert(r.getAs[Double]("total_cost") == 0.0)
  }
}
