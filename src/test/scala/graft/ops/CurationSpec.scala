package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** Pins the c1 curation funnel's stage semantics on a constructed corpus
  * where every stage discriminates (the sf0.01 driver gate exercises the
  * oracle equality, but its documents table has no exact duplicates, so
  * stage 3 and the one-pass near-dup chain rule need planted cases):
  *
  *  - doc 6 has no stopwords → dropped at stage 1 (lang)
  *  - doc 7 is short → dropped at stage 2 (quality)
  *  - doc 2 is byte-identical to doc 1 → dropped at stage 3 (exact, min-id
  *    keeper)
  *  - doc 3 differs from doc 1 in 3 of 101 words → shingle jaccard
  *    90/108 = 0.833 ≥ 0.8 → dropped at stage 4
  *  - doc 4 differs from doc 3 in 3 OTHER words (J(3,4)=0.833) but from
  *    doc 1 in 6 (J(1,4)=0.692 < 0.8) — the transitive chain: doc 4 drops
  *    because pair (3,4) has a smaller id, even though doc 3 itself
  *    dropped. One-pass pair-min-id semantics, asserted by survivor
  *    count 2 (a partner-survival rule would leave 3).
  *  - docs 1 (en) and 5 (es) survive everything.
  */
class CurationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession("curation-spec", 4)

  private def words(n: Int, p: String): Vector[String] =
    (0 until n).map(i => f"$p$i%03d").toVector

  test("funnel stages discriminate and one-pass neardup drops transitive chains") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val base = {
      val w = words(100, "w")
      (w.take(1) :+ "the") ++ w.drop(1) // 101 tokens, score_en = 1
    }
    def changed(src: Vector[String], at: Seq[Int], p: String): Vector[String] =
      at.foldLeft(src)((v, i) => v.updated(i, p + i))
    val doc1 = base.mkString(" ")
    val doc3 = changed(base, Seq(10, 20, 30), "x").mkString(" ")
    val doc4 = changed(changed(base, Seq(10, 20, 30), "x"), Seq(50, 60, 70), "y")
      .mkString(" ")
    val doc5 = (Vector("el") ++ words(100, "s")).mkString(" ")
    val doc6 = words(30, "g").mkString(" ")
    val doc7 = "short text the"

    val dir = java.nio.file.Files.createTempDirectory("curation").toString
    Seq((1L, doc1), (2L, doc1), (3L, doc3), (4L, doc4), (5L, doc5),
      (6L, doc6), (7L, doc7))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val rows = CurationOps.curationFunnel(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(t => (t._1, t._2, t._3)).toSeq == Seq(
      (0, "all", 7L), (1, "lang", 6L), (2, "quality", 5L),
      (3, "exact", 4L), (4, "neardup", 2L)))
    // token budget is positive and non-increasing down the funnel
    val toks = rows.map(_._4)
    assert(toks.forall(_ > 0) && toks.zip(toks.tail).forall { case (a, b) => b <= a })

    // c2 is the survivor SET itself: exactly docs 1 (en) and 5 (es), with
    // their language picks; its token totals reconcile with stage 4
    val curated = CurationOps.curatedDocs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(curated.map(t => (t._1, t._2)).toSeq == Seq((1L, "en"), (5L, "es")))
    assert(curated.map(_._3).sum == rows.last._4)
  }

  test("funnel plans without cartesian products or nested-loop joins") {
    val plan = CurationOps.curationFunnel(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "cartesian in funnel plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "BNLJ in funnel plan")
  }
}
