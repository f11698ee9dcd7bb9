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
  *    count 3 (a partner-survival rule would leave 4).
  *  - doc 9 differs from doc 1 in 4 well-separated words (J(1,9) =
  *    87/111 = 0.784, J(3,9) = 0.65, J(4,9) = 0.53) → survives: the pair
  *    sits just under the 0.8 threshold, so pairing at a lower τ drops it.
  *  - docs 1 (en), 5 (es) and 9 (en) survive everything.
  *  - doc 8 has NULL text → no language pick, dropped at stage 1 (lang),
  *    as the oracle's `lang_pred <> 'und'` (NULL) drops it
  *  - a doc with NULL doc_id passes lang and quality but is never an
  *    exact-dedup keeper → dropped at stage 3 (exact), as the oracle's
  *    keeper join drops it
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
    val doc9 = changed(base, Seq(80, 84, 88, 92), "z").mkString(" ")

    val docNullId = (Vector("the") ++ words(100, "n")).mkString(" ")

    val dir = java.nio.file.Files.createTempDirectory("curation").toString
    (Seq((1L, doc1), (2L, doc1), (3L, doc3), (4L, doc4), (5L, doc5),
      (6L, doc6), (7L, doc7), (9L, doc9)).map { case (id, t) => (Option(id), Option(t)) } ++
      Seq((Some(8L), None), (None, Some(docNullId))))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val rows = CurationOps.curationFunnel(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(t => (t._1, t._2, t._3)).toSeq == Seq(
      (0, "all", 10L), (1, "lang", 8L), (2, "quality", 7L),
      (3, "exact", 5L), (4, "neardup", 3L)))
    // token budget is positive and non-increasing down the funnel
    val toks = rows.map(_._4)
    assert(toks.forall(_ > 0) && toks.zip(toks.tail).forall { case (a, b) => b <= a })

    // c2 is the survivor SET itself: exactly docs 1 (en), 5 (es) and 9
    // (en), with their language picks; its token totals reconcile with
    // stage 4
    val curated = CurationOps.curatedDocs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(curated.map(t => (t._1, t._2)).toSeq ==
      Seq((1L, "en"), (5L, "es"), (9L, "en")))
    assert(curated.map(_._3).sum == rows.last._4)
  }

  test("funnel plans without cartesian products or nested-loop joins") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.util.QueryExecutionListener
    // c1 runs its checkpointed spine as a query of its own when the
    // DataFrame is built; the listener catches that query's executed plan
    val checkpoints = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val marked = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") checkpoints.add(qe.executedPlan)
        else if (funcName == "collect" && qe.analyzed.toString.contains("c1-marker"))
          marked.countDown()
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val funnel = try {
      val df = CurationOps.curationFunnel(spark, "/root/testdata/sf0.001")
      // queries reach listeners in order: once this marker is seen, the
      // spine's checkpoint has been seen too
      spark.sql("SELECT 'c1-marker'").collect()
      assert(marked.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "marker query never reached the listener")
      df
    } finally spark.listenerManager.unregister(listener)

    val plan = funnel.queryExecution.executedPlan
    import scala.jdk.CollectionConverters._
    val plans = plan +: checkpoints.asScala.toSeq
    assert(checkpoints.size == 1, s"c1 checkpointed ${checkpoints.size} times")
    val helper = new AdaptiveSparkPlanHelper {}
    // the exact-dedup keeper is one window over the content hash, and the
    // only semi join is the near-dup stage's keeper text scan
    val windows = plans.flatMap(p => helper.collect(p) { case w: WindowExec => w })
    assert(windows.size == 1 && windows.head.partitionSpec
      .flatMap(_.references.map(_.name)) == Seq("content_hash"),
      s"c1 windows: $windows\n${plans.mkString("\n")}")
    val semis = plans.flatMap(p => helper.collect(p) {
      case j: BaseJoinExec if j.joinType == LeftSemi => j })
    assert(semis.size == 1, s"c1 semi joins: ${semis.size}\n${plans.mkString("\n")}")

    val text = plan.toString
    assert(!text.contains("CartesianProduct"), "cartesian in funnel plan")
    assert(!text.contains("BroadcastNestedLoopJoin"), "BNLJ in funnel plan")
    // the near-dup pair stage streams sorted runs: no list-collecting
    // aggregate anywhere in the funnel
    for (op <- Seq("collect_list", "sort_array", "ObjectHashAggregate"))
      assert(!text.contains(op), s"$op in funnel plan:\n$text")
  }
}
