package graft.analytics

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.jobs.ExtractJob
import graft.ops.DedupOps

/** Physical-plan quality gates (the 100 TB questions, asked of Catalyst
  * directly): filters reach the parquet scan, projections prune columns,
  * dimension joins broadcast, aggregates are partial+final hash aggregates,
  * and the extraction parses without a shuffle.
  */
class PlanSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = graft.TestSession("plan-spec", 4)

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q4 filter+projection: predicates pushed to scan, columns pruned") {
    val plan = physical(RelationalOps.q4FilterProject(spark, sfDir))
    assert(plan.contains("PushedFilters:") &&
      plan.contains("EqualTo(l_returnflag,R)"), s"filter not pushed:\n$plan")
    // projection pruning: the scan must not read unused wide columns
    assert(!plan.contains("l_comment"), "scan reads pruned column l_comment")
    assert(plan.contains("ReadSchema"), plan)
  }

  test("q2/q3 dimension joins broadcast (no fact-table shuffle for dims)") {
    val p2 = physical(RelationalOps.q2TopCustomers(spark, sfDir))
    assert(p2.contains("BroadcastHashJoin"), s"q2 not broadcast:\n$p2")
    val p3 = physical(RelationalOps.q3RegionRevenue(spark, sfDir))
    assert(p3.contains("BroadcastHashJoin"), s"q3 not broadcast:\n$p3")
    assert(!p3.contains("SortMergeJoin"), "q3 dimension chain fell back to SMJ")
  }

  test("q1 aggregation is partial+final hash aggregate inside codegen") {
    val df = RelationalOps.q1PricingSummary(spark, sfDir)
    val p = physical(df)
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_sum"), "map-side partial aggregation missing:\n" + p)
    df.collect() // AQE finalizes (and codegen-compiles) only on execution
    val finalPlan = df.queryExecution.executedPlan.toString
    // `*(n)` prefixes = WholeStageCodegen stages in the compact rendering
    assert("""\*\(\d+\) HashAggregate""".r.findFirstIn(finalPlan).isDefined,
      "aggregate not inside WholeStageCodegen:\n" + finalPlan)
  }

  test("p1 point lookup: key predicate pushed to the scan (row-group pruning at scale)") {
    val p = physical(RelationalOps.p1DocLookup(spark, sfDir))
    assert(p.contains("PushedFilters:") && p.contains("EqualTo(doc_id,42)"),
      s"point-lookup key not pushed:\n$p")
  }

  test("semi/anti joins plan as such (resume protocol shape)") {
    assert(physical(RelationalOps.q10AntiJoin(spark, sfDir)).contains("LeftAnti"))
    assert(physical(RelationalOps.q11SemiJoin(spark, sfDir)).contains("LeftSemi"))
  }

  test("extract parses on the scan splits: zero shuffles before the parse map") {
    import spark.implicits._
    val docs = spark.range(0, 10, 1, 2).map(i => graft.corpus.CorpusGen.gen(i))
    val p = physical(ExtractJob.extract(spark, docs).toDF())
    assert(!p.contains("Exchange"), s"extract must not shuffle:\n$p")
  }

  test("QueryTime times each rep and writes <query>_<suffix>.txt plans") {
    val dir = java.nio.file.Files.createTempDirectory("graft_querytime_")
    val times = graft.tools.QueryTime.profile(spark, Seq("q4_filter_project"),
      sfDir, reps = 1, plans = Some((dir.toString, "t")))
    assert(times.map(t => (t._1, t._2)) == Seq(("q4_filter_project", 1)))
    val plan = dir.resolve("q4_filter_project_t.txt")
    assert(java.nio.file.Files.exists(plan), s"no plan file $plan")
    assert(java.nio.file.Files.readString(plan).contains("== Physical Plan =="))
  }

  /** The `src/main/scala`-relative paths of the main sources containing
    * `text`, resolved from the working directory (the build's base
    * directory).
    */
  private def mainSourcesContaining(text: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val main = java.nio.file.Paths.get("src/main/scala").toAbsolutePath
    assert(java.nio.file.Files.isDirectory(main), s"no sources at $main")
    java.nio.file.Files.walk(main).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => java.nio.file.Files.readString(p).contains(text))
      .map(main.relativize(_).toString).toSet
  }

  test("session builders: only JobSession, Bench and Verify build a SparkSession") {
    val builders = mainSourcesContaining("SparkSession.builder")
    val allowed = Set("graft/jobs/JobSession.scala", "graft/Bench.scala", "graft/Verify.scala")
    assert((builders -- allowed).isEmpty,
      s"build the session through graft.jobs.JobSession: ${builders -- allowed}")
  }

  test("one extraction write path: no streaming sink in src/main") {
    val sinks = mainSourcesContaining("writeStream")
    assert(sinks.isEmpty,
      s"extract incrementally by re-running FileResumableExtract.run: $sinks")
  }

  test("d1 exact dedup: single-pass partial+final hash aggregate, no pre-shuffle") {
    val p = physical(DedupOps.exactDedup(spark, sfDir))
    // one exchange for the groupBy (plus the orderBy range exchange), none extra
    assert(p.contains("HashAggregate"), p)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1, s"expected 1 hash exchange in dedup plan:\n$p")
  }
}
