package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import graft.jobs.JobSession

/** The query profiler: times `SparkEntry` queries and dumps their plans.
  *
  * Each rep runs the whole query into Bench's noop sink (a `count()` would
  * let Catalyst prune columns and eliminate join subtrees — see
  * Bench.scala) and prints its wall time. Rep 1 is the cold one: it pays
  * the JVM's codegen/Janino and reader warmup, so rep 1 minus a later rep
  * is the one-time warmup. With a plan dir, each query's
  * `explain("formatted")` is written to `<planDir>/<query>_<suffix>.txt`
  * (the before/after evidence under `plans/r<N>/`), built after the timed
  * reps so that a query which sizes itself eagerly leaves rep 1 cold;
  * `reps = 0` only dumps plans.
  *
  *   runMain graft.tools.QueryTime <q1,q2,...> [sfDir] [reps] [planDir suffix]
  *
  * Defaults: Bench's default sf0.1 test data, 3 reps.
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty || args.length == 4) {
      System.err.println(
        "usage: QueryTime <q1,q2,...> [sfDir] [reps] [planDir suffix]")
      sys.exit(2)
    }
    val queries = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val plans = if (args.length > 4) Some((args(3), args(4))) else None
    val spark = JobSession.build("graft-query-time")
    try profile(spark, queries, sfDir, reps, plans)
    finally spark.stop()
  }

  /** Times `reps` runs of each query, then writes its plan when `plans`
    * (dir, suffix) is given. Returns (query, rep, seconds) per timed run.
    */
  def profile(spark: SparkSession, queries: Seq[String], sfDir: String,
      reps: Int, plans: Option[(String, String)]): Seq[(String, Int, Double)] =
    queries.flatMap { q =>
      val fn = graft.SparkEntry.queries(q)
      val times = (1 to reps).map { i =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"$q rep $i: $sec%.3f s")
        (q, i, sec)
      }
      plans.foreach { case (dir, suffix) =>
        val path = java.nio.file.Path.of(dir, s"${q}_$suffix.txt")
        java.nio.file.Files.createDirectories(path.getParent)
        java.nio.file.Files.writeString(path, fn(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted")))
        println(s"wrote $path")
      }
      times
    }
}
