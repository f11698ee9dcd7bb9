package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Entry point of one benchmark run (see `run.py`, which builds this and
  * checks the result it writes):
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --root <checkout> --work <scratch dir> --out <result.json>
  *                [--corrupt 1]
  * }}}
  *
  * Untraced (`--trace 0`) it reports the end-to-end metrics; traced
  * (`--trace 1`) it reports the per-layer metrics. Every timed pass is
  * checked: each pass's output digest must equal the digest of the output
  * the verification step compares row by row with a reference. `--corrupt
  * 1` alters one output hash before that comparison, to show the checker
  * catches it.
  */
object Main {

  final case class Args(
      workload: String, seed: Long, seconds: Int, trace: Boolean,
      root: Path, work: Path, out: Path, corrupt: Boolean)

  private def parseArgs(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v
    }.toMap
    def req(k: String) = kv.getOrElse(k, {
      System.err.println(s"missing --$k"); sys.exit(2)
    })
    Args(req("workload"), req("seed").toLong, req("seconds").toInt,
      req("trace") == "1", Paths.get(req("root")).toAbsolutePath,
      Paths.get(req("work")).toAbsolutePath, Paths.get(req("out")),
      kv.get("corrupt").contains("1"))
  }

  /** Set-up repetitions per untraced run; `setup_s` is their median. */
  val SetupReps = 5
  /** Timed warm passes per run at least, however long they take. */
  val MinWarmPasses = 2

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val report = new Report
    val wl: Workload = a.workload match {
      case "extract_scan" => new ExtractScan(a)
      case "extract_write_resume" => new WriteResume(a)
      case "curate_neardup" => new CurateNeardup(a)
      case other =>
        System.err.println(s"unknown workload $other"); sys.exit(2)
    }
    if (a.trace) traced(a, wl, report) else untraced(a, wl, report)
    Files.write(a.out, report.json.getBytes(StandardCharsets.UTF_8))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** One pass, timed, then settled untimed; a pass that throws is recorded
    * and gives None.
    */
  private def timedPass(spark: SparkSession, wl: Workload, report: Report)
      (run: => (PassOut, Double)): Option[(PassOut, Double)] =
    try {
      val (out, wall) = run
      Some((wl.settle(spark, out), wall))
    } catch {
      case e: Exception =>
        report.passThrew(wl.docsPerPass, e)
        None
    }

  private def plain(wl: Workload, spark: SparkSession): (PassOut, Double) = {
    val t0 = System.nanoTime()
    val out = wl.pass(spark)
    (out, secsSince(t0))
  }

  /** Runs `step` until it fails, or until `seconds` have passed and it ran
    * at least `min` times.
    */
  private def loop(seconds: Int, min: Int)(step: => Boolean): Unit = {
    val t0 = System.nanoTime()
    var n = 0
    while ((n < min || secsSince(t0) < seconds) && step) n += 1
  }

  /** The cold pass, then the warm-up passes; all are checked, none counts
    * toward `wall_s`. Returns the cold pass's wall, or None if a pass threw.
    */
  private def warmUp(spark: SparkSession, wl: Workload, report: Report,
      passes: mutable.ArrayBuffer[(PassOut, Double)]): Option[Double] = {
    val warm = (0 to wl.warmUpPasses).iterator
      .map(_ => timedPass(spark, wl, report)(plain(wl, spark)))
      .takeWhile(_.isDefined).flatten.toSeq
    passes ++= warm
    if (warm.size == wl.warmUpPasses + 1) Some(warm.head._2) else None
  }

  private def untraced(a: Args, wl: Workload, report: Report): Unit = {
    def setup(): (SparkSession, Double) = {
      val t0 = System.nanoTime()
      val spark = Session.start(a.work)
      wl.setup(spark)
      (spark, secsSince(t0))
    }
    // the passes run on the first set-up's session; the repeated set-ups
    // come after verification, so session restarts never precede a pass
    val (spark, firstSetup) = setup()
    val passes = mutable.ArrayBuffer.empty[(PassOut, Double)]
    val cold = warmUp(spark, wl, report, passes)
    val walls = mutable.ArrayBuffer.empty[Double]
    if (cold.isDefined) loop(a.seconds, MinWarmPasses) {
      timedPass(spark, wl, report)(plain(wl, spark)) match {
        case Some(p) => passes += p; walls += p._2; true
        case None => false
      }
    }
    val tv = System.nanoTime()
    wl.verify(spark, report, passes.map(_._1).toSeq)
    report.note(f"verification took ${secsSince(tv)}%.1f s")
    var last = spark
    val setups = firstSetup +: (2 to SetupReps).map { _ =>
      wl.teardown(last)
      last.stop()
      val (s, t) = setup()
      last = s
      t
    }
    report.put("setup_s", Stats.median(setups), "s")
    val wall = Stats.median(walls.toSeq)
    report.put("wall_s", wall, "s")
    report.put("docs_per_s", wl.docsPerPass / wall, "docs/s")
    report.note(f"setup_s is the median of ${setups.size} set-ups: " +
      setups.map(s => f"$s%.3f").mkString(", "))
    report.note(f"wall_s is the median of ${walls.size} warm passes: " +
      walls.map(s => f"$s%.3f").mkString(", "))
    cold.foreach(c => report.note(f"cold pass: $c%.3f s"))
  }

  private def traced(a: Args, wl: Workload, report: Report): Unit = {
    val spark = Session.start(a.work)
    wl.setup(spark)
    val passes = mutable.ArrayBuffer.empty[(PassOut, Double)]
    val cold = warmUp(spark, wl, report, passes)
    // one sample per JVM, so its run-to-run spread is wide: a per-layer
    // metric, without a bound
    report.put("cold_wall_s", cold.getOrElse(Double.NaN), "s")
    // warm passes alternate untraced / traced; the traced one carries the
    // Spark listeners, and the difference of the two medians is the
    // tracing overhead
    val plainWalls = mutable.ArrayBuffer.empty[Double]
    val tracedWalls = mutable.ArrayBuffer.empty[Double]
    var sparkMetrics = Seq.empty[(String, Double, String)]
    if (cold.isDefined) loop(a.seconds, 1) {
      timedPass(spark, wl, report)(plain(wl, spark)) match {
        case Some(p) =>
          passes += p; plainWalls += p._2
          timedPass(spark, wl, report) {
            val (out, wall, m) = SparkTrace.traced(spark, Session.Cores)(wl.pass(spark))
            sparkMetrics = m
            (out, wall)
          } match {
            case Some(t) => passes += t; tracedWalls += t._2; true
            case None => false
          }
        case None => false
      }
    }
    val tv = System.nanoTime()
    wl.verify(spark, report, passes.map(_._1).toSeq)
    report.note(f"verification took ${secsSince(tv)}%.1f s")
    sparkMetrics.foreach { case (k, v, u) => report.put(k, v, u) }
    val (tm, pm) = (Stats.median(tracedWalls.toSeq), Stats.median(plainWalls.toSeq))
    report.put("trace.overhead_s", tm - pm, "s")
    report.note(f"tracing overhead: traced pass median $tm%.3f s (${tracedWalls.size}) " +
      f"minus untraced $pm%.3f s (${plainWalls.size})")
    // the listener's task time cannot exceed the pass's wall on all cores
    sparkMetrics.collectFirst { case ("spark.busy_share", v, _) => v }.foreach { b =>
      if (b > 1.02) report.problem(f"trace gate: spark.task_s is $b%.3f x wall x cores")
    }
    val tt = System.nanoTime()
    wl.trace(spark, report, passes.map(_._1).toSeq)
    report.note(f"layer tracing took ${secsSince(tt)}%.1f s")
  }
}

/** The benchmark's Spark session: one process, `local[n]` with n the
  * machine's processors capped at 4, the settings the extraction jobs'
  * session uses, and every scratch path inside the run's work directory.
  */
object Session {
  val Cores: Int = math.min(Runtime.getRuntime.availableProcessors(), 4)

  def start(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** What a pass produced: the digest of its output and the per-layer
  * timings the workload reads from the program's own public results.
  */
final case class PassOut(digest: Digest, layers: Map[String, Double] = Map.empty)

/** Order-independent digest of a result frame: row count, rows with a
  * non-empty `error`, and the xor of 64-bit row hashes. Two passes over the
  * same input must produce the same digest; the verification step ties the
  * digest to a row-by-row reference check.
  */
final case class Digest(rows: Long, errors: Long, hash: Long)

object Digest {
  /** Columns that legitimately differ between passes (task placement and
    * per-doc timing) stay out of the hash.
    */
  private val Volatile = Set("partition_id", "parse_us")

  private def exprs(df: DataFrame) = {
    val cols = df.columns.filterNot(Volatile).map(col).toSeq
    val err = if (df.columns.contains("error"))
      sum(when(col("error") =!= "", 1L).otherwise(0L)) else lit(0L)
    Seq(count(lit(1)).as("rows"), coalesce(err, lit(0L)).as("errors"),
      coalesce(bit_xor(xxhash64(cols: _*)), lit(0L)).as("hash"))
  }

  /** `df` with the digest observed on it; read the digest with [[from]]
    * once an action over the returned frame has run.
    */
  def observed(df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation()
    val e = exprs(df)
    (df.observe(obs, e.head, e.tail: _*), obs)
  }

  def from(obs: Observation): Digest = {
    val m = obs.get
    Digest(m("rows").asInstanceOf[Long], m("errors").asInstanceOf[Long],
      m("hash").asInstanceOf[Long])
  }

  /** Writes `df` to the noop sink and returns the digest observed on the
    * way, in the same pass.
    */
  def noopSink(df: DataFrame): Digest = {
    val (d, obs) = observed(df)
    d.write.format("noop").mode("overwrite").save()
    from(obs)
  }

  /** Digest of a frame computed by its own aggregate (read-back checks). */
  def of(df: DataFrame): Digest = {
    val e = exprs(df)
    val r = df.agg(e.head, e.tail: _*).head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Several digests folded in order into one. */
  def combine(ds: Seq[Digest]): Digest =
    Digest(ds.map(_.rows).sum, ds.map(_.errors).sum,
      ds.foldLeft(17L)((h, d) => h * 31 + d.hash))
}

/** Accumulates one run's metrics, checks and notes, and renders them as the
  * JSON `run.py` reads.
  */
final class Report {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val notes = mutable.ArrayBuffer.empty[String]
  private val problems = mutable.ArrayBuffer.empty[String]
  private val oracles = mutable.ArrayBuffer.empty[(String, String, String)]
  /** Docs (input units) attempted, and those that failed. */
  var attempted = 0L
  var failed = 0L
  /** Outputs checked against a reference, and those that differed. */
  var checked = 0L
  var wrong = 0L

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)
  def note(s: String): Unit = { notes += s; System.err.println(s"[perfbench] $s") }
  def problem(s: String): Unit = { problems += s; note(s"PROBLEM: $s") }

  /** A result `run.py` must compare with its DuckDB oracle SQL. */
  def oracle(name: String, sql: String, parquetDir: String): Unit =
    oracles += ((name, sql, parquetDir))

  def passThrew(docs: Long, e: Exception): Unit = {
    attempted += docs
    failed += docs
    problem(s"a pass threw: $e")
  }

  /** Counts one checked pass: its docs and their error rows. */
  def countPass(docs: Long, errorDocs: Long): Unit = {
    attempted += docs
    failed += errorDocs
  }

  def json: String = {
    def q(s: String) = Json.str(s)
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val ms = metrics.map { case (k, (v, u)) =>
      s"${q(k)}: {\"value\": ${num(v)}, \"unit\": ${q(u)}}"
    }.mkString("{", ", ", "}")
    val os = oracles.map { case (n, s, p) =>
      s"{\"name\": ${q(n)}, \"sql\": ${q(s)}, \"parquet\": ${q(p)}}"
    }.mkString("[", ", ", "]")
    s"""{"attempted": $attempted, "failed": $failed, "checked": $checked, """ +
      s""""wrong": $wrong, "metrics": $ms, "oracles": $os, """ +
      s""""problems": ${problems.map(q).mkString("[", ", ", "]")}, """ +
      s""""notes": ${notes.map(q).mkString("[", ", ", "]")}}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** One benchmark workload. `setup` runs on a fresh session and may be
  * undone by `teardown` (set-up is repeated to take its median); `pass` is
  * the timed unit of work and `settle` its untimed follow-up; `verify`
  * checks the passes' outputs against a reference; `trace` adds the
  * workload's per-layer metrics.
  */
trait Workload {
  def docsPerPass: Long
  /** Untimed warm passes after the cold pass. The JIT is still compiling
    * the hot paths during the first warm passes, which run slower than the
    * ones after them; each workload takes as many as its measured pass
    * times kept falling for, since each takes run time from the timed ones.
    */
  def warmUpPasses: Int
  def setup(spark: SparkSession): Unit
  def teardown(spark: SparkSession): Unit
  def pass(spark: SparkSession): PassOut
  /** Untimed follow-up of a pass: read-back checks and clean-up. */
  def settle(spark: SparkSession, p: PassOut): PassOut = p
  def verify(spark: SparkSession, report: Report, passes: Seq[PassOut]): Unit
  def trace(spark: SparkSession, report: Report, passes: Seq[PassOut]): Unit

  /** Every pass's digest must equal the verified one; a pass that does not
    * counts all its outputs as wrong.
    */
  protected def checkPassDigests(report: Report, verified: Digest,
      passes: Seq[PassOut]): Unit =
    passes.foreach { p =>
      report.countPass(docsPerPass, p.digest.errors)
      report.checked += verified.rows
      if (p.digest != verified) {
        report.wrong += verified.rows
        report.problem(s"a pass's output digest ${p.digest} differs from the verified $verified")
      }
    }
}
