package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, input_file_name, sum}
import graft.SparkEntry
import graft.jobs.{ExtractJob, FileResumableExtract}
import graft.model.InputDoc
import graft.ops.{CurationOps, DedupOps}

/** The per-layer metric names of the layers a workload may not exercise;
  * such a workload reports them as zero so every workload prints every
  * declared metric.
  */
object Layers {
  val Jobs: Seq[(String, String)] = Seq(
    "jobs.rollback_s" -> "s", "jobs.write_s" -> "s", "jobs.metrics_s" -> "s",
    "jobs.commit_s" -> "s", "jobs.files_committed" -> "count",
    "jobs.partial_files_committed" -> "count",
    "jobs.resume_skipped_files" -> "count", "jobs.output_files" -> "count",
    "jobs.bytes_written_per_input_byte" -> "ratio")
  val Ops: Seq[(String, String)] = Seq(
    "ops.c1_s" -> "s", "ops.d2_s" -> "s", "ops.d2_pairs_out" -> "count")

  def zeros(report: Report, names: Seq[(String, String)]): Unit =
    names.foreach { case (k, u) => report.put(k, 0.0, u) }

  /** Median over passes of one layer timing. */
  def median(passes: Seq[PassOut], key: String): Double =
    Stats.median(passes.flatMap(_.layers.get(key)))
}

/** `extract_scan`: `ExtractJob.extract` over the cached seeded docs into
  * the noop sink. Almost all its time is the parse core, with no exchange
  * and no write.
  */
final class ExtractScan(a: Main.Args) extends Workload {
  private val corpus = new Corpus(a.seed)
  private var docs: Dataset[InputDoc] = _
  private var docUs: Seq[Double] = Seq.empty

  def docsPerPass: Long = corpus.n
  // pass times kept falling for about four passes
  def warmUpPasses: Int = 4

  def setup(spark: SparkSession): Unit = {
    docs = corpus.dataset(spark).persist()
    docs.count()
  }

  def teardown(spark: SparkSession): Unit = docs.unpersist(blocking = true)

  def pass(spark: SparkSession): PassOut =
    PassOut(Digest.noopSink(ExtractJob.extract(spark, docs).toDF()))

  def verify(spark: SparkSession, report: Report, passes: Seq[PassOut]): Unit = {
    val (verified, us) = Reference.checkFrame(a, corpus,
      ExtractJob.extract(spark, docs).toDF(), report)
    docUs = us
    report.countPass(docsPerPass, verified.errors)
    checkPassDigests(report, verified, passes)
  }

  def trace(spark: SparkSession, report: Report, passes: Seq[PassOut]): Unit = {
    ParseReplay.traceCorpus(corpus, report, docUs)
    Layers.zeros(report, Layers.Jobs ++ Layers.Ops)
  }
}

/** `extract_write_resume`: the seeded docs, written in set-up as a
  * multi-file parquet table, extracted by `FileResumableExtract.run` in two
  * legs: a partial leg over half the files, which commits them, then a
  * resume leg that must skip those files and finish the rest.
  */
final class WriteResume(a: Main.Args) extends Workload {
  private val corpus = new Corpus(a.seed)
  private val in = a.work.resolve("wr_in").toString
  private val out = a.work.resolve("wr_out").toString
  /** The previous pass's output, kept for verification. */
  private val kept = a.work.resolve("wr_kept").toString
  private var fileIds: Seq[String] = Seq.empty
  private var partial: Set[String] = Set.empty
  /** Docs in the partial leg's files and in the rest, counted at set-up. */
  private var partialDocs = 0L
  private var restDocs = 0L
  private var docUs: Seq[Double] = Seq.empty

  def docsPerPass: Long = corpus.n
  // the first three passes after the cold one ran 10-30% slower than the
  // later ones
  def warmUpPasses: Int = 3

  def setup(spark: SparkSession): Unit = {
    corpus.dataset(spark, WriteResume.InputFiles).write.mode("overwrite").parquet(in)
    fileIds = FileResumableExtract.inputFilesWithIds(spark, in).map(_._2)
    partial = fileIds.take(fileIds.size / 2).toSet
    val root = FileResumableExtract.rootFsPath(spark, in)
    val perFile = spark.read.parquet(in)
      .groupBy(input_file_name()).count()
      .collect().map(r => FileResumableExtract.fileIdFromUri(root, r.getString(0)) -> r.getLong(1))
    partialDocs = perFile.collect { case (id, c) if partial(id) => c }.sum
    restDocs = perFile.collect { case (id, c) if !partial(id) => c }.sum
  }

  def teardown(spark: SparkSession): Unit = Fs.delete(in)

  def pass(spark: SparkSession): PassOut = {
    val t1 = mutable.Map.empty[String, Double]
    val n1 = FileResumableExtract.run(spark, in, out, onlyFiles = Some(partial),
      timings = Some(t1))
    // what the resume leg will skip: every input file the manifest holds
    val done = FileResumableExtract.completedFileIds(spark, out)
    val t2 = mutable.Map.empty[String, Double]
    val n2 = FileResumableExtract.run(spark, in, out, timings = Some(t2))
    val phases = Seq("rollback", "write", "metrics", "commit").map { p =>
      s"jobs.${p}_s" -> (t1.getOrElse(p, 0.0) + t2.getOrElse(p, 0.0))
    }
    PassOut(Digest(0, 0, 0), (phases ++ Seq(
      "jobs.partial_files_committed" -> partial.count(done.contains).toDouble,
      "jobs.resume_skipped_files" -> fileIds.count(done.contains).toDouble,
      "docs_partial" -> n1.toDouble, "docs_resume" -> n2.toDouble)).toMap)
  }

  /** Untimed: digests the pass's committed output, counts its files, and
    * keeps it for verification.
    */
  override def settle(spark: SparkSession, p: PassOut): PassOut = {
    val digest = Digest.of(FileResumableExtract.readResults(spark, out))
    val committed = FileResumableExtract.completedFileIds(spark, out)
    val outFiles = Fs.dataFiles(s"$out/results")
    val ratio = Fs.dataFiles(out).map(Files.size(_)).sum.toDouble /
      Fs.dataFiles(in).map(Files.size(_)).sum
    Fs.delete(kept)
    Files.move(Path.of(out), Path.of(kept))
    PassOut(digest, p.layers ++ Map(
      "jobs.files_committed" -> fileIds.count(committed.contains).toDouble,
      "jobs.output_files" -> outFiles.size.toDouble,
      "jobs.bytes_written_per_input_byte" -> ratio))
  }

  def verify(spark: SparkSession, report: Report, passes: Seq[PassOut]): Unit = {
    val (verified, us) = Reference.checkFrame(a, corpus,
      FileResumableExtract.readResults(spark, kept), report)
    docUs = us
    checkPassDigests(report, verified, passes)
    // the resume protocol: the partial leg commits exactly its files and
    // their docs; the resume leg skips exactly those and parses every
    // other doc once
    passes.foreach { p =>
      val l = p.layers
      val ok = l("jobs.partial_files_committed") == partial.size &&
        l("jobs.resume_skipped_files") == partial.size &&
        l("jobs.files_committed") == fileIds.size &&
        l("docs_partial") == partialDocs && l("docs_resume") == restDocs
      if (!ok) report.problem(s"resume protocol: partial leg committed " +
        s"${l("jobs.partial_files_committed")} of ${partial.size} files and " +
        s"${l("docs_partial")} of $partialDocs docs; resume leg skipped " +
        s"${l("jobs.resume_skipped_files")} files and parsed ${l("docs_resume")} " +
        s"of $restDocs docs; ${l("jobs.files_committed")} of ${fileIds.size} files committed")
    }
    val metricsDocs = FileResumableExtract.readMetrics(spark, kept)
      .agg(sum("docs_in")).head().getLong(0)
    if (metricsDocs != corpus.n)
      report.problem(s"metrics roll-up counts $metricsDocs docs, not ${corpus.n}")
  }

  def trace(spark: SparkSession, report: Report, passes: Seq[PassOut]): Unit = {
    ParseReplay.traceCorpus(corpus, report, docUs)
    Layers.Jobs.foreach { case (k, u) => report.put(k, Layers.median(passes, k), u) }
    report.note("jobs per leg are summed; partial leg " +
      s"${Layers.median(passes, "docs_partial")} docs, resume leg " +
      s"${Layers.median(passes, "docs_resume")} docs")
    Layers.zeros(report, Layers.Ops)
  }
}

object WriteResume {
  /** Files in the seeded input table; the partial leg takes half. */
  val InputFiles = 16
}

/** `curate_neardup`: c1 and d2, each into the noop sink, over the rows of
  * the fixed 5,000-doc documents table under `perfbench/data` (the table
  * the oracle rows gate; the seed does not apply to it). Shuffle- and
  * pair-stage-bound, and calls no `DocParser` code. c2 and c3 are left out:
  * each re-runs c1's whole curation spine and differs only in its final
  * projection, which doubled the pass for no layer c1 does not already
  * exercise.
  *
  * Set-up rewrites the table's rows as one file per core, ranged by
  * `doc_id`. The pinned file is a single parquet row group, so every scan
  * of it was one task; a pass then ran at one core's speed, and its time
  * moved by up to a third from run to run with the host's load.
  */
final class CurateNeardup(a: Main.Args) extends Workload {
  private val pinned = a.root.resolve("perfbench/data/documents.parquet").toString
  private val dir = a.work.resolve("curate").toString
  private val queries: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
    ("c1_curation_funnel", "ops.c1_s", CurationOps.curationFunnel),
    ("d2_ngram_jaccard", "ops.d2_s", DedupOps.ngramJaccardPairs))

  def docsPerPass: Long = CurateNeardup.Docs
  // pass times kept falling for about three passes after the cold one
  def warmUpPasses: Int = 3

  def setup(spark: SparkSession): Unit = {
    spark.read.parquet(pinned).repartitionByRange(Session.Cores, col("doc_id"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    require(n == CurateNeardup.Docs, s"documents table has $n rows")
  }

  def teardown(spark: SparkSession): Unit = Fs.delete(dir)

  /** The first (cold) pass writes each result as parquet for the oracle
    * check instead of to the noop sink (the results are at most a few
    * thousand rows); every later pass must reproduce its digest.
    */
  private var verified: Option[Digest] = None

  def pass(spark: SparkSession): PassOut = {
    val (digests, layers) = queries.map { case (name, key, fn) =>
      val t0 = System.nanoTime()
      val d =
        if (verified.isDefined) Digest.noopSink(fn(spark, dir))
        else {
          val (df, obs) = Digest.observed(fn(spark, dir))
          df.write.mode("overwrite").parquet(oraclePath(name))
          Digest.from(obs)
        }
      (d, key -> (System.nanoTime() - t0) / 1e9)
    }.unzip
    val d = Digest.combine(digests)
    if (verified.isEmpty) verified = Some(d)
    PassOut(d, layers.toMap + ("ops.d2_pairs_out" -> digests.last.rows.toDouble))
  }

  private def oraclePath(name: String) = a.work.resolve(s"oracle/$name").toString

  /** Untimed: drops the blocks each pass's local checkpoints left behind. */
  override def settle(spark: SparkSession, p: PassOut): PassOut = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    p
  }

  def verify(spark: SparkSession, report: Report, passes: Seq[PassOut]): Unit = {
    queries.foreach { case (name, _, _) =>
      report.oracle(name, SparkEntry.oracleSql(name), oraclePath(name))
    }
    verified.foreach(checkPassDigests(report, _, passes.drop(1)))
    passes.headOption.foreach(p => report.countPass(docsPerPass, p.digest.errors))
  }

  def trace(spark: SparkSession, report: Report, passes: Seq[PassOut]): Unit = {
    new ParseReplay().emit(report, Seq.empty)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    report.put("input.docs", CurateNeardup.Docs.toDouble, "count")
    report.put("input.bytes", docs.selectExpr("sum(octet_length(text))").head().getLong(0).toDouble, "bytes")
    report.put("input.heavy_pdf_docs", 0.0, "count")
    report.put("input.media_share", 0.0, "ratio")
    Layers.zeros(report, Layers.Jobs)
    Layers.Ops.foreach { case (k, u) => report.put(k, Layers.median(passes, k), u) }
  }
}

object CurateNeardup {
  val Docs = 5000
}

object Fs {
  def delete(p: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))

  /** Regular files under `dir` except checksums (`.crc`) and markers
    * (`_SUCCESS`).
    */
  def dataFiles(dir: String): Seq[Path] = {
    val s = Files.walk(Path.of(dir))
    try s.iterator().asScala.filter { p =>
      val name = p.getFileName.toString
      Files.isRegularFile(p) && !name.startsWith(".") && !name.startsWith("_")
    }.toSeq
    finally s.close()
  }
}
