package graft.jobs

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.SparkFirehoseListener
import org.apache.spark.scheduler.{SparkListenerEvent, SparkListenerJobStart,
  SparkListenerTaskEnd}
import graft.corpus.CorpusGen
import graft.parse.DocParser
import java.nio.file.Files

/** Kill/rerun test for the zero-shuffle file-granular resume: interrupted
  * job (some input files committed, one partial garbage output dir) resumes
  * reading ONLY the pending input files and converges byte-identically.
  */
class FileResumeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession("file-resume-spec", 8)

  private def hashes(out: String): Map[String, String] = {
    import spark.implicits._
    spark.read.parquet(s"$out/results")
      .select("doc_id", "spans").as[(String, Seq[graft.model.OutSpan])]
      .collect().map { case (d, s) => d -> DocParser.spanHash(s) }.toMap
  }

  private def docsIn(out: String): Long =
    FileResumableExtract.readMetrics(spark, out)
      .agg(org.apache.spark.sql.functions.sum("docs_in")).head().getLong(0)

  /** Rows of a metrics frame as (file_id -> counters), for exact comparison. */
  private def byFile(df: org.apache.spark.sql.DataFrame): Map[String, Seq[Any]] =
    df.select("file_id", "docs_in", "docs_ok", "docs_err", "spans_out",
      "bytes_in", "parse_us").collect().map(r => r.getString(0) -> r.toSeq.tail).toMap

  /** Lose one committed file's commit: rewrite the manifest as legacy loose
    * markers for every other id, as if the run crashed after writing that
    * file's output and metrics but before committing it.
    */
  private def loseCommit(out: String, lostId: String): Set[String] = {
    val kept = FileResumableExtract.completedFileIds(spark, out) - lostId
    val mdir = new java.io.File(s"$out/_manifest")
    mdir.listFiles().foreach(f => assert(f.delete()))
    kept.foreach { id =>
      Files.writeString(new java.io.File(mdir, s"file_$id.done").toPath, "")
    }
    kept
  }

  /** Moves a parquet file written under `stage` to `in/name`. */
  private def plantFile(stage: String, in: String, name: String): Unit = {
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, java.nio.file.Paths.get(in, name))
  }

  private def jobGroup(e: SparkListenerEvent): String = e match {
    case j: SparkListenerJobStart =>
      String.valueOf(j.properties.getProperty("spark.jobGroup.id"))
    case _ => ""
  }

  /** The listener events posted while `body` runs, its jobs in job group
    * "probe". A marker job run after it is seen last: the bus delivers
    * events in the order they are posted.
    */
  private def eventsOf(body: => Unit): Seq[SparkListenerEvent] = {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val events = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerEvent]()
    val listener = new SparkFirehoseListener {
      override def onEvent(e: SparkListenerEvent): Unit = events.add(e)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("probe", "probe")
      body
      sc.setJobGroup("marker", "marker")
      spark.range(1).count()
      def markerSeen = events.asScala.exists(jobGroup(_) == "marker")
      val deadline = System.nanoTime() + 30000000000L
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(markerSeen, "marker job never reached the listener")
      events.asScala.toSeq.takeWhile(jobGroup(_) != "marker")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** The stage count of every job `body` starts. */
  private def jobsOf(body: => Unit): Seq[Int] = eventsOf(body).collect {
    case j: SparkListenerJobStart if jobGroup(j) == "probe" => j.stageInfos.size
  }

  test("fileId is the md5 hex of the root-relative path (existing manifests resolve)") {
    assert(FileResumableExtract.fileId("part-00000.parquet") ==
      "537f1e9e100022c1e63abde9e4c97df6")
  }

  test("file-granular resume: no shuffle, no reprocessing, identical convergence") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val base = Files.createTempDirectory("graft_fresume_").toString
    val in = s"$base/docs"
    spark.range(0, 400, 1, 8).map(i => CorpusGen.gen(i)).write.parquet(in)
    val files = FileResumableExtract.inputFiles(spark, in)
    assert(files.size == 8)

    // uninterrupted
    val outA = s"$base/outA"
    assert(FileResumableExtract.run(spark, in, outA) == 400L)
    val golden = hashes(outA)
    assert(golden.size == 400)

    // "killed": only 3 of 8 files commit, plus a partial garbage dir
    val outB = s"$base/outB"
    val firstThree = files.take(3)
      .map(p => FileResumableExtract.fileId(
        new org.apache.hadoop.fs.Path(p).getName)).toSet
    val n1 = FileResumableExtract.run(spark, in, outB, onlyFiles = Some(firstThree))
    assert(n1 > 0 && n1 < 400)
    val someId = FileResumableExtract.fileId(
      new org.apache.hadoop.fs.Path(files.last).getName)
    val partial = new java.io.File(s"$outB/results/file_id=$someId")
    partial.mkdirs()
    Files.writeString(partial.toPath.resolve("part-corrupt.txt"), "junk")

    // resume processes exactly the remainder
    val n2 = FileResumableExtract.run(spark, in, outB)
    assert(n1 + n2 == 400L, s"$n1 + $n2 != 400")
    assert(hashes(outB) == golden)
    assert(!Files.exists(partial.toPath.resolve("part-corrupt.txt")))

    // idempotent third run
    assert(FileResumableExtract.run(spark, in, outB) == 0L)
    assert(FileResumableExtract.completedFileIds(spark, outB).size == 8)

    // lineage is exact across restarts (per-file metrics, no double count)
    val docs = docsIn(outB)
    assert(docs == 400L, s"metrics double-counted: $docs")
  }

  test("a zero-row input file commits in the run that lists it; the next run is a no-op") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val base = Files.createTempDirectory("graft_fresume_empty_").toString
    val in = s"$base/docs"
    spark.range(0, 100, 1, 2).map(i => CorpusGen.gen(i)).write.parquet(in)
    // a third input file holding the schema and no rows
    val stage = s"$base/stage"
    spark.range(0, 0, 1, 1).map(i => CorpusGen.gen(i)).write.parquet(stage)
    plantFile(stage, in, "empty.parquet")
    val ids = FileResumableExtract.inputFilesWithIds(spark, in)
    assert(ids.size == 3)
    val emptyId = FileResumableExtract.fileId("empty.parquet")
    val out = s"$base/out"

    // a run whose only pending file is empty parses nothing, yet commits
    // it: a file with no docs is trivially complete, and leaving it pending
    // would make every later run list and scan it again
    assert(FileResumableExtract.run(spark, in, out, onlyFiles = Some(Set(emptyId))) == 0L)
    assert(FileResumableExtract.completedFileIds(spark, out) == Set(emptyId))

    assert(FileResumableExtract.run(spark, in, out) == 100L)
    assert(FileResumableExtract.completedFileIds(spark, out) == ids.map(_._2).toSet)
    assert(FileResumableExtract.run(spark, in, out) == 0L)
    assert(docsIn(out) == 100L)
  }

  test("results write: unique columns PLAIN-encoded, low-cardinality ones keep a dictionary") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.column.Encoding
    import scala.jdk.CollectionConverters._
    val base = Files.createTempDirectory("graft_fresume_enc_").toString
    val in = s"$base/docs"
    // repeated docs: a dictionary would pay off on every column here, so
    // a column without one shows the writer was told not to build it
    spark.range(0, 200, 1, 2).map(i => CorpusGen.gen(i % 4)).write.parquet(in)
    assert(FileResumableExtract.run(spark, in, s"$base/out") == 200L)
    val part = Files.walk(java.nio.file.Paths.get(s"$base/out/results")).iterator.asScala
      .find(p => p.getFileName.toString.startsWith("part-") &&
        p.toString.endsWith(".parquet")).get
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(part.toString), spark.sparkContext.hadoopConfiguration))
    val cols = try reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
      .map(c => c.getPath.toDotString -> c).toMap
    finally reader.close()
    for (c <- Seq("spans.list.element.text", "doc_id", "content_hash")) {
      assert(cols.contains(c), s"no column $c in ${cols.keys}")
      assert(!cols(c).hasDictionaryPage && cols(c).getEncodings.contains(Encoding.PLAIN),
        s"$c: ${cols(c).getEncodings}")
    }
    assert(cols("spans.list.element.kind").hasDictionaryPage,
      s"kind: ${cols("spans.list.element.kind").getEncodings}")
  }

  test("input basenames needing URI encoding (space, %) keep marker and output ids consistent") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val base = Files.createTempDirectory("graft_fresume_enc_").toString
    val stage = s"$base/stage"
    spark.range(0, 50, 1, 1).map(i => CorpusGen.gen(i))
      .coalesce(1).write.parquet(stage)
    val in = new java.io.File(s"$base/docs"); in.mkdirs()
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    // basename with a space and a literal % — input_file_name() URL-encodes
    // these; fileIdFromUri must decode back to the raw name
    val tricky = new java.io.File(in, "docs part%1 final.parquet")
    Files.move(part.toPath, tricky.toPath)

    val out = s"$base/out"
    assert(FileResumableExtract.run(spark, in.toString, out) == 50L)
    val expectedId = FileResumableExtract.fileId("docs part%1 final.parquet")
    assert(FileResumableExtract.completedFileIds(spark, out) == Set(expectedId))
    assert(new java.io.File(s"$out/results/file_id=$expectedId").exists(),
      "output partition id diverged from the marker id")

    // the regression: a rerun must be a no-op — NOT rollback-delete the
    // committed output while the marker blocks reprocessing (silent loss)
    assert(FileResumableExtract.run(spark, in.toString, out) == 0L)
    assert(hashes(out).size == 50)
  }

  test("metrics replay after a crash between metrics write and marker commit does not double-count") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val base = Files.createTempDirectory("graft_fresume_crash_").toString
    val in = s"$base/docs"
    spark.range(0, 200, 1, 4).map(i => CorpusGen.gen(i)).write.parquet(in)
    val out = s"$base/out"
    assert(FileResumableExtract.run(spark, in, out) == 200L)

    // simulate: one file's commit lost AFTER its metrics/output were
    // written (crash between the metrics publish and manifest commit) —
    // also exercising the loose-marker read path
    val files = FileResumableExtract.inputFiles(spark, in)
    val lostId = FileResumableExtract.fileId(
      new org.apache.hadoop.fs.Path(files.head).getName)
    val kept = loseCommit(out, lostId)
    assert(FileResumableExtract.completedFileIds(spark, out) == kept)

    // restart: rolls back + replays that file; the replay's LATER run row
    // supersedes the orphaned one in readMetrics (no append double-count)
    val n = FileResumableExtract.run(spark, in, out)
    assert(n > 0)
    val docs = docsIn(out)
    assert(docs == 200L, s"metrics double-counted after replay: $docs")
    assert(hashes(out).size == 200)
  }

  test("manifest compaction: resume stays exact across roll-up + legacy-marker merges") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val base = Files.createTempDirectory("graft_fresume_compact_").toString
    val in = s"$base/docs"
    spark.range(0, 400, 1, 8).map(i => CorpusGen.gen(i)).write.parquet(in)
    val files = FileResumableExtract.inputFiles(spark, in)
    val out = s"$base/out"

    // partial run commits one roll-up for 3 files
    val firstThree = files.take(3)
      .map(p => FileResumableExtract.fileId(
        new org.apache.hadoop.fs.Path(p).getName)).toSet
    val n1 = FileResumableExtract.run(spark, in, out, onlyFiles = Some(firstThree))
    assert(FileResumableExtract.completedFileIds(spark, out) == firstThree)

    // age one committed id into a legacy loose marker (mixed manifest)
    val mdir = new java.io.File(s"$out/_manifest")
    val aged = firstThree.head
    Files.writeString(new java.io.File(mdir, s"file_$aged.done").toPath, "")
    assert(FileResumableExtract.completedFileIds(spark, out) == firstThree)

    // compact mid-history: 1 roll-up + 1 loose marker -> single roll-up
    FileResumableExtract.compactManifest(spark, out)
    assert(mdir.listFiles().count(_.getName.endsWith(".manifest")) == 1)
    assert(!mdir.listFiles().exists(_.getName.endsWith(".done")))
    assert(FileResumableExtract.completedFileIds(spark, out) == firstThree)

    // resume across the compaction: processes exactly the remainder
    val n2 = FileResumableExtract.run(spark, in, out)
    assert(n1 + n2 == 400L, s"$n1 + $n2 != 400")
    assert(FileResumableExtract.completedFileIds(spark, out).size == 8)
    assert(hashes(out).size == 400)

    // compact the full history and prove resume is STILL a no-op
    FileResumableExtract.compactManifest(spark, out)
    assert(mdir.listFiles().count(_.getName.endsWith(".manifest")) == 1)
    assert(FileResumableExtract.run(spark, in, out) == 0L)
    assert(hashes(out).size == 400)
    // compacting a compacted manifest is a no-op
    FileResumableExtract.compactManifest(spark, out)
    assert(mdir.listFiles().count(_.getName.endsWith(".manifest")) == 1)
  }

  test("nested input tree: recursive listing, root-relative ids, hidden dirs skipped") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val base = Files.createTempDirectory("graft_fresume_nest_").toString

    // two date partitions whose data files share the SAME basename — the
    // exact layout a basename-hashed id would collide on — plus a hidden
    // `_staging` dir that must be ignored
    val in = new java.io.File(s"$base/docs"); in.mkdirs()
    def plant(sub: String, range: (Long, Long)): String = {
      val stage = s"$base/stage_${sub.replace('=', '_').replace('-', '_')}"
      spark.range(range._1, range._2, 1, 1).map(i => CorpusGen.gen(i))
        .coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dir = new java.io.File(in, sub); dir.mkdirs()
      val dst = new java.io.File(dir, "part-00000.parquet")
      Files.move(part.toPath, dst.toPath)
      s"$sub/part-00000.parquet"
    }
    val relA = plant("date=2024-01-01", (0L, 60L))
    val relB = plant("date=2024-01-02", (60L, 100L))
    val hidden = new java.io.File(in, "_staging"); hidden.mkdirs()
    Files.writeString(new java.io.File(hidden, "junk.parquet").toPath, "not parquet")

    val files = FileResumableExtract.inputFiles(spark, in.toString)
    assert(files.size == 2, s"recursive listing found: $files")

    val out = s"$base/out"
    assert(FileResumableExtract.run(spark, in.toString, out) == 100L)
    val ids = FileResumableExtract.completedFileIds(spark, out)
    assert(ids == Set(FileResumableExtract.fileId(relA),
      FileResumableExtract.fileId(relB)),
      "ids must hash the root-relative path, distinctly per subdir")
    assert(hashes(out).size == 100)

    // resume across the nested tree is a no-op; output ids match markers
    assert(FileResumableExtract.run(spark, in.toString, out) == 0L)
    ids.foreach { id =>
      assert(new java.io.File(s"$out/results/file_id=$id").exists(),
        "output partition id diverged from the marker id")
    }
  }

  test("randomized kill-point sweep: resume + compaction converge byte-identically from any crash interleaving") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val base = Files.createTempDirectory("graft_fresume_kill_").toString
    val in = s"$base/docs"
    spark.range(0, 80, 1, 8).map(i => CorpusGen.gen(i)).write.parquet(in)
    val allIds = FileResumableExtract.inputFiles(spark, in)
      .map(p => FileResumableExtract.fileId(
        new org.apache.hadoop.fs.Path(p).getName)).toSet
    assert(allIds.size == 8)

    val golden = {
      val o = s"$base/golden"
      assert(FileResumableExtract.run(spark, in, o) == 80L)
      hashes(o)
    }

    // deterministic seed: the sweep must be reproducible in CI; the seed is
    // arbitrary but fixed, and the kill tally below proves it exercises
    // every inter-phase window
    val rnd = new scala.util.Random(20260817L)
    val kills = scala.collection.mutable.Map[String, Int]()
    for (iter <- 0 until 10) {
      val out = s"$base/out_$iter"
      var safety = 0
      while (FileResumableExtract.completedFileIds(spark, out) != allIds
        && safety < 40) {
        safety += 1
        val pending = (allIds -- FileResumableExtract.completedFileIds(spark, out)).toSeq.sorted
        // random nonempty subset of the pending files for this attempt
        val take = 1 + rnd.nextInt(pending.size)
        val subset = rnd.shuffle(pending).take(take).toSet
        val fail = rnd.nextInt(4) match {
          case 0 => Some("rollback")
          case 1 => Some("write")
          case 2 => Some("metrics")
          case _ => None
        }
        try {
          FileResumableExtract.run(spark, in, out,
            onlyFiles = Some(subset), failAfter = fail)
          assert(fail.isEmpty, s"failAfter=$fail did not throw")
        } catch {
          case FileResumableExtract.InjectedKill(p) =>
            kills(p) = kills.getOrElse(p, 0) + 1
        }
        if (rnd.nextBoolean()) FileResumableExtract.compactManifest(spark, out)
      }
      assert(safety < 40, s"iteration $iter did not converge")
      // converged state is byte-identical to the uninterrupted run, and
      // lineage metrics count every doc exactly once
      assert(hashes(out) == golden, s"iteration $iter diverged")
      val docs = docsIn(out)
      assert(docs == 80L, s"iteration $iter metrics double-counted: $docs")
    }
    val totalKills = kills.values.sum
    assert(totalKills >= 20, s"sweep only injected $totalKills kills: $kills")
    assert(kills.keySet == Set("rollback", "write", "metrics"),
      s"some inter-phase window never exercised: $kills")
  }

  test("readMetrics ignores an uncommitted metrics run dir (no _SUCCESS)") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val base = Files.createTempDirectory("graft_fresume_msucc_").toString
    val in = s"$base/docs"
    spark.range(0, 100, 1, 2).map(i => CorpusGen.gen(i)).write.parquet(in)
    val out = s"$base/out"
    assert(FileResumableExtract.run(spark, in, out) == 100L)
    val before = docsIn(out)
    assert(before == 100L)

    // fabricate a torn metrics write: a run dir holding a stray copy of a
    // committed part file but NO _SUCCESS marker (crash mid-write)
    val runs = new java.io.File(s"$out/metrics")
    val committed = runs.listFiles().find(_.getName.startsWith("run_")).get
    val torn = new java.io.File(runs, "run_9999")
    torn.mkdirs()
    val part = committed.listFiles().find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, new java.io.File(torn, part.getName).toPath)

    // the torn run must not shadow (or double) the committed rows
    val after = docsIn(out)
    assert(after == 100L, s"torn metrics run leaked into the view: $after")
  }

  test("one Spark job per leg: the results write, in one stage; nothing pending starts none") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    // more input files than the paths a spark.read.parquet(paths) lists
    // without a job of its own
    assert(spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt < 40)
    val base = Files.createTempDirectory("graft_fresume_jobs_").toString
    val in = s"$base/docs"
    spark.range(0, 400, 1, 40).map(i => CorpusGen.gen(i)).write.parquet(in)
    assert(FileResumableExtract.inputFiles(spark, in).size == 40)
    val out = s"$base/out"
    var n = 0L
    assert(jobsOf { n = FileResumableExtract.run(spark, in, out) } == Seq(1))
    assert(n == 400L)
    assert(jobsOf { n = FileResumableExtract.run(spark, in, out) } == Seq.empty)
    assert(n == 0L)
    assert(docsIn(out) == 400L)
  }

  test("the per-file counts are left out of the accumulators each finished task reports") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val base = Files.createTempDirectory("graft_fresume_acc_").toString
    val in = s"$base/docs"
    spark.range(0, 200, 1, 4).map(i => CorpusGen.gen(i)).write.parquet(in)
    val ids = FileResumableExtract.inputFilesWithIds(spark, in).map(_._2)
    val events = eventsOf { FileResumableExtract.run(spark, in, s"$base/out") }
    val stages = events.collect {
      case j: SparkListenerJobStart if jobGroup(j) == "probe" => j.stageIds
    }.flatten.toSet
    val reported = events.collect {
      case t: SparkListenerTaskEnd if stages(t.stageId) => t.taskInfo.accumulables
    }.flatten
    assert(reported.nonEmpty, "the write's tasks reported no SQL metrics")
    // what a task reports goes to the UI and the event log, once per task
    val leaked = reported.filter(a =>
      (a.update ++ a.value).exists(v => ids.exists(String.valueOf(v).contains)))
    assert(leaked.isEmpty, s"file ids in reported accumulators: ${leaked.map(_.name)}")
  }

  test("readMetrics equals unitMetrics over the written results; a zero-row file has no row") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val base = Files.createTempDirectory("graft_fresume_parity_").toString
    val in = s"$base/docs"
    spark.range(0, 300, 1, 6).map(i => CorpusGen.gen(i)).write.parquet(in)
    val stage = s"$base/stage"
    spark.range(0, 0, 1, 1).map(i => CorpusGen.gen(i)).write.parquet(stage)
    plantFile(stage, in, "empty.parquet")
    val ids = FileResumableExtract.inputFilesWithIds(spark, in).map(_._2)
    assert(ids.size == 7)
    val emptyId = FileResumableExtract.fileId("empty.parquet")
    val out = s"$base/out"
    // two legs, so the view spans two metrics runs
    val first = ids.filter(_ != emptyId).take(3).toSet + emptyId
    val n1 = FileResumableExtract.run(spark, in, out, onlyFiles = Some(first))
    val n2 = FileResumableExtract.run(spark, in, out)
    assert(n1 + n2 == 300L)

    val metrics = byFile(FileResumableExtract.readMetrics(spark, out))
    val expected = byFile(ExtractJob.unitMetrics(
      FileResumableExtract.readResults(spark, out), "file_id"))
    assert(metrics.keySet == ids.toSet - emptyId)
    assert(metrics == expected)
  }

  test("metrics runs written by older builds read alongside new ones; the later run wins") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val base = Files.createTempDirectory("graft_fresume_mixed_").toString
    val in = s"$base/docs"
    spark.range(0, 200, 1, 4).map(i => CorpusGen.gen(i)).write.parquet(in)
    val out = s"$base/out"
    assert(FileResumableExtract.run(spark, in, out) == 200L)

    // replace the metrics with one run written the way older builds wrote
    // it: a Spark write of the unitMetrics roll-up of the results
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$out/metrics"))
    ExtractJob.unitMetrics(FileResumableExtract.readResults(spark, out), "file_id")
      .withColumn("run", lit(0L)).coalesce(1)
      .write.parquet(s"$out/metrics/run_0")
    val old = byFile(spark.read.parquet(s"$out/metrics/run_0"))

    // replay one file: its new row lands in run_1 and supersedes run_0's
    val lostId = FileResumableExtract.fileId(new org.apache.hadoop.fs.Path(
      FileResumableExtract.inputFiles(spark, in).head).getName)
    loseCommit(out, lostId)
    assert(FileResumableExtract.run(spark, in, out) > 0L)
    val replayed = byFile(spark.read.parquet(s"$out/metrics/run_1"))
    assert(replayed.keySet == Set(lostId))

    val metrics = byFile(FileResumableExtract.readMetrics(spark, out))
    assert(metrics == old ++ replayed)
    assert(metrics == byFile(ExtractJob.unitMetrics(
      FileResumableExtract.readResults(spark, out), "file_id")))
    assert(docsIn(out) == 200L)
  }

  test("a pending input file without a spans column fails the run before anything is written") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val base = Files.createTempDirectory("graft_fresume_schema_").toString
    val in = s"$base/docs"
    spark.range(0, 100, 1, 2).map(i => CorpusGen.gen(i)).write.parquet(in)
    val out = s"$base/out"
    assert(FileResumableExtract.run(spark, in, out) == 100L)
    val stage = s"$base/stage"
    spark.range(0, 10, 1, 1).map(i => CorpusGen.gen(i).doc_id).toDF("doc_id")
      .write.parquet(stage)
    plantFile(stage, in, "no_spans.parquet")

    def tree(): Seq[(String, Long)] = {
      import scala.jdk.CollectionConverters._
      Files.walk(java.nio.file.Paths.get(out)).iterator.asScala
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toSeq.sorted
    }
    val before = tree()
    intercept[org.apache.spark.sql.AnalysisException] {
      FileResumableExtract.run(spark, in, out)
    }
    assert(tree() == before, "the failed run changed the output dir")
    assert(hashes(out).size == 100)
    assert(docsIn(out) == 100L)
  }

  test("a metrics run whose data file fails to write gets no _SUCCESS") {
    val base = Files.createTempDirectory("graft_fresume_mfail_").toString
    val dir = new java.io.File(s"$base/metrics/run_0")
    // a directory where the data file goes makes its write fail
    val blocked = new java.io.File(dir, "part-00000.parquet")
    blocked.mkdirs()
    Files.writeString(new java.io.File(blocked, "x").toPath, "x")
    intercept[java.io.IOException] {
      FileResumableExtract.writeMetricsRun(spark,
        new org.apache.hadoop.fs.Path(dir.toString), Map("a" -> Array.fill(6)(1L)), 0L)
    }
    assert(!new java.io.File(dir, "_SUCCESS").exists(), "_SUCCESS written before the data")
    assert(FileResumableExtract.readMetrics(spark, base).count() == 0L)
  }
}
