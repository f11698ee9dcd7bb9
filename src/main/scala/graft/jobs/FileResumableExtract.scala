package graft.jobs

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT64}
import org.apache.spark.sql.{DataFrame, GraftColumns, SparkSession, SaveMode}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation,
  InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.util.AccumulatorV2
import graft.model.{CanonicalSignature, InputDoc}
import graft.parse.{DocParser, PyCompat, SignatureTable}
import org.apache.spark.TaskContext
import scala.collection.mutable

/** The extraction job: checkpoint/resume at INPUT-FILE granularity, with
  * per-file lineage/metrics rows (north rule). [[ExtractMain]] runs it.
  *
  * Tracking completed INPUT FILES (exactly how Structured Streaming's file
  * source checkpoints) needs no shuffle: a design that hash-shuffles docs
  * into resume buckets before parsing, so sink files align with resume
  * units, moves every raw byte once at 100 TB — the single most expensive
  * avoidable operation in the job.
  *
  *  - the resume unit is one input parquet file; `file_id` =
  *    md5(root-relative path), a fixed-width safe partition value;
  *  - parse runs on the scan's own splits (raw bytes never
  *    move); output is written `partitionBy("file_id")`, so each task
  *    writes only into its own file's partition dirs;
  *  - a run is ONE Spark job of one stage, the results write, however many
  *    files are pending: the scan is built from the driver's own listing
  *    (Spark lists nothing), its schema comes from a footer read, and the
  *    per-file lineage rows are counted by an accumulator in the write's
  *    own tasks ([[FileCounts]]) and written from the driver;
  *  - a file is COMMITTED iff its id appears in a `_manifest` roll-up
  *    (one immutable `rollup_N.manifest` per run, written atomically after
  *    the write job commits) or as a loose `file_<id>.done` marker (the
  *    only commit record of output dirs written by older builds — without
  *    it, resume would roll back and re-extract their committed output,
  *    bringing back docs that retention purged); reads take the union,
  *    [[compactManifest]] merges history back to one file; rollback-on-start
  *    deletes uncommitted `file_id=` dirs;
  *  - resume lists input files, anti-joins the manifest, and scans ONLY
  *    the pending files — committed input is never re-read, let alone
  *    re-parsed (file-level pruning beats even partition pruning).
  *
  * Resume granularity follows input file sizing (fine if the table is
  * written with sane file sizes, as Iceberg enforces). The manifest grows
  * with RUN count (one roll-up per run, ids batched inside), and
  * [[compactManifest]] merges roll-ups + loose markers into a single file —
  * the same shape as Iceberg snapshot-log compaction, mirrored locally.
  */
object FileResumableExtract {

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(out: String) = new Path(s"$out/_manifest")

  /** File id = md5 of the input file's ROOT-RELATIVE path (not the bare
    * basename): nested layouts (date partitions, Iceberg data dirs) reuse
    * basenames like `part-00000.parquet` across subdirs, which would
    * collide into one id — one file's commit marker silently masking
    * another's pending work. For a flat input dir the relative path IS the
    * basename, so flat-layout ids (and existing manifests) are unchanged.
    */
  def fileId(relPath: String): String = PyCompat.md5Hex(relPath)

  /** The input root's decoded absolute filesystem path — the prefix
    * stripped to form root-relative ids on both the driver (listing) and
    * executor ([[fileIdFromUri]]) sides.
    */
  def rootFsPath(spark: SparkSession, inPath: String): String =
    fs(spark, inPath).getFileStatus(new Path(inPath)).getPath.toUri.getPath

  /** `input_file_name()` returns the task's file as a URL-ENCODED URI
    * string; the driver-side manifest ids are computed from the RAW
    * root-relative path. Both sides must hash the same string, or a path
    * needing encoding (space, `%`, non-ASCII) would write output under one
    * id and its commit marker under another — rollback would then delete
    * committed output. `URI.getPath` percent-decodes without `+`-to-space
    * mangling (unlike URLDecoder), recovering the raw path; `rootPath` is
    * the driver-resolved [[rootFsPath]], captured into the task closure.
    */
  def fileIdFromUri(rootPath: String, fileUri: String): String =
    fileId(relativeTo(rootPath, new java.net.URI(fileUri).getPath))

  /** The one root-relative path rule behind every file id, on the driver
    * (listing) and executor ([[fileIdFromUri]]) sides alike: the path below
    * `rootPath`, or the basename when the input root is a single file.
    */
  private def relativeTo(rootPath: String, absPath: String): String =
    if (absPath.startsWith(rootPath + "/")) absPath.substring(rootPath.length + 1)
    else absPath.substring(absPath.lastIndexOf('/') + 1)

  /** RECURSIVE input listing of (absolute path, file id) pairs — the id
    * hashed from the root-relative path (see [[fileId]]). Nested layouts
    * (date partitions, Iceberg-ish `data/` trees) are first-class, not
    * silently skipped. Any path component starting with `_` or `.` is
    * excluded (metadata dirs like `_manifest`, `_SUCCESS`, hidden temp
    * dirs) — the same convention Spark's own file index applies. One
    * listing feeds the scan, the manifest anti-join, and the commit roll-up.
    *
    * Local (`file:`) roots walk via java.nio instead of Hadoop's
    * `listFiles(recursive)`: RawLocalFileSystem materializes POSIX
    * permissions PER FILE during the recursive walk — measured 3.9 ms/file
    * (tools/ListingScale), which turns a 10⁶-file listing into ~65 minutes
    * of driver wall; the NIO walk streams the same dirents in seconds. On
    * cluster filesystems (HDFS/S3) the Hadoop path stays — their listings
    * batch thousands of entries per RPC and have no such constant.
    */
  def inputFilesWithIds(spark: SparkSession, inPath: String): Seq[(String, String)] =
    inputStatuses(spark, inPath).map { case (st, id) => (st.getPath.toUri.getPath, id) }

  /** The listing behind [[inputFilesWithIds]]: each file's status (qualified
    * path, length, modification time — all a scan of it needs) with its id,
    * so run() scans what it listed without Spark listing it again.
    */
  private def inputStatuses(spark: SparkSession, inPath: String): Seq[(FileStatus, String)] = {
    val f = fs(spark, inPath)
    val root = f.getFileStatus(new Path(inPath)).getPath
    val rootPath = root.toUri.getPath
    val buf = scala.collection.mutable.ArrayBuffer[(String, FileStatus, String)]()
    def add(absPath: String, st: => FileStatus): Unit = {
      val rel = relativeTo(rootPath, absPath)
      if (rel.endsWith(".parquet") &&
        rel.split('/').forall(c => !c.startsWith("_") && !c.startsWith(".")))
        buf += ((absPath, st, fileId(rel)))
    }
    if (root.toUri.getScheme == "file") {
      val blockSize = f.getDefaultBlockSize(root)
      val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(rootPath))
      try stream.forEach { p =>
        scala.util.Try(java.nio.file.Files.readAttributes(p,
          classOf[java.nio.file.attribute.BasicFileAttributes]))
          .filter(_.isRegularFile).foreach { a =>
            add(p.toString, new FileStatus(a.size, false, 1,
              blockSize, a.lastModifiedTime.toMillis, f.makeQualified(new Path(p.toString))))
          }
      } finally stream.close()
    } else {
      val it = f.listFiles(root, true)
      while (it.hasNext) {
        val st = it.next()
        add(st.getPath.toUri.getPath, st)
      }
    }
    buf.sortBy(_._1).map(e => (e._2, e._3)).toSeq
  }

  /** Committed = present in any roll-up manifest OR as a loose
    * `file_<id>.done` marker. Runs commit one roll-up per (re)start, so the
    * manifest grows with RUN count, not file count; [[compactManifest]]
    * merges history back to a single file (the Iceberg snapshot-log-
    * compaction shape, on the local marker stand-in).
    */
  def completedFileIds(spark: SparkSession, out: String): Set[String] = {
    val f = fs(spark, out)
    val dir = manifestDir(out)
    if (!f.exists(dir)) Set.empty
    else {
      val sts = f.listStatus(dir)
      val loose = sts.iterator.map(_.getPath.getName).collect {
        case n if n.startsWith("file_") && n.endsWith(".done") =>
          n.stripPrefix("file_").stripSuffix(".done")
      }.toSet
      val rolled = sts.iterator
        .filter(st => isRollup(st.getPath.getName))
        .flatMap(st => readLines(f, st.getPath)).toSet
      loose ++ rolled
    }
  }

  private def isRollup(name: String): Boolean =
    name.startsWith("rollup_") && name.endsWith(".manifest")

  private def readLines(f: FileSystem, p: Path): Seq[String] = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Append one immutable roll-up manifest (temp write + rename — readers
    * never observe a partial file; a crash leaves only an ignorable
    * `.tmp`).
    */
  private def writeRollup(f: FileSystem, out: String, ids: Seq[String]): Path = {
    val dir = manifestDir(out)
    f.mkdirs(dir)
    val existing =
      f.listStatus(dir).iterator.map(_.getPath.getName).filter(isRollup)
        .map(_.stripPrefix("rollup_").stripSuffix(".manifest").toLong)
    val idx = (existing ++ Iterator(-1L)).max + 1
    val name = f"rollup_$idx%06d.manifest"
    val tmp = new Path(dir, s".$name.tmp")
    val os = f.create(tmp, true)
    try os.write((ids.mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
    val dst = new Path(dir, name)
    if (!f.rename(tmp, dst))
      throw new java.io.IOException(s"manifest roll-up rename $tmp -> $dst failed")
    dst
  }

  /** Merge every roll-up and loose marker into ONE fresh roll-up, then
    * delete the merged sources. Any crash ordering is safe: the new
    * roll-up is renamed in before anything is deleted, so ids are at worst
    * present twice — and reads take the union.
    */
  def compactManifest(spark: SparkSession, out: String): Unit = {
    val f = fs(spark, out)
    val dir = manifestDir(out)
    if (!f.exists(dir)) return
    val sts = f.listStatus(dir).filter { st =>
      val n = st.getPath.getName
      isRollup(n) || (n.startsWith("file_") && n.endsWith(".done"))
    }
    if (sts.length <= 1 && sts.forall(st => isRollup(st.getPath.getName))) return
    val ids = completedFileIds(spark, out).toSeq.sorted
    writeRollup(f, out, ids)
    sts.foreach(st => f.delete(st.getPath, false))
  }

  /** Deletes the `file_id=` result dirs not in `done`, the already-read
    * manifest: run() passes its own copy so a restart reads the manifest
    * once, not once per phase.
    */
  def rollbackUncommitted(spark: SparkSession, out: String, done: Set[String]): Unit = {
    val f = fs(spark, out)
    val resultsDir = new Path(s"$out/results")
    if (f.exists(resultsDir))
      f.listStatus(resultsDir).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("file_id=") && !done.contains(n.stripPrefix("file_id=")))
          f.delete(st.getPath, true)
      }
  }

  /** The per-file lineage counters, in column order: the columns of
    * [[ExtractJob.unitMetrics]] after its unit column.
    */
  private val Counters =
    Seq("docs_in", "docs_ok", "docs_err", "spans_out", "bytes_in", "parse_us")

  /** Per-file lineage counters, added to by the results write's own tasks,
    * one [[Counters]] array per `file_id`. Spark merges a result task's
    * accumulator updates once per partition, dropping failed attempts and
    * speculative duplicates, so the sums are exact as long as the counting
    * stays in the write's single result stage (no shuffle in front of it).
    */
  private[jobs] final class FileCounts extends AccumulatorV2[
      (String, ExtractJob.ExtractedRow), mutable.HashMap[String, Array[Long]]] {
    private val byFile = mutable.HashMap.empty[String, Array[Long]]
    private def counts(fid: String) =
      byFile.getOrElseUpdate(fid, new Array[Long](Counters.size))
    def isZero: Boolean = byFile.isEmpty
    def copy(): FileCounts = { val c = new FileCounts; c.merge(this); c }
    def reset(): Unit = byFile.clear()
    def add(v: (String, ExtractJob.ExtractedRow)): Unit = {
      val (fid, r) = v
      val c = counts(fid)
      c(0) += 1
      // the error rule of ExtractJob.unitMetrics: "" is ok, any other an error
      if (r.error.isEmpty) c(1) += 1 else c(2) += 1
      c(3) += r.n_spans
      c(4) += r.bytes_in
      c(5) += r.parse_us
    }
    def merge(other: AccumulatorV2[(String, ExtractJob.ExtractedRow),
        mutable.HashMap[String, Array[Long]]]): Unit =
      other.value.foreach { case (fid, o) =>
        val c = counts(fid)
        for (i <- c.indices) c(i) += o(i)
      }
    def value: mutable.HashMap[String, Array[Long]] = byFile
  }

  /** Publish one metrics run from the driver: `dir/part-00000.parquet`, one
    * row per file sorted by `file_id`, then `_SUCCESS` LAST, so a crash
    * mid-write leaves a run [[readMetrics]] skips. The columns and types are
    * those a Spark write of `unitMetrics(...).withColumn("run", lit(run))`
    * produced (`file_id` string, bigint counters, bigint `run`), so runs
    * written by older builds read alongside.
    */
  private[jobs] def writeMetricsRun(spark: SparkSession, dir: Path,
      byFile: collection.Map[String, Array[Long]], run: Long): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val schema = (Counters :+ "run").foldLeft(Types.buildMessage()
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("file_id"))(
      (b, c) => b.required(INT64).named(c)).named("spark_schema")
    val rows = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(dir, "part-00000.parquet"), conf))
      .withConf(conf).withType(schema)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try byFile.toSeq.sortBy(_._1).foreach { case (fid, c) =>
      val g = rows.newGroup().append("file_id", fid)
      Counters.indices.foreach(i => g.append(Counters(i), c(i)))
      w.write(g.append("run", run))
    } finally w.close()
    dir.getFileSystem(conf).create(new Path(dir, "_SUCCESS"), true).close()
  }

  /** The schema of one input file, read from its footer on the driver: the
    * schema Spark's non-merging parquet inference derives from one file,
    * without the one-task job that inference launches. A file lacking a
    * column the parse selects then fails at analysis, before any write.
    */
  private def footerSchema(spark: SparkSession, file: FileStatus): StructType = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(file,
      spark.sparkContext.hadoopConfiguration))
    try new ParquetToSparkSchemaConverter(spark.sessionState.conf)
      .convert(r.getFileMetaData.getSchema)
    finally r.close()
  }

  /** A parquet scan of exactly `files`, as listed by [[inputStatuses]], with
    * the first file's [[footerSchema]]. `spark.read.parquet(paths)` would
    * list the paths again, and above
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) paths it
    * lists them in a Spark job. Here the file index's cache already holds
    * every file, so nothing is listed and the scan starts no job of its own.
    * The data schema is made nullable, as every file-source read makes it.
    */
  private def scanOf(spark: SparkSession, files: Seq[FileStatus]): DataFrame = {
    val listed = files.iterator.map(st => st.getPath -> Array(st)).toMap
    val cache = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = listed.get(path)
      def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    val schema = GraftColumns.asNullable(footerSchema(spark, files.head))
    val index = new InMemoryFileIndex(spark, files.map(_.getPath), Map.empty,
      Some(schema), cache)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, new StructType(), schema,
      None, new ParquetFileFormat, Map.empty)(spark))
  }

  private def nextMetricsRun(f: FileSystem, out: String): Long = {
    val dir = new Path(s"$out/metrics")
    if (!f.exists(dir)) 0L
    else f.listStatus(dir).iterator.map(_.getPath.getName)
      .filter(_.startsWith("run_"))
      .map(n => scala.util.Try(n.stripPrefix("run_").toLong).getOrElse(-1L))
      .foldLeft(-1L)(math.max) + 1
  }

  /** Per-file lineage/metrics view with replay supersession: reads every
    * COMMITTED `metrics/run_<k>` dir (the `_SUCCESS` marker gates out a run
    * whose write was interrupted) and keeps, per file_id, only the row from
    * the LATEST run — a file replayed after a lost commit contributes once,
    * from the run that actually produced its surviving output. Cost at any
    * scale: one shuffle over #files scalar rows.
    */
  def readMetrics(spark: SparkSession, out: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val f = fs(spark, out)
    val dir = new Path(s"$out/metrics")
    val dirs =
      if (!f.exists(dir)) Seq.empty
      else f.listStatus(dir).iterator
        .filter(st => st.getPath.getName.startsWith("run_") &&
          f.exists(new Path(st.getPath, "_SUCCESS")))
        .map(_.getPath.toString).toSeq.sorted
    // A fully successful run over an input of only EMPTY files writes no
    // metrics run at all (run() writes one only if a row was counted), so
    // "no committed runs" is a legitimate committed state, not corruption —
    // lineage reads get zero rows with the unitMetrics schema, not a crash.
    if (dirs.isEmpty) {
      val schema = Counters.foldLeft(new StructType().add("file_id", StringType))(
        _.add(_, LongType))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
    val w = Window.partitionBy("file_id").orderBy(col("run").desc)
    spark.read.parquet(dirs: _*)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "run")
  }

  /** The results table's schema, stated explicitly: [[ExtractJob.ExtractedRow]]'s
    * columns plus the `file_id` STRING partition column. Reads pass it via
    * `spark.read.schema(...)` so partition-type inference never runs —
    * an all-digit hex id set would otherwise infer DECIMAL, dropping
    * leading zeros (and a retention rewrite would then stage partitions
    * under the wrong dir names). An explicit schema (rather than toggling
    * `spark.sql.sources.partitionColumnTypeInference.enabled` around the
    * read) keeps concurrent reads in one SparkSession from interleaving a
    * session-global set/restore and leaking the wrong value to unrelated
    * queries.
    */
  private[graft] val resultsSchema: StructType =
    org.apache.spark.sql.Encoders.product[ExtractJob.ExtractedRow].schema
      .add("file_id", StringType)

  /** The extracted results table, retention-consistent: rolls a crashed
    * [[deleteWhere]] swap forward first (intent-present only — the
    * reader-safe recovery scope, see [[graft.sources.RetentionSwap]]).
    * `file_id` stays a STRING via the explicit [[resultsSchema]].
    */
  def readResults(spark: SparkSession, out: String): DataFrame = {
    graft.sources.RetentionSwap.recover(spark, out, discardIntentless = false)
    spark.read.schema(resultsSchema).parquet(s"$out/results")
  }

  /** Retention delete — `DELETE FROM results WHERE predicate` via the
    * [[graft.sources.RetentionSwap]] staged swap of `file_id=` partitions.
    * The commit manifest is untouched: a purged input file stays committed,
    * so a subsequent resume run remains a no-op and deleted documents are
    * never re-extracted from still-present input. Single maintenance
    * process per output dir (see RetentionSwap's concurrency contract);
    * concurrent readers and resume runs only ever roll a swap forward.
    */
  def deleteWhere(spark: SparkSession, out: String,
      predicate: org.apache.spark.sql.Column): Long =
    graft.sources.RetentionSwap.deleteWhere(spark, out, predicate,
      () => readResults(spark, out))

  /** Test-only injected crash (see `run`'s `failAfter`): thrown AFTER the
    * named phase completes, simulating a kill in the window before the next
    * phase starts — the randomized kill-point sweep in FileResumeSpec
    * drives it.
    */
  final case class InjectedKill(point: String)
    extends RuntimeException(s"injected kill after phase '$point'")

  /** One (re)start. Returns docs processed by THIS invocation.
    * `timings`, when supplied, receives per-phase wall seconds
    * (rollback / write / metrics / commit) for scaling diagnosis.
    * `failAfter` (tests only) throws [[InjectedKill]] after the named
    * phase ("rollback" | "write" | "metrics"), simulating a crash in each
    * inter-phase window.
    */
  def run(
      spark: SparkSession,
      inPath: String,
      outPath: String,
      table: Seq[CanonicalSignature] = SignatureTable.Default,
      onlyFiles: Option[Set[String]] = None,
      timings: Option[scala.collection.mutable.Map[String, Double]] = None,
      failAfter: Option[String] = None): Long = {
    import spark.implicits._
    def timed[A](phase: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      timings.foreach(m => m(phase) = m.getOrElse(phase, 0.0) +
        (System.nanoTime() - t0) / 1e9)
      if (failAfter.contains(phase)) throw InjectedKill(phase)
      r
    }
    // roll a crashed retention swap FORWARD first (intent-present only —
    // same reader-safe scope as readResults): affected file_ids stay
    // committed in the manifest, so without recovery the resume below
    // would neither restore nor reprocess their half-swapped output
    graft.sources.RetentionSwap.recover(spark, outPath, discardIntentless = false)
    val done = completedFileIds(spark, outPath)
    timed("rollback")(rollbackUncommitted(spark, outPath, done))
    // relative paths hashed ONCE per restart; the id list feeds the scan
    // filter and the commit roll-up
    val pendingPairs = inputStatuses(spark, inPath)
      .filter { case (_, id) =>
        !done.contains(id) && onlyFiles.forall(_.contains(id))
      }
    if (pendingPairs.isEmpty) return 0L

    // Scan ONLY the pending files; no shuffle anywhere in the job.
    val bc = spark.sparkContext.broadcast(table)
    val rootPath = rootFsPath(spark, inPath) // driver-side capture
    // registered WITHOUT a name: Spark copies a named accumulator's value
    // into every finished task's info (UI, event log) — here a map over
    // every file of the run, once per task
    val counts = new FileCounts
    spark.sparkContext.register(counts)
    val results = scanOf(spark, pendingPairs.map(_._1))
      .select(col("doc_id").as("_1"), col("spans").as("_2"),
        input_file_name().as("_3"))
      .as[(String, Seq[graft.model.Span], String)]
      .mapPartitions { iter =>
        val pool = DocParser.pooled(bc.value)
        val pid = TaskContext.getPartitionId()
        // one fileId hash per distinct URI. A memo map instead of a
        // last-entry cache: FileScanRDD happens to deliver rows clustered
        // by file today, but nothing downstream should depend on that
        // ordering — an interleaving source would silently mislabel rows
        // under a single-entry cache. Same amortized cost (one hash per
        // distinct file per task).
        val fidMemo = new scala.collection.mutable.HashMap[String, String]()
        iter.map { case (docId, spans, uri) =>
          val fid = fidMemo.getOrElseUpdate(uri, fileIdFromUri(rootPath, uri))
          val row = ExtractJob.rowOf(InputDoc(docId, spans), pool, pid)
          counts.add((fid, row))
          (row, fid)
        }
      }
      .select(col("_1.*"), col("_2").as("file_id"))

    timed("write") {
      // dynamic overwrite, per write: only the partitions this run writes
      // are replaced; committed file_id dirs stay. Span texts, doc ids and
      // content hashes are (nearly) unique: a dictionary hashes every value
      // and saves little or nothing (ids and hashes fall back to PLAIN
      // anyway). Low-cardinality columns keep theirs.
      results.write.mode(SaveMode.Overwrite)
        .partitionBy("file_id")
        .option("partitionOverwriteMode", "dynamic")
        .option("parquet.enable.dictionary#spans.list.element.text", "false")
        .option("parquet.enable.dictionary#doc_id", "false")
        .option("parquet.enable.dictionary#content_hash", "false")
        .parquet(s"$outPath/results")
    }

    // Metrics per commit unit (file_id), published as ONE `run_<k>` dir per
    // (re)start — the same roll-up shape as the manifest — from the counts
    // the write's tasks gathered: no second pass over the output. Replay
    // idempotency lives in the reader ([[readMetrics]]): a file replayed
    // after a crash between this write and its commit gets a row in a
    // LATER run, which supersedes — lineage sums never double-count. A
    // zero-row file gets no row (as it writes no partition), and a run of
    // only zero-row files writes no metrics run.
    timed("metrics") {
      if (counts.value.nonEmpty) {
        val f = fs(spark, outPath)
        val runId = nextMetricsRun(f, outPath)
        writeMetricsRun(spark, new Path(s"$outPath/metrics/run_$runId"),
          counts.value, runId)
      }
    }
    timed("commit") {
      // ONE roll-up manifest per run, not one marker file per input file:
      // the commit barrier is O(1) filesystem operations regardless of how
      // many files the run covered (the per-file marker loop was a
      // measured scale-INVARIANT ~2s tail at 64 files — pure constant
      // cost that capped whole-job scaling efficiency).
      writeRollup(fs(spark, outPath), outPath, pendingPairs.map(_._2))
    }
    counts.value.valuesIterator.map(_(0)).sum
  }
}
