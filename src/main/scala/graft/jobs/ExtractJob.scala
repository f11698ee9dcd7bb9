package graft.jobs

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{CanonicalSignature, InputDoc, ParsedDoc}
import graft.parse.{DocParser, SignatureTable}

/** The distributed parse: docs table → canonical span table (north rule).
  * [[FileResumableExtract]] is the one job that writes it, with
  * checkpoint/resume and per-file lineage/metrics rows.
  *
  * Scale design (SURVEY §4.2):
  *  - the parse core is a pure typed `mapPartitions` with per-partition
  *    pooled parser state (compiled regexes) — no cross-row state, so
  *    replaying a resume unit yields byte-identical rows;
  *  - the signature/rule table is `broadcast` to executors (it is bounded by
  *    layout diversity, never by corpus size);
  *  - skew from giant multi-page PDFs: the default [[Layout.ScanSplits]]
  *    parses on scan splits (`spark.sql.files.maxPartitionBytes` bounds
  *    task size) so the raw corpus is never shuffled; round-robin
  *    [[Layout.RoundRobin]] (adversarially-sorted inputs) is the explicit
  *    salted-repartition escape hatch — a giant doc is one row either way,
  *    so a shuffle cannot split it finer;
  *  - per-doc rows carry (partition_id, bytes_in, parse_us);
  *    [[FileResumableExtract]] counts its per-file lineage rows while it
  *    writes them, and [[unitMetrics]] states the same roll-up over any
  *    results frame.
  */
object ExtractJob {

  /** Result row: the parsed doc plus lineage fields. */
  final case class ExtractedRow(
      doc_id: String,
      file_type: String,
      spans: Seq[graft.model.OutSpan],
      n_spans: Int, // scalar twin of size(spans): lets metrics/lineage
      // aggregations prune to int columns instead of re-decoding span text
      signature_id: String,
      sig_similarity: Double,
      sig_event: String,
      n_sections: Int,
      n_kvs: Int,
      n_chunks: Int,
      rule_coverage: Double,
      char_count: Long,
      page_count: Int,
      content_hash: String,
      error: String,
      n_blocks: Int,
      n_blocks_kept: Int,
      partition_id: Int,
      bytes_in: Long,
      parse_us: Long)

  /** Parse one doc and assemble its result row — the ONE place the
    * 20-field row is constructed (the batch extract and the file-granular
    * job share it; two hand-maintained copies of a 20-argument constructor
    * would silently transpose same-typed fields on any reordering).
    */
  def rowOf(doc: InputDoc, pool: DocParser.Pooled, pid: Int): ExtractedRow = {
    var bytesIn = 0L
    doc.spans.foreach(s => bytesIn += s.text.length + s.media_ref.length)
    val t0 = System.nanoTime()
    val p: ParsedDoc = DocParser.parse(doc, pool)
    val us = (System.nanoTime() - t0) / 1000
    ExtractedRow(p.docId, p.fileType, p.spans, p.spans.length, p.signatureId,
      p.sigSimilarity, p.sigEvent, p.nSections, p.nKvs, p.nChunks,
      p.ruleCoverage, p.charCount, p.pageCount, p.contentHash, p.error,
      p.nBlocks, p.nBlocksKept, pid, bytesIn, us)
  }

  def readDocs(spark: SparkSession, inPath: String): Dataset[InputDoc] = {
    import spark.implicits._
    spark.read.parquet(inPath).as[InputDoc]
  }

  /** How the docs are laid out across parse tasks. The choice is a
    * shuffle-cost / balance tradeoff that matters at 100 TB: a pre-parse
    * shuffle moves the RAW bytes of the whole corpus.
    */
  sealed trait Layout
  object Layout {
    /** No shuffle: parse on the scan's own input splits. The default —
      * raw bytes never move, and split granularity
      * (`spark.sql.files.maxPartitionBytes`) already bounds task size.
      * A single giant doc is one row and can't be split any finer by a
      * shuffle either, so this loses nothing on the heavy tail.
      */
    case object ScanSplits extends Layout

    /** Round-robin shuffle into `cores × perCore` splits: finest doc-count
      * balance. Worth its full-corpus shuffle only when the INPUT layout is
      * adversarial (e.g. docs sorted by size so one split holds all the
      * giants) — the "salted repartitioning" degenerate-input defense.
      */
    final case class RoundRobin(perCore: Int = 4) extends Layout
  }

  /** Parse a docs Dataset into the extracted table. */
  def extract(
      spark: SparkSession,
      docs: Dataset[InputDoc],
      table: Seq[CanonicalSignature] = SignatureTable.Default,
      layout: Layout = Layout.ScanSplits): Dataset[ExtractedRow] = {
    import spark.implicits._
    val cores = spark.sparkContext.defaultParallelism
    val bc = spark.sparkContext.broadcast(table)
    val parts = layout match {
      case Layout.ScanSplits => docs
      case Layout.RoundRobin(perCore) =>
        docs.repartition(math.max(1, cores * perCore))
    }
    parts
      .mapPartitions { iter =>
        val pool = DocParser.pooled(bc.value) // pooled per-partition state
        val pid = TaskContext.getPartitionId()
        iter.map(doc => rowOf(doc, pool, pid))
      }
  }

  /** Lineage/metrics rows keyed on a unit column: `file_id` (the resume
    * unit, so a replayed file's row supersedes its earlier one — see
    * [[FileResumableExtract.readMetrics]]) or `partition_id`. Per `file_id`
    * it equals what [[FileResumableExtract.run]] counts while writing.
    */
  def unitMetrics(results: DataFrame, unit: String): DataFrame =
    results.groupBy(col(unit)).agg(
      count(lit(1)).as("docs_in"),
      sum(when(col("error") === "", 1L).otherwise(0L)).as("docs_ok"),
      sum(when(col("error") =!= "", 1L).otherwise(0L)).as("docs_err"),
      sum(col("n_spans")).as("spans_out"),
      sum(col("bytes_in")).as("bytes_in"),
      sum(col("parse_us")).as("parse_us"))
}

/** spark-submit / runMain entry: ExtractMain <inDir> <outDir>. Runs the
  * resumable extraction job; safe to re-invoke after a kill (committed
  * input files are never re-read). Each run ends by compacting the commit
  * manifest, so it stays one file.
  */
object ExtractMain {
  def main(args: Array[String]): Unit = {
    val (in, out) = JobSession.inOutArgs("ExtractMain", args)
    val spark = JobSession.build("graft-extract")
    val t0 = System.nanoTime()
    val n = FileResumableExtract.run(spark, in, out)
    FileResumableExtract.compactManifest(spark, out)
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"processed $n docs this run in $sec%.1fs (${n / sec}%.0f docs/sec); " +
      s"${FileResumableExtract.completedFileIds(spark, out).size} input files committed")
    spark.stop()
  }
}
