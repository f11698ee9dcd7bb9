package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.corpus.CorpusGen
import graft.jobs.ExtractJob
import graft.parse.DocParser
import java.nio.file.Files

/** Streaming/batch parity: the streaming wrapper over the same parse core
  * must produce exactly the batch job's spans, incrementally.
  */
class StreamingExtractSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("streaming-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("streaming extraction equals batch extraction, across two micro-batch waves") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val base = Files.createTempDirectory("graft_stream_").toString
    val in = s"$base/docs"
    val out = s"$base/out"

    // wave 1: docs 0..199
    spark.range(0, 200, 1, 4).map(i => CorpusGen.gen(i))
      .write.mode("append").parquet(in)
    StreamingExtract.start(spark, in, out).awaitTermination()

    // wave 2: docs 200..399 arrive later
    spark.range(200, 400, 1, 4).map(i => CorpusGen.gen(i))
      .write.mode("append").parquet(in)
    StreamingExtract.start(spark, in, out).awaitTermination()

    val streamed = StreamingExtract.readResults(spark, out)
      .as[ExtractJob.ExtractedRow].collect()
      .map(r => r.doc_id -> DocParser.spanHash(r.spans)).toMap

    val batch = ExtractJob.extract(spark,
      spark.range(0, 400, 1, 8).map(i => CorpusGen.gen(i)))
      .collect().map(r => r.doc_id -> DocParser.spanHash(r.spans)).toMap

    assert(streamed.size == 400)
    assert(streamed == batch, "streaming vs batch span hashes differ")
  }

  test("readResults reads batch dirs of the old batch=/bucket= layout and the plain batch= layout together") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val out = Files.createTempDirectory("graft_stream_layouts_").toString
    val rows = ExtractJob.extract(spark,
      spark.range(0, 60, 1, 2).map(i => CorpusGen.gen(i))).collect().sortBy(_.doc_id)
    val (older, newer) = rows.splitAt(25)
    spark.createDataset(older.toSeq)
      .write.parquet(s"$out/results_stream/batch=0/bucket=1")
    spark.createDataset(newer.toSeq)
      .write.parquet(s"$out/results_stream/batch=1")

    val read = StreamingExtract.readResults(spark, out)
    val byDoc = read.select("doc_id", "batch").as[(String, Long)].collect().toMap
    assert(byDoc.size == 60)
    assert(byDoc == (older.map(_.doc_id -> 0L) ++ newer.map(_.doc_id -> 1L)).toMap)
    val hashes = read.as[ExtractJob.ExtractedRow].collect()
      .map(r => r.doc_id -> DocParser.spanHash(r.spans)).toMap
    assert(hashes == rows.map(r => r.doc_id -> DocParser.spanHash(r.spans)).toMap)
  }
}
