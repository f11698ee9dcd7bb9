package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files
import java.sql.Timestamp

/** Watermark/window and stateful-dedup semantics, driven through the file
  * source in two waves (same checkpoint): wave 2 carries a row later than
  * the watermark established by wave 1 — it must be dropped by the windowed
  * aggregation; the stateful dedup must emit each content hash exactly once
  * across waves.
  */
class StreamingOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession("streaming-ops-spec", 4)

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowed ingest metrics: per-window counts, late row beyond watermark dropped") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val base = Files.createTempDirectory("graft_sops_").toString
    val in = s"$base/in"
    val out = s"$base/out"

    def runWave(rows: Seq[(Timestamp, String, Int, String)], wave: Int): Unit = {
      rows.toDF("ingest_ts", "file_type", "n_spans", "error")
        .write.parquet(s"$in/wave=$wave")
      val q = spark.readStream
        .schema("ingest_ts timestamp, file_type string, n_spans int, error string")
        .option("pathGlobFilter", "*.parquet")
        .parquet(s"$in/*")
        .transform(df => StreamingOps.windowedIngestMetrics(df, lateness = "1 minute"))
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$out/ckpt")
        .format("parquet")
        .option("path", s"$out/metrics")
        .outputMode("append")
        .start()
      q.awaitTermination()
    }

    // wave 1: two docs in the 10:00 window, one at 10:05; the watermark a
    // batch sees comes from the PREVIOUS batch's max event time − lateness
    runWave(Seq(
      (ts("2026-01-01 10:00:10"), "html", 5, ""),
      (ts("2026-01-01 10:00:20"), "html", 3, "boom"),
      (ts("2026-01-01 10:05:00"), "text", 2, "")), 1)
    // wave 2 runs under watermark 10:04 → the 10:00 window finalizes WITHOUT
    // the late 10:00:30 row (it is beyond the 1-minute lateness and dropped)
    runWave(Seq(
      (ts("2026-01-01 10:00:30"), "html", 100, ""),
      (ts("2026-01-01 10:08:00"), "text", 1, "")), 2)
    // wave 3 runs under watermark 10:07 → the 10:05 window finalizes
    runWave(Seq(
      (ts("2026-01-01 10:30:00"), "text", 1, "")), 3)

    val m = spark.read.parquet(s"$out/metrics")
      .select("window_start", "file_type", "docs", "spans", "errors")
      .as[(Timestamp, String, Long, Long, Long)].collect().toSet
    assert(m.contains((ts("2026-01-01 10:00:00"), "html", 2L, 8L, 1L)),
      s"10:00 window must hold exactly the two on-time docs (late row dropped): $m")
    assert(m.contains((ts("2026-01-01 10:05:00"), "text", 1L, 2L, 0L)), m.toString)
  }

  test("nearDupAgainstIndex: streaming candidates = batch join, stateless across waves") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val base = Files.createTempDirectory("graft_snear_").toString
    val in = s"$base/in"
    val out = s"$base/out"
    val sfDir = "/root/testdata/sf0.001"

    // static corpus index, as curation would persist it
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val index = graft.ops.DedupOps.bandKeysOn(corpus)

    // incoming docs: two re-ingested corpus texts under new ids (guaranteed
    // band collisions with their source docs), one short doc (<3 tokens ->
    // no signature -> no output), one fresh doc
    val srcs = corpus.orderBy("doc_id").limit(2).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val wave1 = Seq((10001L, srcs(0)._2), (10002L, "too short"))
    val wave2 = Seq((10003L, srcs(1)._2), (10004L, "completely novel words nowhere in corpus"))

    def runWave(rows: Seq[(Long, String)], wave: Int): Unit = {
      rows.toDF("doc_id", "text").write.parquet(s"$in/wave=$wave")
      val q = spark.readStream
        .schema("doc_id long, text string")
        .option("pathGlobFilter", "*.parquet")
        .parquet(s"$in/*")
        .transform(df => StreamingOps.nearDupAgainstIndex(df, index))
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$out/ckpt")
        .format("parquet")
        .option("path", s"$out/hits")
        .outputMode("append")
        .start()
      q.awaitTermination()
    }
    runWave(wave1, 1)
    runWave(wave2, 2)

    val got = spark.read.parquet(s"$out/hits")
      .select("in_doc_id", "corpus_doc_id", "band")
      .as[(Long, Long, Int)].collect().toSet
    // batch parity: the same operator over the same rows as a static frame
    val expected = StreamingOps.nearDupAgainstIndex(
        (wave1 ++ wave2).toDF("doc_id", "text"), index)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == expected)
    // the re-ingested texts MUST hit exactly their source docs on EVERY
    // band (identical text => identical signature => all 4 band keys match)
    Seq(10001L -> srcs(0)._1, 10003L -> srcs(1)._1).foreach {
      case (newId, srcId) =>
        (0 until 4).foreach { b =>
          assert(got.contains((newId, srcId, b)),
            s"missing band $b hit for $newId -> $srcId in $got")
        }
    }
    assert(!got.exists(_._1 == 10002L), "a <3-token doc has no signature")
  }

  test("firstSeenDedup: one emission per content hash across micro-batches, state keyed+timed out") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_sdedup_").toString
    val in = s"$base/in"
    val out = s"$base/out"

    def runWave(rows: Seq[StreamingOps.DocSeen], wave: Int): Unit = {
      rows.toDF().write.parquet(s"$in/wave=$wave")
      val q = spark.readStream
        .schema("content_hash string, doc_id string, ingest_ts timestamp")
        .parquet(s"$in/*")
        .as[StreamingOps.DocSeen]
        .transform(ds => StreamingOps.firstSeenDedup(ds))
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$out/ckpt")
        .format("parquet")
        .option("path", s"$out/deduped")
        .outputMode("append")
        .start()
      q.awaitTermination()
    }

    runWave(Seq(
      StreamingOps.DocSeen("hX", "docA", ts("2026-01-01 10:00:00")),
      StreamingOps.DocSeen("hX", "docA2", ts("2026-01-01 10:00:05")), // in-batch dup
      StreamingOps.DocSeen("hY", "docB", ts("2026-01-01 10:00:10"))), 1)
    runWave(Seq(
      StreamingOps.DocSeen("hX", "docC", ts("2026-01-01 10:01:00")), // cross-batch dup
      StreamingOps.DocSeen("hZ", "docD", ts("2026-01-01 10:01:30"))), 2)

    val got = spark.read.parquet(s"$out/deduped")
      .as[StreamingOps.DocSeen].collect().map(d => d.content_hash -> d.doc_id).toSet
    assert(got == Set("hX" -> "docA", "hY" -> "docB", "hZ" -> "docD"),
      s"expected first-seen winners only, got $got")
  }
}
