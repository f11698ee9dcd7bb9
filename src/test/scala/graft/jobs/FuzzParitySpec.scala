package graft.jobs

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import com.fasterxml.jackson.databind.ObjectMapper
import graft.corpus.FuzzGen
import graft.parse.DocParser
import java.nio.file.{Files, Paths}

/** Adversarial parity fuzz (see [[graft.corpus.FuzzGen]]): span-hash
  * equality vs the executed reference on [[FuzzGen.NumDocs]] edge-case
  * documents the main corpus never produces, plus error-channel routing for
  * the deliberately invalid ones. Goldens:
  * `python3 tools/gen_goldens.py data/docs/fuzz fuzz`.
  */
class FuzzParitySpec extends AnyFunSuite {

  // tests fork with the build's base directory as their working directory
  private val hashFile = Paths.get("src/test/resources/goldens/sffuzz.hashes.jsonl")
    .toAbsolutePath.toString

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("fuzz-parity-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("fuzz corpus: span hashes equal the reference, invalid docs error-channel") {
    assume(Files.exists(Paths.get(hashFile)), "fuzz goldens not generated")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val mapper = new ObjectMapper()
    val expected = scala.io.Source.fromFile(hashFile).getLines().map { line =>
      val n = mapper.readTree(line)
      n.get("doc_id").asText() -> n.get("hash").asText()
    }.toMap

    val docs = spark.range(0, FuzzGen.NumDocs, 1, 8).map(i => FuzzGen.gen(i))
    val results = ExtractJob.extract(spark, docs).collect()
    assert(results.length == FuzzGen.NumDocs)

    var mismatches = 0
    results.foreach { r =>
      expected.get(r.doc_id) match {
        case Some(h) =>
          assert(r.error.isEmpty, s"${r.doc_id} errored: ${r.error}")
          if (DocParser.spanHash(r.spans) != h) {
            mismatches += 1
            if (mismatches <= 5) {
              val doc = FuzzGen.gen(r.doc_id.stripPrefix("fuzz_").toLong)
              info(s"MISMATCH ${r.doc_id} kinds=${doc.spans.map(_.kind).mkString(",")}")
              info(s"  input: ${doc.spans.filter(_.kind != "media").map(_.text).mkString("|").take(300)}")
              info(s"  spans: ${r.spans.map(s => s"${s.kind}:${s.text.take(40)}").take(12).mkString(" / ")}")
            }
          }
        case None =>
          // skipped by the golden harness = invalid shape → error channel
          assert(FuzzGen.isInvalid(FuzzGen.gen(r.doc_id.stripPrefix("fuzz_").toLong)),
            s"${r.doc_id} missing from goldens but is a valid shape")
          assert(r.error.nonEmpty, s"invalid ${r.doc_id} did not error")
      }
    }
    assert(mismatches == 0, s"$mismatches fuzz docs mismatched the reference")
  }
}
