package graft.jobs

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import com.fasterxml.jackson.databind.ObjectMapper
import graft.model.OutSpan
import graft.parse.DocParser
import java.nio.file.{Files, Paths}

/** End-to-end golden equality (BASELINE.md headline metric #1): the Spark
  * pipeline's span sequences must equal the reference parser's goldens
  * `(kind, text, media_ref, order)` per doc, on the deterministic SF=0.001
  * corpus. Goldens produced by tools/gen_goldens.py (reference modules
  * executed over the identical corpus).
  */
class GoldenSpec extends AnyFunSuite {

  /** The repository root: tests fork with the build's base directory as
    * their working directory.
    */
  private val root = Paths.get("").toAbsolutePath
  private val goldens = root.resolve("src/test/resources/goldens")

  private val goldenJson = goldens.resolve("sf0.001.json").toString

  /** The corpus is a pure function of the doc index (CorpusGen) — (re)write
    * it when absent so `sbt -batch test` is self-contained; only the
    * reference-derived goldens (tracked in test resources) need the one-time
    * Python harness.
    */
  private def corpus(sf: String): String = {
    val dir = root.resolve(s"data/docs/sf$sf").toString
    if (!Files.exists(Paths.get(dir))) {
      import spark.implicits._
      val n = graft.corpus.CorpusGen.numDocs(sf.toDouble)
      spark.range(0, n, 1, math.max(8, n / 2000))
        .map(i => graft.corpus.CorpusGen.gen(i))
        .write.parquet(dir)
    }
    dir
  }

  private lazy val corpusDir = corpus("0.001")

  lazy val spark: SparkSession = graft.TestSession("golden-spec", 8)

  private def available: Boolean =
    Files.exists(Paths.get(goldenJson)) && Files.exists(Paths.get(corpusDir))

  test("span-sequence exact match vs reference goldens (sf0.001, full corpus)") {
    assume(available, "corpus/goldens not generated")
    spark.sparkContext.setLogLevel("WARN")

    val mapper = new ObjectMapper()
    val root = mapper.readTree(Files.readAllBytes(Paths.get(goldenJson)))
    val goldens = scala.collection.mutable.Map.empty[String, Seq[OutSpan]]
    root.fields().forEachRemaining { e =>
      val arr = e.getValue
      val spans = (0 until arr.size()).map { i =>
        val s = arr.get(i)
        OutSpan(s.get(0).asText(), s.get(1).asText(), s.get(2).asText(), s.get(3).asInt())
      }
      goldens(e.getKey) = spans
    }

    val docs = ExtractJob.readDocs(spark, corpusDir)
    val results = ExtractJob.extract(spark, docs).collect()

    // full-outer-join semantics: missing and extra docs are failures too
    assert(results.map(_.doc_id).toSet == goldens.keySet.toSet,
      "doc_id sets differ between pipeline output and goldens")

    var mismatches = 0
    results.foreach { r =>
      assert(r.error.isEmpty, s"${r.doc_id} errored: ${r.error}")
      val g = goldens(r.doc_id)
      if (r.spans != g) {
        mismatches += 1
        if (mismatches <= 3) {
          val diff = r.spans.zipAll(g, null, null).zipWithIndex
            .filter { case ((a, b), _) => a != b }.take(3)
          info(s"MISMATCH ${r.doc_id}: ours=${r.spans.length} golden=${g.length}")
          diff.foreach { case ((a, b), i) =>
            info(s"  [$i] ours=  $a")
            info(s"  [$i] golden=$b")
          }
        }
      }
    }
    assert(mismatches == 0, s"$mismatches/${results.length} docs mismatched goldens")
    // exact-match rate = 1.0 achieved on every doc
  }

  private def checkHashes(sf: String, label: String = "", sample: Int = 1,
      dirOverride: String = ""): Unit = {
    val name = if (label.nonEmpty) label else s"sf$sf"
    val hashFile = goldens.resolve(s"$name.hashes.jsonl")
    assume(Files.exists(hashFile), s"$name hash goldens not generated")
    val dir = if (dirOverride.nonEmpty) dirOverride else corpus(sf)
    val mapper = new ObjectMapper()
    val expected = scala.io.Source.fromFile(hashFile.toFile).getLines().map { line =>
      val n = mapper.readTree(line)
      n.get("doc_id").asText() -> n.get("hash").asText()
    }.toMap
    // 1-in-`sample` deterministic doc filter — the identical md5 rule
    // tools/gen_goldens.py applied when producing a sampled golden file
    val docs0 = ExtractJob.readDocs(spark, dir)
    val docs = if (sample <= 1) docs0 else docs0.filter { d =>
      java.lang.Long.parseLong(
        graft.parse.PyCompat.md5Hex(d.doc_id).substring(0, 8), 16) % sample == 0
    }
    import spark.implicits._
    val got = ExtractJob.extract(spark, docs)
      .map(r => (r.doc_id, DocParser.spanHash(r.spans)))
      .collect().toMap
    assert(got.size == expected.size, s"doc counts differ: ${got.size} vs ${expected.size}")
    val bad = expected.iterator.count { case (d, h) => got.get(d) != Some(h) }
    assert(bad == 0, s"$bad/${expected.size} docs hash-mismatch goldens at $name")
  }

  test("span hashes match harness digests (sf0.001)") {
    assume(available, "corpus/goldens not generated")
    checkHashes("0.001")
  }

  test("span hashes match harness digests (sf0.01, 6k docs)") {
    checkHashes("0.01")
  }

  test("span hashes match harness digests (sf0.1, 60k docs — the BASELINE.md headline)") {
    // Heavier; run always unless explicitly disabled (driver gate is sbt test).
    assume(sys.env.getOrElse("GRAFT_SKIP_SF01_GOLDEN", "") != "1", "skipped by env")
    checkHashes("0.1")
  }

  test("span hashes match harness digests (sf1.0, deterministic 1% sample of 600k docs)") {
    // Parity evidence beyond the sf0.1 full gate: the reference executed
    // over a 1-in-100 md5(doc_id) sample of the sf1.0 corpus
    // (tools/gen_goldens.py data/docs/sf1.0 1.0sample 100). Skips when the
    // 159 MB corpus isn't on disk (it regenerates via GenMain, but not
    // inside the unit gate).
    val sf1 = root.resolve("data/docs/sf1.0")
    assume(Files.exists(sf1), "sf1.0 corpus not generated")
    checkHashes("1.0", label = "sf1.0sample", sample = 100,
      dirOverride = sf1.toString)
  }

  test("a3 signature stats pinned against executed reference functions (sf0.001)") {
    // Per-(signature_id, sig_event) doc counts + mean similarity computed
    // by the REFERENCE's own _generate_tokens/_calculate_jaccard_similarity
    // (gen_goldens.py, same deterministic table substitution), plus the
    // get_signature_stats() totals shape (signatures.py:341-354). This pins
    // the one aggregate surface (a3) whose ids SQL oracles can't derive.
    val statsJson = goldens.resolve("sf0.001.sigstats.json").toString
    assume(Files.exists(Paths.get(statsJson)) && available,
      "sigstats goldens not generated")
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._

    val mapper = new ObjectMapper()
    val root = mapper.readTree(Files.readAllBytes(Paths.get(statsJson)))
    val g = root.get("groups")
    val expected = (0 until g.size()).map { i =>
      val n = g.get(i)
      (n.get("signature_id").asText(), n.get("sig_event").asText(),
        n.get("n_docs").asLong(), n.get("avg_similarity").asDouble())
    }.toSet

    val docs = ExtractJob.readDocs(spark, corpusDir)
    val got = ExtractJob.extract(spark, docs).toDF()
      .groupBy("signature_id", "sig_event")
      .agg(count(lit(1)).as("n"), round(avg(col("sig_similarity")), 6).as("s"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == expected,
      s"sig-stat groups diverge: ours-only=${(got -- expected).take(5)} " +
        s"ref-only=${(expected -- got).take(5)}")

    // reference get_signature_stats() totals over the same corpus
    val totalDocs = got.toSeq.map(_._3).sum
    val distinctSigs = got.map(_._1).size // set of ids
    assert(totalDocs == root.get("total_documents").asLong())
    assert(distinctSigs == root.get("total_signatures").asInt())
    assert(totalDocs.toDouble / distinctSigs ==
      root.get("avg_documents_per_signature").asDouble())
  }

  test("partition metrics: lineage rows cover all docs") {
    assume(available, "corpus not generated")
    import org.apache.spark.sql.functions._
    val docs = ExtractJob.readDocs(spark, corpusDir)
    val results = ExtractJob.extract(spark, docs)
    val m = ExtractJob.unitMetrics(results.toDF(), "partition_id")
    val agg = m.agg(sum("docs_in"), sum("docs_ok"), sum("docs_err"),
      sum("spans_out"), count(lit(1))).head()
    assert(agg.getLong(0) == 600L)
    assert(agg.getLong(1) == 600L && agg.getLong(2) == 0L)
    assert(agg.getLong(3) > 0L)
    // one lineage row per parse partition (the scan's split packing depends
    // on the shared test session's parallelism — compare to the actual plan)
    val nParts = ExtractJob.extract(spark, docs).rdd.getNumPartitions
    assert(agg.getLong(4) == nParts.toLong, s"rows=${agg.getLong(4)} parts=$nParts")
  }
}
