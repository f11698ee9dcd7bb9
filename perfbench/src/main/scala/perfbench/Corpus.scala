package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{Executors, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import graft.corpus.CorpusGen
import graft.model.InputDoc
import graft.parse.DocParser

/** The extraction workloads' seeded input: `Docs` consecutive
  * `CorpusGen` docs (the sf0.1 format mix, heavy-tail PDFs included)
  * starting at doc index `seed × Docs`. Seed 0 is the committed sf0.1
  * golden range, so every doc there has a golden span hash; other seeds
  * shift the window, and their docs are checked against a plain
  * `DocParser.parse` outside Spark (plus the 1% sf1.0 golden sample).
  */
final class Corpus(seed: Long) {
  val n: Int = Corpus.Docs
  val base: Long = java.lang.Math.floorMod(seed, 1000000L) * n

  def docId(i: Int): String = f"doc_${base + i}%08d"
  def doc(i: Int): InputDoc = CorpusGen.gen(base + i)

  /** The docs as a Dataset in `parts` partitions (by default eight waves of
    * tasks), generated by the tasks.
    */
  def dataset(spark: SparkSession, parts: Int = 8 * Session.Cores): Dataset[InputDoc] = {
    import spark.implicits._
    spark.range(base, base + n, 1, parts).map(i => CorpusGen.gen(i))
  }
}

object Corpus {
  /** Docs per extraction pass. */
  val Docs = 12000
}

/** Row-by-row reference check of extraction output: each doc's
  * `DocParser.spanHash` against the committed golden hash, or, for a doc
  * without one, against a plain per-doc `DocParser.parse` run outside
  * Spark. Missing and extra doc ids count as wrong.
  */
object Reference {

  private val GoldenFiles = Seq("sf0.1.hashes.jsonl", "sf1.0sample.hashes.jsonl")

  private def goldens(root: Path, wanted: Set[String]): Map[String, String] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    GoldenFiles.iterator.flatMap { f =>
      Files.readAllLines(root.resolve(s"src/test/resources/goldens/$f")).asScala
    }.filter(_.nonEmpty).map { line =>
      val node = mapper.readTree(line)
      node.get("doc_id").asText() -> node.get("hash").asText()
    }.filter(kv => wanted.contains(kv._1)).toMap
  }

  /** Span hashes of the given doc indices by plain `DocParser.parse`, one
    * doc per call, spread over `Session.Cores` threads.
    */
  private def parsedHashes(corpus: Corpus, idx: Seq[Int]): Map[String, String] = {
    val pool = Executors.newFixedThreadPool(Session.Cores)
    try {
      val chunks = idx.grouped(math.max(1, idx.size / (Session.Cores * 8) + 1)).toSeq
      val futures = chunks.map { chunk =>
        pool.submit(() => {
          val parser = DocParser.pooled()
          chunk.map { i =>
            val d = corpus.doc(i)
            d.doc_id -> DocParser.spanHash(DocParser.parse(d, parser).spans)
          }
        })
      }
      futures.flatMap(_.get()).toMap
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  /** Collects each doc's span hash and `parse_us` from an extraction
    * result frame and checks the hashes. Returns the frame's digest,
    * observed in the same pass, and the `parse_us` values.
    */
  def checkFrame(a: Main.Args, corpus: Corpus, results: DataFrame, report: Report)
      : (Digest, Seq[Double]) = {
    import results.sparkSession.implicits._
    val (df, obs) = Digest.observed(results)
    val rows = df.select(col("doc_id"), col("spans"), col("parse_us"))
      .as[(String, Seq[graft.model.OutSpan], Long)]
      .map { case (id, spans, us) => (id, DocParser.spanHash(spans), us) }
      .collect().toSeq
    check(a.root, corpus, rows.map(r => (r._1, r._2)), report, a.corrupt)
    (Digest.from(obs), rows.map(_._3.toDouble))
  }

  /** Checks `(doc_id, span hash)` outputs; adds to the report's counts. */
  private def check(root: Path, corpus: Corpus, outputs: Seq[(String, String)],
      report: Report, corrupt: Boolean): Unit = {
    val ids = (0 until corpus.n).map(corpus.docId)
    require(corpus.doc(0).doc_id == ids.head, "doc id format differs from CorpusGen")
    val golden = goldens(root, ids.toSet)
    val needParse = (0 until corpus.n).filterNot(i => golden.contains(ids(i)))
    val reference = golden ++ parsedHashes(corpus, needParse)
    val got0 = outputs.toMap
    val got = if (!corrupt) got0 else {
      // alter one output hash: the check must count it as wrong
      val (k, v) = got0.head
      got0.updated(k, (if (v.head == '0') "1" else "0") + v.tail)
    }
    val wrong = ids.count(id => !got.get(id).contains(reference(id))) +
      got.keySet.count(id => !reference.contains(id)) +
      (outputs.size - got0.size) // duplicated doc ids
    report.checked += ids.size
    report.wrong += wrong
    report.note(s"reference check: ${ids.size} docs, ${golden.size} against goldens, " +
      s"${needParse.size} against a plain DocParser.parse; $wrong wrong")
    if (wrong > 0) report.problem(s"$wrong of ${ids.size} docs differ from the reference")
  }
}
