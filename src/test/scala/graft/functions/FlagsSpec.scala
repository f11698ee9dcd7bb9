package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The native CurationFlags expression must be value-equal to the
  * declarative TextOps formulations it fuses (the forms the t1/t2/t3
  * DuckDB oracles mirror): stopword language pick with its tie-break,
  * code-point length + split-token quality gate, md5 content hash, and
  * the BPE-ish regex token count.
  */
class FlagsSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = graft.TestSession("flags-spec", 8)

  private def adversarialDocs: Seq[String] = {
    val rnd = new scala.util.Random(7)
    val stop = Seq("the", "a", "of", "and", "el", "la", "de", "que",
      "der", "die", "und", "das", "le", "et", "les")
    val fixed = Seq(
      "", " ", "the", " the ", "the the the", "la la la", "de de",
      "el la de que der die und das", "le la et les the a of and",
      "a" * 100, ("w " * 25).trim, "x, y; z! 3.14 -- e=mc2",
      "unicode é ü 中文 🙂 mixed 🙂🙂 ok", "tabs\tand\nnewlines stay",
      "price 1234 items56abc x")
    val random = (1 to 200).map { _ =>
      (0 until rnd.nextInt(40)).map { _ =>
        rnd.nextInt(4) match {
          case 0 => stop(rnd.nextInt(stop.length))
          case 1 => (0 until 1 + rnd.nextInt(5))
            .map(_ => ('a' + rnd.nextInt(6)).toChar).mkString
          case 2 => rnd.nextInt(1000).toString
          case _ => Seq(",", ".", "é", "🙂", "!", "x9y")(rnd.nextInt(6))
        }
      }.mkString(if (rnd.nextBoolean()) " " else "  ")
    }
    fixed ++ random
  }

  test("CurationFlags == declarative lang/quality/md5/bpe on corpus + adversarial") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("string"), col("text"))
    val adv = adversarialDocs.zipWithIndex
      .map { case (t, i) => (s"adv$i", t) }.toDF("doc_id", "text")
    Seq(corpus, adv).foreach { d =>
      val txt = col("text")
      val rows = d.select(col("doc_id"),
        TextFlags.curationFlagsCol(txt).as("f"),
        graft.ops.TextOps.langPredCol(txt).as("lang"),
        graft.ops.TextOps.qualityKeepCol(txt).as("qual"),
        md5(txt.cast("binary")).as("hash"),
        graft.ops.TextOps.bpeTokensCol(txt).as("bpe")).collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val f = r.getStruct(1)
        val id = r.getString(0)
        assert(f.getString(0) == r.getString(2), s"lang_pred diverges for $id")
        assert(f.getBoolean(1) == r.getBoolean(3), s"qual_ok diverges for $id")
        assert(f.getString(2) == r.getString(4), s"content_hash diverges for $id")
        assert(f.getLong(3) == r.getLong(5), s"n_bpe diverges for $id")
      }
    }
  }
}
