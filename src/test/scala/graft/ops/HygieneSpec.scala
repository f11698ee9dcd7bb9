package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** d9 (decontamination) and t5 (repetition stats) gates: values re-derived
  * in plain JVM code over the real test table, and the d9 plan keeps the
  * benchmark side broadcast (the corpus must never shuffle to meet a small
  * eval set).
  */
class HygieneSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = graft.TestSession("hygiene-spec", 8)

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The d2-family 60-bit shingle hash: first 15 hex chars of md5. */
  private def shingleHash(sh: String): Long =
    java.lang.Long.parseLong(md5Hex(sh).substring(0, 15), 16)

  private def shingles(text: String): Set[Long] = {
    val t = text.split(" ", -1)
    (0 to t.length - 3).map(i => s"${t(i)} ${t(i + 1)} ${t(i + 2)}")
      .distinct.map(shingleHash).toSet
  }

  private def docRows(): Seq[(Long, String)] = {
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
  }

  test("d9 overlap counts equal the JVM-re-derived shingle-set intersections") {
    val mod = DedupOps.BenchmarkMod
    val rows = docRows()
    val benchSet = rows.filter(_._1 % mod == 0).flatMap(r => shingles(r._2)).toSet
    assert(benchSet.nonEmpty, "stand-in benchmark must be non-empty at sf0.001")
    val expected = rows.filter(_._1 % mod != 0)
      .map { case (id, tx) => (id, (shingles(tx) & benchSet).size.toLong) }
      .filter(_._2 > 0).sortBy(_._1)
    val got = DedupOps.decontaminate(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected)
    // benchmark docs themselves are never reported as contaminated
    assert(got.forall(_._1 % mod != 0))
  }

  test("d9 plan: benchmark side broadcast, corpus never sort-merge-joined") {
    val plan = DedupOps.decontaminate(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("t5 repetition stats equal the JVM-re-derived token statistics") {
    val rows = docRows()
    val expected = rows.map { case (id, tx) =>
      val toks = tx.split(" ", -1).toSeq
      val freq = toks.groupBy(identity).map(_._2.size)
      val n = toks.size.toLong
      val nd = freq.size.toLong
      (id, n, nd,
        (n - nd).toDouble / n,
        freq.max.toDouble / n)
    }.sortBy(_._1)
    val got = TextOps.repetition(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(got == expected)
  }

  test("t5 plan: zero shuffles beyond the presentation sort (native per-row stats)") {
    val plan = TextOps.repetition(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.split("Exchange").length - 1 <= 1, plan)
    assert(!plan.contains("HashAggregate"), plan)
  }

  test("t7 pii scrub equals the JVM-re-derived enrichment + java-regex redaction") {
    spark.sparkContext.setLogLevel("WARN")
    val rows = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    def countRe(s: String, re: String): Int = {
      val m = java.util.regex.Pattern.compile(re).matcher(s)
      var n = 0; while (m.find()) n += 1; n
    }
    val expected = rows.map { case (id, tx, src, nc) =>
      val pii = (id % 4) match {
        case 1 => s" contact user$id@$src.example.com"
        case 2 => f" call +1-555-${id % 10000}%04d-${nc % 1000}%03d"
        case 3 => s" host 10.${id % 256}.${nc % 256}.${(id + nc) % 256}"
        case _ => ""
      }
      val rich = tx + pii
      val clean = rich.replaceAll(TextOps.EmailRe, "<EMAIL>")
        .replaceAll(TextOps.PhoneRe, "<PHONE>")
        .replaceAll(TextOps.Ipv4Re, "<IP>")
      (id, countRe(rich, TextOps.EmailRe), countRe(rich, TextOps.PhoneRe),
        countRe(rich, TextOps.Ipv4Re), clean.length, md5Hex(clean))
    }.sortBy(_._1)
    // every non-m0 row carries exactly one planted PII item of its kind
    assert(expected.count(_._2 == 1) == rows.count(_._1 % 4 == 1))
    assert(expected.count(_._3 == 1) == rows.count(_._1 % 4 == 2))
    assert(expected.count(_._4 == 1) == rows.count(_._1 % 4 == 3))
    val got = TextOps.piiScrub(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getString(5))).toSeq
    assert(got == expected)
  }

  test("t7 plan: pure per-row map — no joins, no aggregates, one presentation Exchange") {
    val plan = TextOps.piiScrub(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("HashAggregate"), plan)
    assert(plan.split("Exchange").length - 1 <= 1, plan)
  }

  test("t8 rarity equals the JVM-re-derived integer-exact unigram surprise") {
    val rows = docRows()
    val allToks = rows.map { case (id, tx) => (id, tx.split(" ", -1).toSeq) }
    val cnt: Map[String, Long] = allToks.flatMap(_._2)
      .groupBy(identity).map { case (t, v) => (t, v.size.toLong) }
    val tot = cnt.values.sum
    val expected = allToks.map { case (id, toks) =>
      val n = toks.size.toLong
      val sumCnt = toks.map(cnt).sum
      val sumBits = toks.map(t => java.lang.Long.toBinaryString(tot / cnt(t)).length.toLong).sum
      (id, n, toks.map(cnt).min,
        sumCnt.toDouble / n / tot, sumBits.toDouble / n)
    }.sortBy(_._1)
    val got = TextOps.rarity(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(got == expected)
    // surprise bits live in a sane range: ≥1 everywhere, and the corpus
    // must contain both common and rare tokens at sf0.001
    assert(got.forall(_._5 >= 1.0))
  }

  test("t8 plan: the corpus is scanned once — all three consumers read the materialized dt") {
    val df = TextOps.rarity(spark, sfDir)
    df.collect()
    // the one corpus scan happens inside dt's localCheckpoint; the
    // executed query plan must contain ZERO parquet re-scans
    val plan = df.queryExecution.executedPlan.toString
    val scans = plan.linesIterator.count(l =>
      l.contains("FileScan") || l.contains("Scan parquet"))
    assert(scans == 0, plan)
    assert(plan.contains("HashAggregate"), plan)
  }
}
