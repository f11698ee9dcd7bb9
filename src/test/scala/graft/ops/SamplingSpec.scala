package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** s1/s2 dataset-mixing gates: the md5-threshold membership rule is
  * deterministic and engine-portable (re-derived here in plain JVM md5),
  * realized rates track the declared mixture, exact quotas are exact, and
  * the s1 plan stays a map-only scan that never reads `text` (at 100 TB
  * the sampler must move ids, not the corpus).
  */
class SamplingSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.01"

  lazy val spark: SparkSession = graft.TestSession("sampling-spec", 8)

  private def md5Hex6(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 6)

  test("s1 membership equals the JVM-recomputed md5-threshold rule, row for row") {
    spark.sparkContext.setLogLevel("WARN")
    val rates = SamplingOps.RatePermille.toMap
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.filter { case (id, src) =>
      md5Hex6(id.toString) < SamplingOps.rateThreshold(rates(src))
    }.map(_._1).sorted.toSeq
    val got = SamplingOps.hashSample(spark, sfDir)
      .collect().map(_.getLong(0)).toSeq
    assert(got == expected)
    // the declared mixture actually shapes the sample: a high-rate stratum
    // keeps more than a low-rate one (rates 50..905 permille over 25-doc
    // strata — binomial noise cannot invert a 17x rate gap)
    val bySrc = SamplingOps.hashSample(spark, sfDir)
      .groupBy("source").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val hi = SamplingOps.RatePermille.maxBy(_._2)._1
    val lo = SamplingOps.RatePermille.minBy(_._2)._1
    assert(bySrc.getOrElse(hi, 0L) > bySrc.getOrElse(lo, 0L))
  }

  test("s1 threshold encoding: permille -> 6-hex-char literal, domain 0..999") {
    assert(SamplingOps.rateThreshold(0) == "000000")
    // 500 permille = half the 16^6 space
    assert(SamplingOps.rateThreshold(500) == "800000")
    assert(SamplingOps.rateThreshold(999).length == 6)
    // every declared mixture rate stays inside the 6-hex-char domain
    // (permille 1000 would need a 7th char and break the lexicographic
    // compare — the scaladoc's documented domain bound)
    SamplingOps.RatePermille.foreach { case (_, r) =>
      assert(r >= 0 && r <= 999)
      assert(SamplingOps.rateThreshold(r).length == 6)
    }
  }

  test("s2 quotas are exact per stratum (capped by stratum size) and stable") {
    val quota = SamplingOps.Quota.toMap
    val strataSizes = spark.read.parquet(s"$sfDir/documents.parquet")
      .groupBy("source").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val got = SamplingOps.mixtureQuota(spark, sfDir).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getInt(2)))
    val perSrc = got.groupBy(_._1).map { case (s, rows) => (s, rows.length) }
    quota.foreach { case (src, q) =>
      val expect = math.min(q.toLong, strataSizes.getOrElse(src, 0L)).toInt
      assert(perSrc.getOrElse(src, 0) == expect, s"stratum $src")
    }
    // rank order inside a stratum follows the md5 key: re-derive one stratum
    val src0 = got.filter(_._1 == "src0").sortBy(_._3).map(_._2).toSeq
    val expected0 = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(org.apache.spark.sql.functions.col("source") === "src0")
      .select("doc_id").collect().map(_.getLong(0))
      .sortBy(id => (md5Hex6(id.toString), id))
      .take(quota("src0")).toSeq
    assert(src0 == expected0)
    // idempotence: same plan, same rows (no RNG anywhere)
    val again = SamplingOps.mixtureQuota(spark, sfDir).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getInt(2)))
    assert(got.toSeq == again.toSeq)
  }

  test("c3 = c2's curated survivors filtered by the JVM-recomputed lang-mixture rule") {
    val rates = CurationOps.MixPermille.toMap
    val curated = CurationOps.curatedDocs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expected = curated.filter { case (id, lang, _) =>
      md5Hex6(id.toString) < SamplingOps.rateThreshold(rates(lang))
    }.sortBy(_._1).toSeq
    val got = CurationOps.curatedMixture(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expected)
    assert(got.nonEmpty && got.size < curated.length,
      "mixer must thin the curated set without emptying it at sf0.01")
  }

  test("s6 DSIR weights equal the JVM-recomputed integer-bit arithmetic, row for row") {
    spark.sparkContext.setLogLevel("WARN")
    val rows = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // (doc, token) counts with Spark/DuckDB split semantics (keep empties)
    val dt = rows.map { case (id, lang, text) =>
      (id, lang, text.split(" ", -1).groupBy(identity).map { case (t, a) => (t, a.length.toLong) })
    }
    val cntS = new scala.collection.mutable.HashMap[String, Long]()
    val cntT = new scala.collection.mutable.HashMap[String, Long]()
    dt.foreach { case (_, lang, m) =>
      m.foreach { case (t, c) =>
        cntS(t) = cntS.getOrElse(t, 0L) + c
        if (lang == SamplingOps.DsirTargetLang) cntT(t) = cntT.getOrElse(t, 0L) + c
      }
    }
    val totS = cntS.values.sum; val totT = cntT.values.sum
    val vsize = cntS.size.toLong
    def bitlen(x: Long): Long = if (x == 0L) 1L else (64 - java.lang.Long.numberOfLeadingZeros(x)).toLong
    val expected = dt.map { case (id, lang, m) =>
      val nTok = m.values.sum
      val imp = m.map { case (t, c) =>
        val bS = bitlen((totS + vsize) / (cntS(t) + 1))
        val bT = bitlen((totT + vsize) / (cntT.getOrElse(t, 0L) + 1))
        c * (bS - bT)
      }.sum
      (id, lang, nTok, imp, imp.toDouble / nTok, if (imp > 0) 1 else 0)
    }.sortBy(_._1).toSeq
    val got = SamplingOps.dsirWeights(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getInt(5))).toSeq
    assert(got == expected)
    // direction: the target stratum must score higher than the rest on
    // average — DSIR exists to pull target-like docs out of the crawl
    val (t, o) = got.partition(_._2 == SamplingOps.DsirTargetLang)
    assert(t.nonEmpty && o.nonEmpty)
    assert(t.map(_._5).sum / t.size > o.map(_._5).sum / o.size,
      "target-lang docs must have higher mean importance per token")
  }

  test("s6 plan: the corpus is scanned once — all three LM consumers read the materialized spine") {
    val df = SamplingOps.dsirWeights(spark, sfDir)
    df.collect()
    // the one corpus scan happens inside the (doc, token, c) spine's
    // localCheckpoint; the executed plan must contain ZERO parquet
    // re-scans (the t8/d9 lesson — ReuseExchange can't unify consumers
    // whose column pruning changes the canonical form)
    val plan = df.queryExecution.executedPlan.toString
    val scans = plan.linesIterator.count(l =>
      l.contains("FileScan") || l.contains("Scan parquet"))
    assert(scans == 0, plan)
    // the 1-row totals frame joins as a broadcast, never a shuffled join
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("s1 plan: map-only scan, zero Exchange before the presentation sort, text never read") {
    val plan = SamplingOps.hashSample(spark, sfDir)
      .queryExecution.executedPlan.toString
    // exactly the one Exchange the ORDER BY presentation sort needs
    assert(plan.split("Exchange").length - 1 <= 1, plan)
    val scan = SamplingOps.hashSample(spark, sfDir)
      .queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("doc_id") && scan.contains("source"))
    assert(!scan.contains("text"), "sampler must not read the corpus text column")
  }
}
