package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** Corpus-statistics operator gates — d10 (boilerplate detection), t6
  * (vocabulary table), t9 (bigram merge table), s3 (temperature mixture
  * weights), s4 (deterministic shuffle-shard) and s5 (train/valid/test
  * split manifest): values re-derived in plain JVM code over the real
  * test table, plus the plan shapes that make each scale — d10's hot set
  * broadcast (never sort-merge-joined against the corpus), t6/t9's single
  * corpus-size aggregate before any window/top-K, s3's broadcast one-row
  * totals, s4's pruned-scan no-join shuffle, s5's config-sized aggregate.
  */
class CorpusStatsSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = graft.TestSession("corpus-stats-spec", 8)

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def shingleHash(sh: String): Long =
    java.lang.Long.parseLong(md5Hex(sh).substring(0, 15), 16)

  private def shingles(text: String): Set[Long] = {
    val t = text.split(" ", -1)
    (0 to t.length - 3).map(i => s"${t(i)} ${t(i + 1)} ${t(i + 2)}")
      .distinct.map(shingleHash).toSet
  }

  private def docRows(): Seq[(Long, String, String)] = {
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
  }

  test("d10 boilerplate counts equal the JVM-re-derived hot-phrase membership") {
    val rows = docRows()
    // n_corpus counts ALL documents (a <3-word doc contributes to the
    // denominator but emits no output row) — in both engines
    val nCorpus = rows.size.toLong
    val perDoc = rows.map { case (id, tx, _) => (id, shingles(tx)) }
      .filter(_._2.nonEmpty)
    val df = perDoc.flatMap(_._2).groupBy(identity).map { case (h, v) => (h, v.size.toLong) }
    val hot = df.filter { case (_, c) =>
      c >= DedupOps.HotDfMin && c * 1000L >= nCorpus * DedupOps.HotFracPermille
    }.keySet
    assert(hot.nonEmpty, "corpus template headers must produce hot phrases at sf0.001")
    val expected = perDoc.map { case (id, sh) =>
      val nb = sh.count(hot).toLong
      (id, sh.size, nb, nb.toDouble / sh.size, if (nb * 2 >= sh.size) 1 else 0)
    }.sortBy(_._1)
    val got = DedupOps.boilerplate(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getInt(4))).toSeq
    assert(got == expected)
  }

  test("d10 plan: hot set broadcast, corpus never sort-merge-joined") {
    val plan = DedupOps.boilerplate(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("t6 vocab table equals the JVM-re-derived frequency/rank/coverage") {
    val rows = docRows()
    val cnt = rows.flatMap(_._2.split(" ", -1)).groupBy(identity)
      .map { case (t, v) => (t, v.size.toLong) }.toSeq
    val ordered = cnt.sortBy { case (t, c) => (-c, t) }
    val tot = ordered.map(_._2).sum
    var cum = 0L
    val expected = ordered.zipWithIndex.map { case ((t, c), i) =>
      cum += c
      (t, c, i + 1, cum.toDouble / tot)
    }
    val got = TextOps.vocab(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    assert(got == expected)
    // coverage is monotone and ends at exactly 1.0 (integer cum == tot)
    assert(got.last._4 == 1.0)
  }

  test("t6 plan: corpus-size work is one partial-aggregated Exchange; the window runs post-aggregation") {
    val qe = TextOps.vocab(spark, sfDir).queryExecution.executedPlan.toString
    assert(qe.contains("Window"), qe)
    // partial (map-side) aggregation before the shuffle bounds shuffled rows by |vocab|
    assert(qe.contains("HashAggregate"), qe)
    assert(!qe.contains("SortMergeJoin"), qe)
  }

  test("s3 temperature weights equal the JVM-re-derived sqrt-quantized mixture") {
    val rows = docRows()
    val per = rows.groupBy(_._3).map { case (src, v) =>
      val nTokens = v.map(_._2.split(" ", -1).length.toLong).sum
      (src, v.size.toLong, nTokens,
        math.floor(math.sqrt(nTokens.toDouble) * 1e6).toLong)
    }.toSeq.sortBy(_._1)
    val z = per.map(_._4).sum
    val totTokens = per.map(_._3).sum
    val expected = per.map { case (src, nd, nt, sq) =>
      val w = sq.toDouble / z
      (src, nd, nt, w, w / (nt.toDouble / totTokens))
    }
    val got = SamplingOps.temperatureWeights(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(got == expected)
    // weights sum to ~1 and boosts straddle 1 unless the mix is uniform
    assert(math.abs(got.map(_._4).sum - 1.0) < 1e-9)
  }

  test("s3 plan: one-row totals broadcast, no corpus-side sort-merge join") {
    val plan = SamplingOps.temperatureWeights(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("s4 shard/pos equal the JVM-re-derived salted-key range shuffle") {
    val rows = docRows()
    val n = SamplingOps.NumShards
    val bounds = (1 until n).map(i => f"${i.toLong * (1L << 24) / n}%06x")
    val keyed = rows.map { case (id, _, src) =>
      val k = md5Hex(s"shard:$id")
      val k6 = k.substring(0, 6)
      val shard = bounds.count(b => k6 >= b)
      (id, src, k, shard)
    }
    val expected = keyed.groupBy(_._4).toSeq.flatMap { case (shard, v) =>
      v.sortBy { case (id, _, k, _) => (k, id) }.zipWithIndex
        .map { case ((id, src, _, _), i) => (id, src, shard, i + 1) }
    }.sortBy(r => (r._3, r._4))
    val got = SamplingOps.shardShuffle(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSeq
    assert(got == expected)
    // determinism of the whole assignment: a pure function of doc_id
    val again = SamplingOps.shardShuffle(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSeq
    assert(again == got)
    // uniformity sanity: every shard populated at 600 docs / 8 shards
    assert(got.map(_._3).distinct.sorted == (0 until n).toSeq)
  }

  test("s4 plan: text never enters the shuffle; no joins at all") {
    val qe = SamplingOps.shardShuffle(spark, sfDir).queryExecution
    val plan = qe.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    // column pruning: the parquet scan must not read `text`
    val scan = plan.linesIterator.find(_.contains("FileScan")).getOrElse("")
    assert(!scan.contains("text"), scan)
  }

  test("t9 bigram table equals the JVM-re-derived adjacent-pair counts") {
    val rows = docRows()
    val cnt = rows.flatMap(_._2.split(" ", -1).sliding(2).filter(_.size == 2))
      .map(_.mkString(" ")).groupBy(identity)
      .map { case (b, v) => (b, v.size.toLong) }.toSeq
    val expected = cnt.sortBy { case (b, c) => (-c, b) }
      .take(TextOps.BigramTopK).zipWithIndex
      .map { case ((b, c), i) => (b, c, i + 1) }
    val got = TextOps.bigramMerge(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == expected)
    // the table is full at this corpus size and the top pair dominates
    assert(got.size == TextOps.BigramTopK && got.head._2 >= got.last._2)
  }

  test("t9 plan: map-side-combined aggregate + TakeOrdered, no global sort of the bigram table") {
    val plan = TextOps.bigramMerge(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("s5 split manifest equals the JVM-re-derived salted-md5 assignment") {
    spark.sparkContext.setLogLevel("WARN")
    val rows = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    def splitOf(id: Long): String = {
      val k = md5Hex(s"split:$id").substring(0, 6)
      if (k < SamplingOps.TrainBound) "train"
      else if (k < SamplingOps.ValidBound) "valid" else "test"
    }
    val expected = rows.groupBy(r => (splitOf(r._1), r._3)).toSeq
      .map { case ((sp, lang), v) =>
        (sp, lang, v.size.toLong, v.map(_._2.split(" ", -1).length.toLong).sum)
      }.sortBy(r => (r._1, r._2))
    val got = SamplingOps.splitManifest(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    // all three splits are populated and the ratios are ~80/10/10
    val byS = got.groupBy(_._1).map { case (s, v) => (s, v.map(_._3).sum) }
    assert(byS.keySet == Set("train", "valid", "test"))
    val n = byS.values.sum.toDouble
    assert(byS("train") / n > 0.7 && byS("valid") / n < 0.2 && byS("test") / n < 0.2)
  }

  test("s5 plan: one aggregate, no joins, no corpus-scale window") {
    val plan = SamplingOps.splitManifest(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }
}
