package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** The native ShingleHashes / MinHashSigs expressions must be
  * element-equal to the declarative higher-order-function formulation
  * they replaced (the form the DuckDB oracles still mirror in SQL):
  * split-on-single-space with empties kept, <3-token empty guard,
  * array_distinct by shingle STRING in first-occurrence order, 60-bit
  * md5-prefix hash, per-seed XOR-min folds.
  */
class ShingleSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = graft.TestSession("shingle-spec", 8)

  /** The original declarative formulation, verbatim. */
  private def hofShingleHashes(txt: Column): Column = {
    val toks = split(txt, " ")
    val strings = when(size(toks) >= 3, array_distinct(
      transform(sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ",
          element_at(toks, i),
          element_at(toks, i + 1),
          element_at(toks, i + 2)))))
      .otherwise(array().cast("array<string>"))
    transform(strings,
      s => conv(substring(md5(s.cast("binary")), 1, 15), 16, 10).cast("long"))
  }

  private def hofMins(hs: Column): Seq[Column] =
    graft.ops.DedupOps.MinHashSeeds.zipWithIndex.map { case (seed, k) =>
      array_min(transform(hs, h => h.bitwiseXOR(lit(seed)))).as(s"mh$k")
    }

  private def adversarialDocs: Seq[String] = {
    val rnd = new scala.util.Random(42)
    val fixed = Seq(
      "", " ", "  ", "one", "one two", "one two three",
      "a b c d e f g", "a  b   c d", " leading space", "trailing space ",
      "dup dup dup dup dup dup", "a b a b a b a b",
      "unicode é ü 中文 tokens here", "tab\tis one token here ok")
    val random = (1 to 200).map { _ =>
      val n = rnd.nextInt(12)
      (0 until n).map { _ =>
        if (rnd.nextInt(8) == 0) ""
        else (0 until 1 + rnd.nextInt(4))
          .map(_ => ('a' + rnd.nextInt(5)).toChar).mkString
      }.mkString(" ")
    }
    fixed ++ random
  }

  test("ShingleHashes == HOF formulation on the corpus and adversarial strings") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("string"), col("text"))
    val adv = adversarialDocs.zipWithIndex
      .map { case (t, i) => (s"adv$i", t) }.toDF("doc_id", "text")
    Seq(corpus, adv).foreach { d =>
      val rows = d.select(col("doc_id"),
        TextShingles.shingleHashCol(col("text")).as("native"),
        hofShingleHashes(col("text")).as("hof")).collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getSeq[Long](1) == r.getSeq[Long](2),
          s"shingle hashes diverge for doc ${r.getString(0)}")
      }
    }
  }

  test("MinHashSigs == HOF XOR-min folds, incl. the no-shingle NULL drop") {
    import spark.implicits._
    val adv = adversarialDocs.zipWithIndex
      .map { case (t, i) => (s"adv$i", t) }.toDF("doc_id", "text")
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("string"), col("text"))
    Seq(corpus, adv).foreach { d =>
      val hs = hofShingleHashes(col("text"))
      val rows = d.select(
        col("doc_id"),
        TextShingles.minHashSigCol(col("text"),
          graft.ops.DedupOps.MinHashSeeds).as("native"),
        when(size(hs) > 0, array(hofMins(hs): _*)).as("hof")).collect()
      rows.foreach { r =>
        if (r.isNullAt(2)) assert(r.isNullAt(1),
          s"native minhash not NULL for shingle-free doc ${r.getString(0)}")
        else assert(r.getSeq[Long](1) == r.getSeq[Long](2),
          s"minhash sigs diverge for doc ${r.getString(0)}")
      }
    }
  }

  test("partnerOverlaps on crafted tails: duplicated partner, self partner, empty tail, pair at tau") {
    // the tail probe `a` gets from one posting list whose later entries are
    // (ids, ns) — postingTails' own encoding
    def tail(a: Long, na: Int, ids: Seq[Long], ns: Seq[Int]): Array[Byte] =
      TextShingles.postingTails((a +: ids).toArray, (na +: ns).toArray).head._3
    def overlaps(a: Long, na: Int, tails: Seq[Array[Byte]], tau: Double) =
      TextShingles.partnerOverlaps(a, na, tails.toArray, tau).toSeq
    val a = 10L
    val tails = Seq(
      // a within-doc collision: `a` itself is the next entry, then 12
      tail(a, 3, Seq(10L, 12L), Seq(3, 3)),
      // 12 twice in one list: a collision inside doc 12
      tail(a, 3, Seq(12L, 12L, 40L), Seq(3, 3, 9)),
      Array.emptyByteArray,
      tail(a, 3, Seq(40L), Seq(9)))
    // 12: inter 3 -> 3 / (3 + 3 - 3) = 1.0; 40: inter 2 -> 2 / (3 + 9 - 2) = 0.2
    assert(overlaps(a, 3, tails, 0.0) == Seq((12L, 3L, 1.0), (40L, 2L, 0.2)))
    // the floor is inclusive: exactly at tau stays, above tau drops it
    assert(overlaps(a, 3, tails, 0.2) == Seq((12L, 3L, 1.0), (40L, 2L, 0.2)))
    assert(overlaps(a, 3, tails, 0.2000001) == Seq((12L, 3L, 1.0)))
    // only self partners or no tails at all: no pairs
    assert(overlaps(a, 3, Seq(tail(a, 3, Seq(10L), Seq(3))), 0.0).isEmpty)
    assert(overlaps(a, 3, Seq(Array.emptyByteArray), 0.0).isEmpty)
    assert(overlaps(a, 3, Nil, 0.0).isEmpty)
  }

  test("PostingTails + PartnerOverlaps == all-ordered-pairs counts (random lists, extreme ids)") {
    val rnd = new scala.util.Random(7)
    val pool = Seq(Long.MinValue, Long.MinValue + 1, -5L, 0L, 1L, 2L, 1L << 40,
      Long.MaxValue - 1, Long.MaxValue) ++ Seq.fill(20)(rnd.nextLong())
    // a doc's distinct-shingle count: any positive int, incl. multi-byte
    val sizes = pool.map(id => id -> (1000 + rnd.nextInt(Int.MaxValue - 1000))).toMap
    val lists = Seq.fill(300) {
      Seq.fill(rnd.nextInt(8))(pool(rnd.nextInt(pool.length))).sorted.toArray
    }
    val want = lists.flatMap { ids =>
      for (i <- ids.indices; j <- i + 1 until ids.length if ids(i) != ids(j))
        yield (ids(i), ids(j))
    }.groupBy(identity).map { case (p, ps) => p -> ps.size.toLong }
    val byProbe = lists.flatMap(ids => TextShingles.postingTails(ids, ids.map(sizes)))
      .groupBy(t => (t._1, t._2))
    val got = byProbe.toSeq.flatMap { case ((a, na), ts) =>
      TextShingles.partnerOverlaps(a, na, ts.map(_._3).toArray, Double.MinValue)
        .map { case (b, inter, j) =>
          assert(j == inter.toDouble / (na.toLong + sizes(b) - inter))
          (a, b) -> inter
        }
    }
    assert(got.map(_._1).distinct.size == got.size, "a pair came out twice")
    assert(got.toMap == want)
  }

  test("sorted-run streams == postingTails/partnerOverlaps over hand-grouped lists") {
    val maxDf = graft.ops.DedupOps.MaxShingleDf
    def n(id: Long): Int = 3 + (id % 5).toInt
    // posting lists by hash, ids ascending: runs of 1, 2, maxDf and
    // maxDf + 1 entries, and a doc twice in one list (a within-doc
    // collision)
    val lists = Seq(
      10L -> Seq(4L),
      11L -> Seq(4L, 9L),
      12L -> (1L to maxDf.toLong),
      13L -> (1L to maxDf + 1L),
      14L -> Seq(2L, 7L, 7L, 9L))
    def entries(ls: Seq[(Long, Seq[Long])]) =
      ls.flatMap { case (h, ids) => ids.map(id => (h, id, n(id))) }
    def want(ls: Seq[(Long, Seq[Long])]) = ls.flatMap { case (_, ids) =>
      if (ids.size > maxDf) Nil
      else TextShingles.postingTails(ids.toArray, ids.map(n).toArray).toSeq
    }
    def show(ts: Iterable[(Long, Int, Array[Byte])]) =
      ts.map { case (a, na, t) => (a, na, t.toSeq) }.toSeq
    def runs(ls: Seq[(Long, Seq[Long])]) =
      TextShingles.postingRunTails(entries(ls).iterator, maxDf).toSeq
    // the stream (the partition) ends inside an open run: a kept list, a
    // hot list, and a hot list cut after more than maxDf + 1 entries
    for (last <- Seq(16L -> Seq(3L, 5L, 8L), 13L -> (1L to maxDf + 1L),
        15L -> (1L to 3L * maxDf))) {
      val ls = lists :+ last
      assert(show(runs(ls)) == show(want(ls)), s"ending in list ${last._1}")
    }
    assert(runs(Nil).isEmpty)
    assert(runs(Seq(10L -> Seq(4L), 13L -> (1L to maxDf + 1L))).isEmpty)

    // partner runs: each probe doc's tails, grouped by hand, through
    // partnerOverlaps; the run stream sees them sorted by doc only
    val tails = want(lists)
    for (tau <- Seq(0.0, 0.3, 1.0)) {
      val byHand = tails.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (a, ts) =>
        TextShingles.partnerOverlaps(a, ts.head._2, ts.map(_._3).toArray, tau)
          .map { case (b, inter, j) => (a, b, inter, j) }
      }
      val got = TextShingles.partnerRunOverlaps(tails.sortBy(_._1).iterator, tau).toSeq
      assert(got == byHand, s"tau $tau")
      // doc 7 pairs with 9 through list 14 but never with itself
      assert(!got.exists(r => r._1 == r._2))
    }
    val all = TextShingles.partnerRunOverlaps(tails.sortBy(_._1).iterator, 0.0).toSeq
    assert(all.exists(r => r._1 == 7L && r._2 == 9L))
    assert(TextShingles.partnerRunOverlaps(Iterator.empty, 0.0).isEmpty)

    // bucket runs: each run's i < j pairs, runs in stream order, ids in
    // run order; a duplicated id pairs with itself, a single entry gives
    // none, and no pair crosses two runs sharing an id
    val buckets = Seq(
      (1, "a") -> Seq(3L, 5L, 8L),
      (1, "b") -> Seq(8L),
      (2, "a") -> Seq(2L, 7L, 7L, 9L),
      (3, "c") -> Seq(6L),
      (3, "d") -> Seq(6L, 8L))
    def pairsOf(bs: Seq[((Int, String), Seq[Long])]) = bs.flatMap { case (_, ids) =>
      for (i <- ids.indices; j <- i + 1 until ids.length) yield (ids(i), ids(j))
    }
    def runPairs(bs: Seq[((Int, String), Seq[Long])]) = TextShingles.runPairs(
      bs.flatMap { case (k, ids) => ids.map(k -> _) }.iterator).toSeq
    // the stream ends inside an open run of one, two and three entries
    for (last <- Seq(Seq(1L), Seq(1L, 1L), Seq(4L, 5L, 6L))) {
      val bs = buckets :+ ((4, "a") -> last)
      assert(runPairs(bs) == pairsOf(bs), s"ending in run $last")
    }
    assert(runPairs(buckets) == Seq((3L, 5L), (3L, 8L), (5L, 8L), (2L, 7L),
      (2L, 7L), (2L, 9L), (7L, 7L), (7L, 9L), (7L, 9L), (6L, 8L)))
    assert(runPairs(Nil).isEmpty)
    assert(runPairs(Seq((1, "a") -> Seq(4L), (1, "b") -> Seq(4L))).isEmpty)
  }
}
