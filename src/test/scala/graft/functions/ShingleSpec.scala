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

  test("OrderedPairs == HOF transform/slice expansion (order, dups, empties)") {
    import spark.implicits._
    // duplicates kept (the within-doc hash-collision case d2's a != b
    // guard absorbs), singletons/empties yield empty arrays
    val d = Seq(
      Seq(1L, 2L, 3L, 4L), Seq(7L, 7L, 9L), Seq(5L), Seq.empty[Long],
      Seq(3L, 3L), (1L to 40L).toSeq)
      .toDF("xs")
    val hof = flatten(transform(col("xs"), (a, i) =>
      transform(slice(col("xs"), i + lit(2), size(col("xs")) - i - 1),
        b => struct(a.as("a"), b.as("b")))))
    val rows = d.select(
      TextShingles.orderedPairsCol(col("xs")).as("native"), hof.as("hof"))
      .collect()
    rows.foreach { r =>
      val native = r.getSeq[org.apache.spark.sql.Row](0)
        .map(p => (p.getLong(0), p.getLong(1)))
      val want = r.getSeq[org.apache.spark.sql.Row](1)
        .map(p => (p.getLong(0), p.getLong(1)))
      assert(native == want, s"pair expansion diverges: $native vs $want")
    }
  }

  test("OrderedPairs, PostingTails and PartnerOverlaps reject inputs they cannot read") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    import org.apache.spark.sql.types._
    def typed(t: DataType): Expression = Literal.create(null, t)
    val longs = ArrayType(LongType, containsNull = false)
    val ints = ArrayType(IntegerType, containsNull = false)
    val bins = ArrayType(BinaryType, containsNull = false)
    def ok(e: Expression) = e.checkInputDataTypes().isSuccess
    assert(ok(OrderedPairs(typed(longs))))
    assert(ok(PostingTails(typed(longs), typed(ints))))
    assert(ok(PartnerOverlaps(typed(LongType), typed(IntegerType), typed(bins), 0.5)))
    // a NULL element would be read as 0 (or throw): rejected at analysis
    assert(!ok(OrderedPairs(typed(ArrayType(LongType, containsNull = true)))))
    assert(!ok(PostingTails(typed(ArrayType(LongType, containsNull = true)), typed(ints))))
    assert(!ok(PostingTails(typed(longs), typed(ArrayType(IntegerType, containsNull = true)))))
    assert(!ok(PartnerOverlaps(typed(LongType), typed(IntegerType),
      typed(ArrayType(BinaryType, containsNull = true)), 0.5)))
    // and mistyped arguments
    assert(!ok(OrderedPairs(typed(ints))))
    assert(!ok(PostingTails(typed(ints), typed(ints))))
    assert(!ok(PartnerOverlaps(typed(LongType), typed(LongType), typed(bins), 0.5)))
    assert(!ok(PartnerOverlaps(typed(LongType), typed(IntegerType), typed(longs), 0.5)))
    // through the DataFrame API the rejection is an analysis error
    val withNulls = Seq(Seq(Some(1L), None, Some(3L))).toDF("xs")
    intercept[org.apache.spark.sql.AnalysisException] {
      withNulls.select(TextShingles.orderedPairsCol(col("xs"))).collect()
    }
  }

  test("PartnerOverlaps on crafted tails: duplicated partner, self partner, empty tail, pair at tau") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types._
    // the tail probe `a` gets from one posting list whose later entries are
    // (ids, ns) — PostingTails' own encoding
    def tail(a: Long, na: Int, ids: Seq[Long], ns: Seq[Int]): Array[Byte] =
      TextShingles.postingTails((a +: ids).toArray, (na +: ns).toArray).head._3
    def overlaps(a: Long, na: Int, tails: Seq[Array[Byte]], tau: Double) = {
      val e = PartnerOverlaps(Literal(a), Literal(na),
        Literal.create(tails, ArrayType(BinaryType, containsNull = false)), tau)
      val out = e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      (0 until out.numElements()).map { i =>
        val r = out.getStruct(i, 3)
        (r.getLong(0), r.getLong(1), r.getDouble(2))
      }
    }
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
    // any NULL input is a NULL result
    assert(PartnerOverlaps(Literal.create(null, LongType), Literal(3),
      Literal.create(Nil, ArrayType(BinaryType, containsNull = false)), 0.0).eval() == null)
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
}
