package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** v4 (bucketed ANN top-k) must return exactly v1's brute-force top-20 on
  * the test data — the LSH probe loses no true neighbor — and its candidate
  * probe must plan as an equi-join (the only nested-loop join allowed is
  * attaching the broadcast 1-row query vector, which v1 shares).
  */
class VectorSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = graft.TestSession("vector-spec", 8)

  test("v4 lshAnnTopK == v1 annTopK top-20 (dispatched AND explicit LSH point)") {
    spark.sparkContext.setLogLevel("WARN")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val exact = rows(VectorOps.annTopK(spark, sfDir))
    // the dispatched query (exact path at test n — must stay identical)
    val auto = rows(VectorOps.lshAnnTopK(spark, sfDir))
    // the bucketed probe machinery at the oracle's fixed point — the
    // full-recall gate kept on the above-crossover path
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val lsh = rows(VectorOps.lshAnnTopKOn(
      e, DedupOps.NearDupBits, DedupOps.NearDupTables))
    assert(exact.size == 20 && auto.size == 20 && lsh.size == 20)
    assert(exact.map(t => (t._1, t._2)) == auto.map(t => (t._1, t._2)),
      "dispatched v4 diverged from the exact top-20")
    assert(exact.map(t => (t._1, t._2)) == lsh.map(t => (t._1, t._2)),
      "LSH probe missed a true top-20 neighbor")
    exact.zip(auto).zip(lsh).foreach { case (((_, _, ce), (_, _, ca)), (_, _, cl)) =>
      assert(math.abs(ce - ca) < 1e-12, s"cosine drift: $ce vs $ca")
      assert(math.abs(ce - cl) < 1e-12, s"cosine drift: $ce vs $cl")
    }
  }

  test("native DotProduct == HOF aggregate(zip_with) formulation, bit-exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(
      (Array(1.5f, -2.25f, 3.0f), Array(0.1, 0.2, 0.3)),
      (Array(0.0f, 1e-7f, -4.5f), Array(7.0, -0.033, 2.5)))
      .toDF("fa", "da")
    val hof = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x)
    val rows = df.select(
      graft.functions.VectorExprs.dotProduct(col("fa"), col("da")).as("native"),
      hof(col("fa"), col("da")).as("hof"),
      graft.functions.VectorExprs.dotProduct(col("fa"), col("fa")).as("native_ff"),
      hof(col("fa"), col("fa")).as("hof_ff")).collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1)) // bit equality, no tolerance
      assert(r.getDouble(2) == r.getDouble(3))
    }
  }

  test("native DotProduct == HOF on 200 random float vectors (property sweep, bit-exact)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // deterministic pseudo-random floats incl. negatives, tiny and large
    // magnitudes — a drift anywhere in widen/multiply/sum order would show
    val rnd = new scala.util.Random(42)
    val df = (1 to 200).map { _ =>
      val n = 1 + rnd.nextInt(96)
      (Array.fill(n)((rnd.nextGaussian() * math.pow(10, rnd.nextInt(7) - 3)).toFloat),
        Array.fill(n)((rnd.nextGaussian() * math.pow(10, rnd.nextInt(7) - 3)).toFloat))
    }.toDF("a", "b")
    val hof = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x)
    val bad = df.select(
      graft.functions.VectorExprs.dotProduct(col("a"), col("b")).as("n"),
      hof(col("a"), col("b")).as("h"))
      .filter(col("n") =!= col("h")).count()
    assert(bad == 0L)
  }

  test("v4 candidate generation is an equi-join (only the 1-row query attach may nest)") {
    // gate the bucketed machinery explicitly — the dispatched query takes
    // the v1 brute-force plan below the crossover (one 1-row BNLJ attach,
    // which this assertion also allows)
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val plan = VectorOps
      .lshAnnTopKOn(e, DedupOps.NearDupBits, DedupOps.NearDupTables)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnlj <= 1, s"expected at most the query-vector attach as BNLJ:\n$plan")
    val planAuto = VectorOps.lshAnnTopK(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!planAuto.contains("CartesianProduct"), planAuto)
  }

  test("v5 ivfTopK: structure, probe pruning, and tail recall floor on the corpus") {
    val rows = VectorOps.ivfTopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    assert(rows.length == 20)
    // the query vector itself is in its own cell, so rank 1 is vec 0 at cos 1
    assert(rows.head._1 == 0L && math.abs(rows.head._4 - 1.0) < 1e-12)
    // candidates come from exactly nprobe cells
    assert(rows.map(_._3).distinct.length <= VectorOps.IvfNProbe)
    // measured tail recall on the unclustered synthetic corpus (scaladoc):
    // 0.55 at sf0.001 — assert the floor so a probe regression shows
    val exact = VectorOps.annTopK(spark, sfDir).collect().map(_.getLong(0)).toSet
    val recall = rows.count(r => exact.contains(r._1)) / 20.0
    assert(recall >= 0.5, s"tail recall@20 dropped to $recall")
  }

  test("v5 ivfTopK: a genuinely near vector always shares the query cell and is found") {
    import spark.implicits._
    // 400 seeded uniform vectors over 10 labels + a planted near-copy of the
    // query (cosine ~0.9999): IVF's contract is that near-identical vectors
    // quantize to the same cell, so the probe can never lose them
    val rnd = new scala.util.Random(7)
    val base = (0L until 400L).map { i =>
      (i, Array.fill(16)((rnd.nextDouble() * 2 - 1).toFloat), (i % 10).toInt)
    }
    val q = base.head._2
    val planted = (999L, q.map(x => x + 1e-4f), 3)
    val e = (base :+ planted).toDF("vec_id", "embedding", "label")
    val rows = VectorOps.ivfTopKOn(e).collect()
      .map(r => (r.getLong(0), r.getDouble(3)))
    assert(rows.head._1 == 0L)
    assert(rows(1)._1 == 999L, s"planted near-dup not at rank 2: ${rows.toSeq}")
    assert(rows(1)._2 > 0.999)
  }

  test("v5 index: partitionBy(cell) probe prunes to nprobe cells, == inline ivfTopK") {
    val path = java.nio.file.Files.createTempDirectory("ivfidx").toString
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    VectorOps.ivfWriteIndex(e, path)
    // the materialized layout has one directory per cell
    val cellDirs = new java.io.File(s"$path/vectors").listFiles
      .count(_.getName.startsWith("cell="))
    assert(cellDirs == 10, s"expected 10 cell partitions, got $cellDirs")
    val q = e.filter(org.apache.spark.sql.functions.col("vec_id") === 0)
      .collect()(0).getSeq[Float](1).toArray
    val probe = VectorOps.ivfProbeIndex(spark, path, q, 20)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSeq
    assert(key(probe) == key(VectorOps.ivfTopK(spark, sfDir)),
      "materialized-index probe diverged from the inline v5 query")
    // the pruning proof: the literal cell predicate reaches the file index
    // as a PartitionFilter, and the scan selects only the probed partitions
    val scan = probe.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .getOrElse(fail("no FileSourceScan in probe plan"))
    assert(scan.partitionFilters.exists(_.toString.contains("cell")),
      s"cell predicate not in PartitionFilters: ${scan.partitionFilters}")
    assert(scan.selectedPartitions.partitionCount == VectorOps.IvfNProbe,
      s"scan read ${scan.selectedPartitions.partitionCount} partitions, not nprobe")
  }

  test("v6 kmeansRefine recovers planted well-separated clusters at purity 1.0") {
    import spark.implicits._
    // 5 tight clusters × 40 points; the first 10 vec_ids give TWO seeds per
    // cluster (a non-trivial seeding: Lloyd must merge/starve duplicates,
    // not just relabel). With separation ≫ noise, after one round every
    // centroid lies inside a single cluster, so no final cell may mix two
    // ground-truth clusters — purity is exactly 1.0 in every cell.
    val rnd = new scala.util.Random(11)
    def center(c: Int): Array[Float] =
      Array.tabulate(16)(d => if (d == c % 16) 10f * (c + 1) else 0f)
    val rows = (0L until 200L).map { i =>
      val c = (i % 5).toInt // ids 0-9 hit each cluster twice -> two seeds each
      (i, center(c).map(x => x + (rnd.nextGaussian() * 0.01).toFloat), c)
    }
    val out = VectorOps.kmeansRefineOn(
        rows.toDF("vec_id", "embedding", "label").localCheckpoint())
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(out.map(_._2).sum == 200L, "every vector assigned exactly once")
    assert(out.forall(_._4 == 1.0),
      s"a learned cell mixed two planted clusters: ${out.toSeq}")
    // all five planted clusters survive as (at least one) learned cell
    assert(out.map(_._3).distinct.sorted.toSeq == (0 until 5).toSeq)
  }

  test("v6 kmeansRefine == plain-JVM Lloyd re-derivation on the corpus") {
    val eng = VectorOps.kmeansRefine(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getDouble(4)))
    val data = spark.read.parquet(s"$sfDir/embeddings.parquet").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
      .sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def assign(cents: Seq[(Int, Array[Double])]) = data.map { case (id, v, lab) =>
      val best = cents.map { case (cell, c) =>
        (dot(v, v) - 2.0 * dot(v, c) + dot(c, c), cell)
      }.minBy(identity)
      (id, v, lab, best._2, best._1)
    }
    // DECIMAL(38,15)-exact mean: per-value HALF_UP quantization to 15 dp
    // (Spark's Decimal double path goes through BigDecimal.valueOf), exact
    // sum, one double division — the engine's arithmetic step for step
    def d15(x: Double) =
      java.math.BigDecimal.valueOf(x).setScale(15, java.math.RoundingMode.HALF_UP)
    def means(asg: Array[(Long, Array[Double], Int, Int, Double)]) =
      asg.groupBy(_._4).toSeq.sortBy(_._1).map { case (cell, vs) =>
        cell -> Array.tabulate(vs.head._2.length) { d =>
          vs.map(t => d15(t._2(d))).reduce(_.add(_)).doubleValue / vs.length
        }
      }
    var cents: Seq[(Int, Array[Double])] =
      data.filter(_._1 < VectorOps.KmeansK).map(t => (t._1.toInt, t._2)).toSeq
    for (_ <- 1 to VectorOps.KmeansIters) cents = means(assign(cents))
    val fin = assign(cents)
    val ref = fin.groupBy(_._4).toSeq.sortBy(_._1).map { case (cell, vs) =>
      val (topLab, topN) = vs.groupBy(_._3).toSeq
        .map { case (l, g) => (l, g.length) }.maxBy(t => (t._2, -t._1))
      val meanDist = vs.map(t => d15(math.sqrt(math.max(t._5, 0.0))))
        .reduce(_.add(_)).doubleValue / vs.length
      (cell, vs.length.toLong, topLab, topN.toDouble / vs.length,
        BigDecimal(meanDist).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(eng.length == ref.length)
    eng.zip(ref).foreach { case (e, r) =>
      assert(e._1 == r._1 && e._2 == r._2 && e._3 == r._3, s"$e vs $r")
      assert(e._4 == r._4, s"top_frac: $e vs $r")
      assert(math.abs(e._5 - r._5) < 1e-9, s"mean_dist: $e vs $r")
    }
  }

  test("v6 plan: checkpointed spine (no parquet re-scan), no SMJ, one 1-row attach") {
    val plan = VectorOps.kmeansRefine(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Scan parquet"),
      s"an iteration re-scanned the corpus instead of the checkpoint:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"), plan)
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnlj <= 1, s"only the final 1-row centroid attach may nest:\n$plan")
  }

  test("v5 plan: only 1-row broadcast attaches may nest (cells ×2 branches, query)") {
    val plan = VectorOps.ivfTopK(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    // the cells array attaches on both the candidate and the query branch,
    // and the query vector attaches once — all three are 1-row broadcasts
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnlj <= 3, s"expected only the 1-row broadcast attaches as BNLJ:\n$plan")
  }
}
