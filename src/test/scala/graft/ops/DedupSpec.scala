package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** d7 (LSH-bucketed embedding near-dup) must return exactly d6's exact
  * all-pairs top-50 on the test data — full recall of the brute-force
  * result — while planning as equi-joins (no BroadcastNestedLoopJoin /
  * CartesianProduct; asserted here next to the equality so the two gates
  * travel together).
  */
class DedupSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = graft.TestSession("dedup-spec", 8)

  test("d7 lshNearDup == d6 embedNearDup top-50 (dispatched AND explicit LSH point)") {
    spark.sparkContext.setLogLevel("WARN")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val exact = rows(DedupOps.embedNearDup(spark, sfDir))
    // the dispatched query (exact path at test n — must stay identical)
    val auto = rows(DedupOps.lshNearDup(spark, sfDir))
    // the bucketed LSH machinery at the oracle's fixed (bits, tables)
    // point — the full-recall gate the round-5 test pinned, kept so the
    // above-crossover path's candidate generation stays verified
    val e0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val lsh = rows(DedupOps.lshNearDupOn(
      e0, DedupOps.NearDupBits, DedupOps.NearDupTables, 50))
    assert(exact.size == 50 && auto.size == 50 && lsh.size == 50)
    assert(exact.map(t => (t._1, t._2)) == auto.map(t => (t._1, t._2)),
      "dispatched d7 diverged from the exact top-50")
    assert(exact.map(t => (t._1, t._2)) == lsh.map(t => (t._1, t._2)),
      "LSH candidate generation missed a true top-50 pair")
    exact.zip(auto).zip(lsh).foreach { case (((_, _, ce), (_, _, ca)), (_, _, cl)) =>
      assert(math.abs(ce - ca) < 1e-12, s"cosine drift: $ce vs $ca")
      assert(math.abs(ce - cl) < 1e-12, s"cosine drift: $ce vs $cl")
    }
  }

  test("d7 dispatch: exact below the measured crossover, sized LSH above") {
    // below: the exact path (the measured-cheaper identical-output plan)
    assert(DedupOps.annParamsFor(500).isEmpty)
    assert(DedupOps.annParamsFor(DedupOps.AnnExactCrossover).isEmpty)
    // above: bits from the bucket budget, tables from the recall target
    val op = DedupOps.annParamsFor(1000000L)
      .getOrElse(fail("no LSH point above the crossover"))
    assert(op.bits ==
      AnnSizing.bitsFor(1000000L, DedupOps.NearDupTargetBucket))
    assert(op.predictedRecall >= DedupOps.NearDupTargetRecall,
      s"sized point misses its own recall target: $op")
    // near-identical pairs (the ones near-dup removal acts on) are
    // effectively never lost at the sized point
    assert(AnnSizing.predictedRecall(0.99, op.bits, op.tables) > 0.999,
      s"sized point loses near-identical pairs: $op")
  }

  test("d7 LSH machinery plans as equi-joins: no all-pairs join anywhere") {
    val e0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val plan = DedupOps
      .lshNearDupOn(e0, DedupOps.NearDupBits, DedupOps.NearDupTables, 50)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"d7 fell back to an all-pairs join:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"d7 fell back to a cartesian product:\n$plan")
    // the rescore must never SORT the candidate stream: sort-merge on the
    // pair side (chosen once the vector table outgrows the broadcast
    // threshold) spilled >77 GB and died at n=10⁶ — the embedding sides
    // are hinted to shuffled hash builds (AQE may upgrade to broadcast at
    // tiny SF, which is also sort-free; only SortMergeJoin is the failure)
    assert(!plan.contains("SortMergeJoin"),
      s"d7 rescore sorted the candidate stream:\n$plan")
  }

  test("d2 posting-list pairs: no self-join, no all-pairs join") {
    val plan = DedupOps.ngramJaccardPairs(spark, sfDir)
      .queryExecution.executedPlan.toString
    // no join of any kind: the doc sizes ride the posting entries, and
    // partners are counted per probe doc, not exploded into pair rows
    assert(!plan.toLowerCase.contains("join"), plan)
    assert(!plan.toLowerCase.contains("orderedpairs"), plan)
    assert(plan.toLowerCase.contains("partneroverlaps"), plan)
  }

  test("d2 building the DataFrame and its plan starts no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    // spark.read.parquet infers the schema with a job of its own, so the
    // input is read before the window; d2 itself must add none
    val input = spark.read.parquet(s"$sfDir/documents.parquet")
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("d2-build", "build d2")
      DedupOps.ngramJaccardPairsOn(input, 0.05).queryExecution.executedPlan
      // jobs reach listeners in start order: once this marker job is seen,
      // any job the build started has been seen too
      sc.setJobGroup("d2-marker", "marker")
      spark.range(1).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains("d2-marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(groups.contains("d2-marker"), "marker job never reached the listener")
      assert(!groups.contains("d2-build"), "building d2 ran a Spark job")
    } finally sc.removeSparkListener(listener)
  }

  test("d2 == plain-Scala all-pairs reference at tau 0.05 and 0.8 (df prune, near-dups, NULLs)") {
    import spark.implicits._
    import java.nio.charset.StandardCharsets.UTF_8
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val next = corpus.map(_._1).max + 1
    // a trigram shared by more than MaxShingleDf docs of two shingles each:
    // unpruned, every pair of them would have jaccard 1/3
    val hot = (0 until DedupOps.MaxShingleDf + 20).map(i =>
      (next + i, s"zqhot zqplanted zqtrigram zqu$i"))
    // near-dups of long corpus docs: an exact copy and a last-token edit
    val long = corpus.filter(_._2.split(" ", -1).length >= 40).take(3)
    val dups = long.zipWithIndex.flatMap { case ((_, t), i) =>
      Seq((next + 1000 + 2 * i, t),
        (next + 1001 + 2 * i, t.substring(0, t.lastIndexOf(' ')) + " zqedit"))
    }
    val docs = corpus ++ hot ++ dups
    // NULL ids and texts never pair
    val frame = (docs.map { case (id, t) => (Option(id), Option(t)) } ++
      Seq((None, Some(long.head._2)), (Some(next + 5000), None)))
      .toDF("doc_id", "text")

    // reference: hash -> multiplicity per doc (a within-doc collision keeps
    // both distinct shingles), n = distinct shingle strings
    val sh = docs.map { case (id, t) =>
      val toks = t.split(" ", -1)
      val strs = if (toks.length < 3) Seq.empty[String]
        else (0 until toks.length - 2)
          .map(i => toks(i) + " " + toks(i + 1) + " " + toks(i + 2)).distinct
      (id, strs.size,
        strs.groupBy(s => graft.functions.TextShingles.hash60(s.getBytes(UTF_8)))
          .map { case (h, ss) => h -> ss.size })
    }
    val df = sh.flatMap(_._3.toSeq).groupBy(_._1).map { case (h, ms) => h -> ms.map(_._2).sum }
    val hotHash = graft.functions.TextShingles.hash60(
      "zqhot zqplanted zqtrigram".getBytes(UTF_8))
    assert(df(hotHash) > DedupOps.MaxShingleDf, "the planted trigram must be df-pruned")
    def reference(tau: Double): Seq[(Long, Long, Long, Double)] = {
      val kept = sh.map { case (id, n, m) =>
        (id, n, m.filter { case (h, _) => df(h) <= DedupOps.MaxShingleDf }) }
      (for {
        (a, na, ma) <- kept; (b, nb, mb) <- kept if a < b
        inter = ma.iterator.map { case (h, c) => c.toLong * mb.getOrElse(h, 0) }.sum
        if inter > 0
        j = inter.toDouble / (na + nb - inter)
        if j >= tau
      } yield (a, b, inter, j)).sortBy(r => (r._1, r._2))
    }

    for (tau <- Seq(0.05, CurationOps.NearDupTau)) {
      val got = DedupOps.ngramJaccardPairsOn(frame, tau).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      val want = reference(tau)
      assert(want.nonEmpty)
      assert(got == want, s"tau $tau: ${got.size} rows vs ${want.size} expected")
      assert(!got.exists(r => r._1 >= next && r._1 < next + hot.size),
        "a pair held only by the pruned trigram came out")
    }
    val nearDups = reference(CurationOps.NearDupTau).map(r => (r._1, r._2)).toSet
    dups.grouped(2).foreach { case Seq((c, _), (e, _)) =>
      assert(nearDups((c, e)), s"planted near-dup ($c, $e) missing at tau 0.8")
    }
  }

  test("d3 minhash: per-row fold, ZERO shuffles") {
    val plan = DedupOps.minhash(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"minhash must be a per-row array fold, not an explode+groupBy:\n$plan")
  }

  test("d4 band pairs: no join at all (posting-list expansion, one band shuffle)") {
    val plan = DedupOps.lshPairs(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"),
      s"d4 must pair inside grouped band buckets, not via a self-join:\n$plan")
    // band-bucket agg + distinct = 2 hash exchanges, no more (minhash is
    // now a per-row fold with none; the original union-of-selects
    // self-join planned 8 logical evaluations of a minhash AGGREGATE and
    // leaned on ReuseExchange to dedupe them)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges <= 2, s"expected <=2 hash exchanges in d4 plan:\n$plan")
  }

  test("vector queries run the native DotProduct expression, not the HOF fallback") {
    val p1 = VectorOps.annTopK(spark, sfDir).queryExecution.executedPlan.toString
    assert(p1.toLowerCase.contains("dotproduct"), s"v1 lost the native dot:\n$p1")
    val p2 = DedupOps.lshNearDup(spark, sfDir).queryExecution.executedPlan.toString
    assert(p2.toLowerCase.contains("dotproduct"), "d7 lost the native dot")
    // v3's distance runs the |a-c|^2 = a.a - 2 a.c + c.c expansion on the
    // native expression — no interpreted HOF, no sequence(0,63) literal
    val p3 = VectorOps.clusterStats(spark, sfDir).queryExecution.executedPlan.toString
    assert(p3.toLowerCase.contains("dotproduct"), s"v3 lost the native dot:\n$p3")
    assert(!p3.contains("sequence(0, 63"), "v3 still hard-codes 64 dims")
  }

  test("d5 simhash is a per-row native fold: ZERO hash exchanges") {
    val plan = DedupOps.simhash(spark, sfDir)
      .queryExecution.executedPlan.toString
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges == 0,
      s"simhash must be a per-row fold, not an explode+aggregate:\n$plan")
    assert(plan.toLowerCase.contains("simhashsig"), s"native fold missing:\n$plan")
  }

  test("d5 native SimHashSig == declarative explode+61-sum aggregate, bit-exact") {
    import org.apache.spark.sql.functions._
    // the round-5 declarative formulation, re-derived here as ground truth
    val toks = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("h",
        conv(substring(md5(col("tok").cast("binary")), 1, 15), 16, 10).cast("long"))
    val aggs = count(lit(1)).as("n") +:
      (0 until 60).map(i => sum(expr(s"CAST((h >> $i) & 1 AS BIGINT)")).as(s"c$i"))
    val sig = (0 until 60).map { i =>
      when(lit(2L) * col(s"c$i") - col("n") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    val want = toks.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), sig.cast("long").as("simhash"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val got = DedupOps.simhash(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want)
  }

  /** Local union-find ground truth for the connected-components tests. */
  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0 until n).map(i => i.toLong -> find(i).toLong).toMap
  }

  test("d8 connectedComponents == union-find on a seeded random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val n = 300
    val edges = Seq.fill(220)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2)
    val (roots, _) = DedupOps.connectedComponents(edges.toDF("s", "d"))
    val got = roots.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = unionFind(n, edges)
    // spark output omits roots/isolated nodes: compare with self-default
    (0L until n.toLong).foreach { v =>
      assert(got.getOrElse(v, v) == want(v), s"node $v: ${got.get(v)} vs ${want(v)}")
    }
  }

  test("d8 alternating-star converges in O(log n) rounds on a worst-case path") {
    import spark.implicits._
    // a 256-node path (diameter 255) — the transitive-chain shape crawl
    // dups actually produce; label propagation would need 255 rounds
    val edges = (0L until 255L).map(i => (i, i + 1))
    val (roots, rounds) = DedupOps.connectedComponents(edges.toDF("s", "d"))
    val got = roots.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    (1L to 255L).foreach(v => assert(got(v) == 0L, s"node $v root ${got.get(v)}"))
    assert(rounds <= 12, s"alternating star took $rounds rounds on a 256-path")
  }

  test("d8 driver union-find == distributed alternating-star on the corpus edges") {
    import org.apache.spark.sql.functions.col
    val edges = DedupOps.lshPairs(spark, sfDir)
      .select(col("doc_a").as("s"), col("doc_b").as("d"))
    val dist = DedupOps.connectedComponents(edges)._1.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val drv = DedupOps.driverComponents(spark,
        edges.collect().map(r => (r.getLong(0), r.getLong(1))))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(drv == dist, s"paths diverge: ${drv.diff(dist)} / ${dist.diff(drv)}")
    assert(drv.nonEmpty, "test corpus lost its planted near-dup pairs")
  }

  test("d8 lshClusters: every doc labeled, d4 pairs co-clustered, min-id keepers") {
    val rows = DedupOps.lshClusters(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(rows.length == nDocs)
    val cluster = rows.map(r => r._1 -> r._2).toMap
    // transitivity: both endpoints of every candidate pair share a label
    val pairs = DedupOps.lshPairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "test corpus lost its planted near-dup pairs")
    pairs.foreach { case (a, b) =>
      assert(cluster(a) == cluster(b), s"pair ($a,$b) split across clusters")
    }
    // the label is the component minimum and sizes count the members
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_._1).min == cid, s"cluster $cid not rooted at min")
      members.foreach(m => assert(m._3 == members.length,
        s"cluster $cid size ${m._3} != ${members.length}"))
    }
    // the planted chains make at least one non-trivial cluster
    assert(byCluster.exists(_._2.length >= 2), "no multi-doc cluster found")
  }

  test("d8 forced distributed path: driver-path labels, band aggregate runs in one job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerStageCompleted}
    import scala.jdk.CollectionConverters._
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val driverPath = labels(DedupOps.lshClusters(spark, sfDir))
    // building d8 runs the d4 band aggregate; the one stage of it that
    // scans the documents table marks each job that (re-)derives the edges
    val sc = spark.sparkContext
    val jobOfStage = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val scanJobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        e.stageIds.foreach(jobOfStage.put(_, e.jobId))
        if (e.properties.getProperty("spark.jobGroup.id") == "d8-marker")
          marker.countDown()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
          scanJobs.add(jobOfStage.get(e.stageInfo.stageId))
    }
    sc.addSparkListener(listener)
    val forced = try {
      val df = DedupOps.lshClustersWith(spark, sfDir, edgeBound = 0)
      // events reach the listener in post order: once the marker job is
      // seen, every stage the build completed has been seen too
      sc.setJobGroup("d8-marker", "marker")
      spark.range(1).count()
      sc.clearJobGroup()
      assert(marker.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "marker job never reached the listener")
      df
    } finally sc.removeSparkListener(listener)
    assert(scanJobs.asScala.toSet.size == 1,
      s"the band aggregate ran in jobs ${scanJobs.asScala.toSeq.distinct}")
    assert(labels(forced) == driverPath)
  }

  test("d11 semDedup equals the JVM-re-derived within-cell max-cosine over the engine's cells") {
    // cells from the engine's own (VectorSpec-pinned) assignment; the
    // within-cell pair scan is re-derived with DotProduct's exact
    // left-to-right double summation
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val assigned = VectorOps.ivfAssigned(e)
      .select("vec_id", "embedding", "cell").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2))).toSeq
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def cos(a: Array[Float], b: Array[Float]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val byCell = assigned.groupBy(_._3)
    val expected = assigned.map { case (id, v, cell) =>
      val lower = byCell(cell).filter(_._1 < id)
      val nn = if (lower.isEmpty) -2.0 else lower.map(o => cos(v, o._2)).max
      (id, cell, nn, nn < DedupOps.SemDedupTau)
    }.sortBy(_._1)
    val got = DedupOps.semDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getBoolean(3))).toSeq
    assert(got == expected)
    // every cell's min-id vector is always kept
    val minIds = byCell.values.map(_.map(_._1).min).toSet
    assert(got.filter(r => minIds(r._1)).forall(_._4))
  }

  test("d11 drops the later twin of a planted identical pair; keeps the first") {
    import spark.implicits._
    val base = Array.tabulate(8)(i => (i + 1).toFloat)
    val twin = base.clone()
    val far = Array.tabulate(8)(i => if (i % 2 == 0) -3f else 2f)
    val rows = Seq(
      (0L, base, 0), (1L, twin, 0), (2L, far, 1),
      (3L, far.map(_ * 1.1f), 1), (4L, base.map(-_), 0))
    val byId = DedupOps.semDedupOn(rows.toDF("vec_id", "embedding", "label"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getBoolean(3))).toMap
    assert(byId(0L)._2, "the min-id twin must be kept")
    assert(byId(1L)._1 > 0.999999 && !byId(1L)._2, "the later twin must be dropped")
    // scaled copies of `far` are parallel → cosine 1 → later one dropped
    assert(!byId(3L)._2 && byId(2L)._2)
  }

  test("d11 plan: cell-partitioned equi-joins, shuffle-hash pair scan, no sort-merge") {
    val plan = DedupOps.semDedup(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }
}
