package graft.tools

import org.apache.spark.sql.DataFrame
import graft.ops.DedupOps

/** Scale evidence for the embedding near-dup pair (d6 exact all-pairs vs
  * d7 LSH-bucketed): the driver's `embeddings` table is 500 vectors at
  * every SF, far too small to show the asymptotics, so this tool generates
  * n deterministic 64-dim vectors WITH planted near-duplicates (every 10th
  * vector = previous vector + small noise, cosine ≈ 0.999 — the structure a
  * real dedup corpus has) and measures both operators as n grows. Exact
  * all-pairs is O(n²) and stops being runnable quickly; the LSH path's
  * bits scale with log2(n / target-bucket-size), so its candidate set
  * tracks the planted duplicates, not the pair space. Recall is reported
  * against the exact top-k whenever the exact variant still runs.
  *
  *   runMain graft.tools.AnnScale [n,n,...]   (default 2000,10000,50000)
  */
object AnnScale {

  private def splitmix(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def u01(x: Long): Double = (x >>> 11) * 1.1102230246251565e-16

  /** Deterministic standard normal via Box-Muller on splitmix streams. */
  private[tools] def gauss(seed: Long): Double = {
    val u1 = math.max(u01(splitmix(seed)), 1e-12)
    val u2 = u01(splitmix(seed + 0x7fb5d329728ea185L))
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  def baseVec(i: Long, dim: Int): Array[Float] =
    Array.tabulate(dim)(d => gauss(i * 131071L + d * 524287L).toFloat)

  /** Every 10th vector is a near-duplicate of its predecessor. */
  def vec(i: Long, dim: Int): Array[Float] =
    if (i % 10 == 0 && i > 0) {
      val p = baseVec(i - 1, dim)
      Array.tabulate(dim)(d =>
        (p(d) + 0.05 * gauss(i * 999983L + d * 104729L)).toFloat)
    } else baseVec(i, dim)

  /** Exact ground truth at sizes where all-pairs is infeasible: exact
    * cosines over the PLANTED candidate pairs only ((i-1, i) for i%10==0,
    * cosine ≈ 0.9987). Pair cosines of independent 64-dim gaussians are
    * ~N(0, 1/64) (σ = 0.125); even the max over the 5·10¹¹ pairs at n=10⁶
    * is ≈ σ·√(2·ln 5·10¹¹) ≈ 0.92 — far below the planted band, so the
    * global exact top-k IS the planted top-k. One linear scan + a k-limit,
    * no quadratic work.
    */
  private def plantedExact(emb: DataFrame, k: Int): Set[(Long, Long)] = {
    import org.apache.spark.sql.functions._
    val dot = graft.ops.VectorOps.dot _
    val dups = emb.filter(col("vec_id") % 10 === 0 && col("vec_id") > 0)
      .select((col("vec_id") - 1).as("doc_a"), col("vec_id").as("doc_b"),
        col("embedding").as("eb"))
    val base = emb.select(col("vec_id").as("doc_a"), col("embedding").as("ea"))
    dups.join(base, "doc_a")
      .select(col("doc_a"), col("doc_b"),
        (dot(col("ea"), col("eb")) /
          (sqrt(dot(col("ea"), col("ea"))) * sqrt(dot(col("eb"), col("eb")))))
          .as("cosine"))
      .orderBy(desc("cosine"), col("doc_a")).limit(k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  def main(args: Array[String]): Unit = {
    val ns = args.headOption.getOrElse("2000,10000,50000")
      .split(",").map(_.trim.toInt).toSeq
    // shuffle/spill on tmpfs, like ScalingBench: a single local disk is a
    // bottleneck (and at n=10⁶, a hard failure) a real cluster's
    // per-executor shuffle volumes don't share
    val spark = graft.jobs.JobSession.build("graft-ann-scale",
      localDir = Some("/dev/shm/graft-ann"))
    import spark.implicits._

    val ExactCap = sys.env.getOrElse("GRAFT_ANN_EXACT_CAP", "60000").toInt
    val TopK = 50
    ns.foreach { n =>
      val e: DataFrame = spark.range(0, n, 1, 32)
        .map(i => (i, vec(i, 64))).toDF("vec_id", "embedding").cache()
      e.count()
      // GRAFT_ANN_AUTO=1 (round 6): exercise the SHIPPED dispatch —
      // DedupOps.annParamsFor sizes (bits, tables) via
      // AnnSizing.operatingPoint above the crossover and routes to the
      // exact path below it — instead of this harness's fixed 8-table
      // point, so the auto-sized operator is what gets measured.
      val auto = sys.env.getOrElse("GRAFT_ANN_AUTO", "0") == "1"
      val target = sys.env.getOrElse("GRAFT_ANN_BUCKET", "64").toInt
      val sized = if (auto) DedupOps.annParamsFor(n) else None
      val bits = sized.map(_.bits).getOrElse(
        math.max(2, math.ceil(math.log(n.toDouble / target) / math.log(2)).toInt))
      val tables = sized.map(_.tables).getOrElse(8)
      val mode =
        if (!auto) "fixed"
        else if (sized.isEmpty) "auto_exact" else "auto_lsh"

      def pairs(df: DataFrame): (Set[(Long, Long)], Double) = {
        val t0 = System.nanoTime()
        val rows = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        (rows, (System.nanoTime() - t0) / 1e9)
      }

      val (lshPairs, lshSec) =
        if (auto && sized.isEmpty) pairs(DedupOps.lshNearDupAuto(e, n, TopK))
        else pairs(DedupOps.lshNearDupOn(e, bits, tables, TopK))
      val (exactPairs, exactSec, exactMode) =
        if (n <= ExactCap) {
          val (p, s) = pairs(DedupOps.embedNearDupOn(e, TopK))
          (p, s, "all_pairs")
        } else {
          val t0 = System.nanoTime()
          val p = plantedExact(e, TopK)
          (p, (System.nanoTime() - t0) / 1e9, "planted")
        }
      val recall =
        if (exactPairs.nonEmpty) (lshPairs & exactPairs).size.toDouble / exactPairs.size
        else -1.0
      println(f"""{"bench":"ann_scale","n":$n,"mode":"$mode","bits":$bits,"tables":$tables,"lsh_sec":$lshSec%.2f,"exact_sec":$exactSec%.2f,"exact_mode":"$exactMode","recall_vs_exact":$recall%.3f,"pairs_space":${n.toLong * (n - 1) / 2}}""")
      e.unpersist()
    }
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("/dev/shm/graft-ann"))
  }
}
