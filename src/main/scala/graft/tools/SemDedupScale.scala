package graft.tools

import org.apache.spark.sql.DataFrame
import graft.ops.DedupOps

/** Scale evidence for d11 (SemDeDup over IVF cells): the driver's
  * `embeddings` table is 500 vectors at every SF — far too small to show
  * the cell-partitioned pair scan's asymptotics — so this tool generates n
  * deterministic CLUSTERED 64-dim vectors (k cluster centers, members =
  * center + noise — the structure that makes IVF assignment meaningful,
  * unlike AnnScale's isotropic gaussians) with planted near-twins (every
  * 10th vector ≈ its predecessor, cosine ≈ 0.999, same cluster), and
  * measures the full operator as n grows with k scaled so cells stay
  * ~[[CellTarget]] — the SemDeDup deployment rule. Reports wall time, the
  * realized pair-space reduction Σ|cell|²/2 vs n(n-1)/2, and planted-twin
  * drop recall (every twin has a lower-id partner above the floor, so a
  * correct run drops 100% of them).
  *
  *   runMain graft.tools.SemDedupScale [n,n,...]   (default 20000,100000)
  */
object SemDedupScale {

  /** Cell-size target; k = ceil(n / CellTarget) labels. Assignment cost is
    * O(k·dim) per row, so k also bounds the quantizer's per-row work — the
    * same tradeoff production IVF sizes with sqrt(n)-ish k.
    */
  val CellTarget = 1000

  def center(l: Int, dim: Int): Array[Double] =
    Array.tabulate(dim)(d => 3.0 * AnnScale.gauss(l * 7368787L + d * 999331L))

  /** 10-id blocks share a cluster; every 10th vector twins its
    * predecessor, and carries the PREDECESSOR's label — the twin's
    * geometry lives in that cluster, so labeling it with its own block
    * would pollute both label centroids with foreign-cluster members.
    */
  def vec(i: Long, k: Int, dim: Int): (Int, Array[Float]) =
    if (i % 10 == 0 && i > 0) {
      val (label, p) = vecBase(i - 1, k, dim)
      (label, Array.tabulate(dim)(d =>
        (p(d) + 0.02 * AnnScale.gauss(i * 999983L + d * 104729L)).toFloat))
    } else vecBase(i, k, dim)

  private def vecBase(i: Long, k: Int, dim: Int): (Int, Array[Float]) = {
    val label = ((i / 10) % k).toInt
    val c = center(label, dim)
    (label, Array.tabulate(dim)(d =>
      (c(d) + 0.5 * AnnScale.gauss(i * 131071L + d * 524287L)).toFloat))
  }

  def main(args: Array[String]): Unit = {
    val ns = args.headOption.getOrElse("20000,100000")
      .split(",").map(_.trim.toInt).toSeq
    val spark = graft.jobs.JobSession.build("graft-semdedup-scale",
      localDir = Some("/dev/shm/graft-semdedup"))
    import spark.implicits._

    ns.foreach { n =>
      val k = math.max(2, (n + CellTarget - 1) / CellTarget)
      val e: DataFrame = spark.range(0, n, 1, 32)
        .map { i => val (l, v) = vec(i, k, 64); (i, v, l) }
        .toDF("vec_id", "embedding", "label").cache()
      e.count()
      val t0 = System.nanoTime()
      val res = DedupOps.semDedupOn(e)
        .select("vec_id", "cell", "keep").collect()
      val sec = (System.nanoTime() - t0) / 1e9
      val twins = res.filter(r => r.getLong(0) % 10 == 0 && r.getLong(0) > 0)
      val twinDropRecall =
        twins.count(!_.getBoolean(2)).toDouble / twins.length
      val cellSizes = res.groupBy(_.getInt(1)).map(_._2.length.toLong)
      val cellPairs = cellSizes.map(s => s * (s - 1) / 2).sum
      val allPairs = n.toLong * (n - 1) / 2
      val dropped = res.count(!_.getBoolean(2))
      println(f"""{"bench":"semdedup_scale","n":$n,"k":$k,"sec":$sec%.2f,"cells":${cellSizes.size},"max_cell":${cellSizes.max},"cell_pairs":$cellPairs,"pair_space":$allPairs,"pair_fraction":${cellPairs.toDouble / allPairs}%.5f,"dropped":$dropped,"twin_drop_recall":$twinDropRecall%.4f}""")
      e.unpersist()
    }
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("/dev/shm/graft-semdedup"))
  }
}
