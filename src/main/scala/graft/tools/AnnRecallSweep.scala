package graft.tools

import org.apache.spark.sql.functions._

/** Recall-vs-band sweep for the d7/v4 LSH family (round-5 verdict item 6):
  * the planted pairs in [[AnnScale]] sit at cosine ≈ 0.999 — easy mode,
  * where almost any (bits, tables) gives full recall. Real near-dup
  * thresholds live at 0.85-0.95, where hyperplane LSH recall is governed by
  * p₁ = (1 − θ/π)^bits per table and 1 − (1 − p₁)^tables overall. This
  * plants pairs at controlled bands (v = c·u + √(1−c²)·w for independent
  * gaussians — measured pair cosine ≈ c ± 0.02 at d=64) and measures
  * PLANTED-PAIR CANDIDATE RECALL — the fraction of planted pairs that
  * co-bucket in ≥1 table (`lshCandidatePairs`, the distinct candidate
  * pairs d7 ships). The rescore is exact cosine, so candidate recall IS end-to-end
  * recall for any downstream threshold; no all-pairs work is needed and
  * the sweep runs at n = 10⁵-10⁶. Each row also prints the closed-form
  * prediction so the measured curve validates the documented
  * bits ≈ log2(n/bucket) sizing rule rather than merely restating it.
  *
  *   runMain graft.tools.AnnRecallSweep [n] [band,band,...]
  *   (defaults: 100000 and 0.85,0.90,0.95; bits = rule±2, tables 4/8/16)
  */
object AnnRecallSweep {

  /** Every 10th vector is a controlled-band near-dup of its predecessor. */
  def vecBand(i: Long, dim: Int, c: Double): Array[Float] =
    if (i % 10 == 0 && i > 0) {
      val p = AnnScale.baseVec(i - 1, dim)
      val s = math.sqrt(1.0 - c * c)
      Array.tabulate(dim)(d =>
        (c * p(d) + s * AnnScale.gauss(i * 999983L + d * 104729L)).toFloat)
    } else AnnScale.baseVec(i, dim)

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(100000)
    val bands = args.lift(1).getOrElse("0.85,0.90,0.95")
      .split(",").map(_.trim.toDouble).toSeq
    val spark = graft.jobs.JobSession.build("graft-ann-recall-sweep",
      localDir = Some("/dev/shm/graft-ann"))
    import spark.implicits._

    val target = sys.env.getOrElse("GRAFT_ANN_BUCKET", "64").toInt
    val ruleBits =
      math.max(2, math.ceil(math.log(n.toDouble / target) / math.log(2)).toInt)
    val bitsList = sys.env.get("GRAFT_ANN_BITS")
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(ruleBits - 2, ruleBits, ruleBits + 2).filter(_ >= 2).distinct)
    val tablesList = sys.env.get("GRAFT_ANN_TABLES")
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(4, 8, 16))

    bands.foreach { band =>
      val e = spark.range(0, n, 1, 32)
        .map(i => (i, vecBand(i, 64, band))).toDF("vec_id", "embedding").cache()
      e.count()
      val nPlanted = ((n - 1) / 10).toLong
      // measured cosine of the planted pairs (sanity: mean ≈ band)
      val dot = graft.ops.VectorOps.dot _
      val planted = e.filter(col("vec_id") % 10 === 0 && col("vec_id") > 0)
        .select((col("vec_id") - 1).as("ia"), col("vec_id").as("ib"),
          col("embedding").as("eb"))
        .join(e.select(col("vec_id").as("ia"), col("embedding").as("ea")), "ia")
        .select((dot(col("ea"), col("eb")) /
          (sqrt(dot(col("ea"), col("ea"))) * sqrt(dot(col("eb"), col("eb")))))
          .as("cos"))
      val Array(cosMean, cosMin) = planted
        .agg(avg("cos"), min("cos")).head() match {
          case r => Array(r.getDouble(0), r.getDouble(1))
        }

      bitsList.foreach { bits =>
        tablesList.foreach { tables =>
          val t0 = System.nanoTime()
          val bk = graft.ops.VectorOps.bucketIndex(e, bits, tables)
          val found = graft.ops.DedupOps.lshCandidatePairs(bk)
            .filter(col("ib") === col("ia") + 1 && col("ib") % 10 === 0)
            .count()
          val sec = (System.nanoTime() - t0) / 1e9
          val recall = found.toDouble / nPlanted
          // closed-form: p1 = (1 - theta/pi)^bits per table
          val p1 = math.pow(1.0 - math.acos(cosMean) / math.Pi, bits)
          val predicted = 1.0 - math.pow(1.0 - p1, tables)
          println(f"""{"bench":"ann_recall_sweep","n":$n,"band":$band%.2f,"planted_cos_mean":$cosMean%.4f,"planted_cos_min":$cosMin%.4f,"bits":$bits,"rule_bits":$ruleBits,"tables":$tables,"planted":$nPlanted,"found":$found,"recall":$recall%.4f,"predicted":$predicted%.4f,"sec":$sec%.1f}""")
        }
      }
      e.unpersist()
    }
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("/dev/shm/graft-ann"))
  }
}
