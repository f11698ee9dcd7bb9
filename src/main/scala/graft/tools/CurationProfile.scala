package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage decomposition of the c1/c2/c3 curation spine at the bench SF —
  * times each sequential piece the spine pays (flag checkpoint, keeper
  * aggregate, survivor text scan, pair stage, final funnel) so "latency floor" claims are measured, not asserted.
  *
  *   runMain graft.tools.CurationProfile [sfDir]
  */
object CurationProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.files.minPartitionNum", (cpus.toInt * 4).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(label: String)(f: => Unit): Unit = {
      val xs = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      println(f"$label%-40s min ${xs.min}%6.3f s  (${xs.map(x => f"$x%.2f").mkString(", ")})")
    }
    // warmup: one full c1
    graft.ops.CurationOps.curationFunnel(spark, sfDir)
      .write.format("noop").mode("overwrite").save()

    val txt = col("text")
    time("flags projection (no ckpt), noop") {
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"),
          graft.functions.TextFlags.curationFlagsCol(txt).as("f"))
        .select(col("doc_id"), col("f.lang_pred").as("lang_pred"),
          col("f.qual_ok").as("qual_ok"),
          col("f.content_hash").as("content_hash"), col("f.n_bpe").as("n_bpe"))
        .write.format("noop").mode("overwrite").save()
    }
    time("flags localCheckpoint (eager job)") {
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"),
          graft.functions.TextFlags.curationFlagsCol(txt).as("f"))
        .select(col("doc_id"), col("f.lang_pred").as("lang_pred"),
          col("f.qual_ok").as("qual_ok"),
          col("f.content_hash").as("content_hash"), col("f.n_bpe").as("n_bpe"))
        .localCheckpoint()
    }
    time("full c1 funnel, noop") {
      graft.ops.CurationOps.curationFunnel(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    time("full d2 pairs, noop") {
      graft.ops.DedupOps.ngramJaccardPairs(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
