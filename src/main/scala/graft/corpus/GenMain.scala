package graft.corpus

import graft.jobs.JobSession

/** Write the deterministic docs corpus as parquet (Iceberg-shaped stand-in,
  * SURVEY §7.3 R7): `docs(doc_id string, spans array<struct<kind,text,
  * media_ref,offset>>)` at /root/repo/data/docs/sf{sf}.
  *
  * Usage: runMain graft.corpus.GenMain <outBase> <sf> [<sf> ...]
  */
object GenMain {
  def main(args: Array[String]): Unit = {
    val outBase = args(0)
    val sfs = args.drop(1).map(_.toDouble)
    val cpus = JobSession.envCpus
    val spark = JobSession.build("graft-corpus-gen", cpus)
    import spark.implicits._
    sfs.foreach { sf =>
      val n = CorpusGen.numDocs(sf)
      val parts = math.max(cpus, n / 2000)
      val out = f"$outBase/sf$sf%s"
      spark.range(0, n, 1, parts)
        .map(i => CorpusGen.gen(i))
        .write.mode("overwrite").parquet(out)
      println(s"wrote $n docs to $out")
    }
    spark.stop()
  }
}
