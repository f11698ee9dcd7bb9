package graft.jobs

import org.apache.spark.sql.SparkSession

/** The one session builder of every Spark main except the benchmark and
  * correctness-dump harness (`graft.Bench`, `graft.Verify`, which build
  * their own).
  *
  * Settings, all from [[build]]'s `cpus`:
  *  - master `local[cpus]`, unless `SPARK_GRAFT_MASTER` names another one
  *    (the deployment setting);
  *  - `spark.sql.shuffle.partitions = cpus`, adaptive execution on;
  *  - `spark.sql.files.maxPartitionBytes` from `GRAFT_MAX_PARTITION_BYTES`,
  *    default 16m: 128m (the Spark default) is right at cluster scale, but
  *    local corpora are small, so they get finer splits;
  *  - `spark.sql.files.minPartitionNum = 4 × cpus`: a floor of 4 scan waves
  *    per core. Without it, sf2.0's 600 × 0.53m files pack into ~21 scan
  *    partitions at EVERY core count (Spark's default floor is the core
  *    count, and 21 × 0.53m is well under any byte cap): 5+ even waves at 4
  *    cores but 1.3 waves at 16, where five cores run two tasks while
  *    eleven idle. That capped `ScalingBench`'s 4→16 parse efficiency at
  *    ~0.65 (measured 0.62-0.66 across five pairs in two rounds, while the
  *    same-hour pure-thread ceiling read 0.86-0.94). sf1.0's ~16 partitions
  *    happened to make one even wave at 16 cores, which is why the effect
  *    first looked corpus-size-dependent. At cluster scale the byte cap
  *    dominates and the floor has no effect;
  *  - UI off, log level WARN.
  *
  * `localDir` puts shuffle and spill files somewhere other than Spark's
  * default (the scale tools use tmpfs); it is the one per-caller setting.
  */
private[graft] object JobSession {

  /** `SPARK_GRAFT_CPUS`, default 32. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def build(appName: String, cpus: Int = envCpus,
      localDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("GRAFT_MAX_PARTITION_BYTES", "16m"))
      .config("spark.sql.files.minPartitionNum", (cpus * 4).toString)
      .config("spark.ui.enabled", "false")
    val spark = localDir.fold(b)(b.config("spark.local.dir", _)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Arg guard for the `<inDir> <outDir>` mains: usage message instead of
    * an opaque MatchError.
    */
  def inOutArgs(main: String, args: Array[String]): (String, String) = {
    if (args.length < 2) {
      System.err.println(s"usage: $main <inDir> <outDir>")
      sys.exit(2)
    }
    (args(0), args(1))
  }
}
