package graft

import org.apache.spark.sql.SparkSession

/** The Spark session every spec uses.
  *
  * All specs run in one forked test JVM (`Test / fork := true`, one
  * group), and none stops the session, so the first spec to ask for one
  * creates the session all of them share. A master passed later is
  * ignored (so were the `local[2]`/`local[4]` masters some specs used to
  * set), which is why the master is fixed here. `getOrCreate` does apply
  * runtime SQL confs to the existing session, so each spec's
  * `shufflePartitions` takes effect when that spec asks for the session.
  */
object TestSession {
  def apply(appName: String, shufflePartitions: Int): SparkSession =
    SparkSession.builder()
      .master("local[8]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
