package perfbench

import scala.collection.mutable
import org.apache.spark.perfbench.BusSync
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** The Spark layer's per-layer metrics for one pass, read by a
  * `SparkListener` (task and stage metrics) and a `QueryExecutionListener`
  * (Exchange nodes in the final executed plan of every query the pass ran).
  * Installed only around the traced pass.
  */
final class SparkTrace private (spark: SparkSession) extends SparkListener {

  private final class StageTotals {
    val runMs = mutable.ArrayBuffer.empty[Long]
    var shuffleReadRecords = 0L
  }

  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageTotals]
  private var tasks = 0L
  private var runMs = 0L
  private var cpuNs = 0L
  private var gcMs = 0L
  private var shuffleWriteBytes = 0L
  private var shuffleReadRecords = 0L
  private var spillBytes = 0L
  private var inputBytes = 0L
  private var outputBytes = 0L
  private var peakExecMem = 0L
  private var completedStages = 0
  private var exchanges = 0

  private val plans = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      SparkTrace.synchronized { exchanges += SparkTrace.exchangeCount(qe) }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      SparkTrace.synchronized { exchanges += SparkTrace.exchangeCount(qe) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = SparkTrace.synchronized {
    val m = e.taskMetrics
    if (m != null) {
      tasks += 1
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      shuffleReadRecords += m.shuffleReadMetrics.recordsRead
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      inputBytes += m.inputMetrics.bytesRead
      outputBytes += m.outputMetrics.bytesWritten
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
      val st = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageTotals)
      st.runMs += m.executorRunTime
      st.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    SparkTrace.synchronized { completedStages += 1 }

  private def remove(): Unit = {
    BusSync.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(plans)
  }

  /** Metrics of the traced interval; `wallS` is its wall time. */
  private def metrics(wallS: Double, cores: Int): Seq[(String, Double, String)] =
    SparkTrace.synchronized {
      val taskS = runMs / 1e3
      // skew of the stage that took the most task time: its slowest task
      // over its median task
      val skew = stages.values.maxByOption(_.runMs.sum).map { st =>
        val med = Stats.median(st.runMs.map(_.toDouble).toSeq)
        if (med > 0) st.runMs.max / med else 1.0
      }.getOrElse(0.0)
      Seq(
        ("spark.stages", completedStages.toDouble, "count"),
        ("spark.tasks", tasks.toDouble, "count"),
        ("spark.task_s", taskS, "s"),
        ("spark.cpu_s", cpuNs / 1e9, "s"),
        ("spark.gc_s", gcMs / 1e3, "s"),
        ("spark.busy_share", if (wallS > 0) taskS / (wallS * cores) else 0.0, "ratio"),
        ("spark.task_skew", skew, "ratio"),
        ("spark.shuffle_write_bytes", shuffleWriteBytes.toDouble, "bytes"),
        ("spark.shuffle_read_records", shuffleReadRecords.toDouble, "count"),
        ("spark.max_stage_shuffle_records",
          stages.values.map(_.shuffleReadRecords).maxOption.getOrElse(0L).toDouble, "count"),
        ("spark.spill_bytes", spillBytes.toDouble, "bytes"),
        ("spark.input_bytes", inputBytes.toDouble, "bytes"),
        ("spark.output_bytes", outputBytes.toDouble, "bytes"),
        ("spark.peak_exec_mem_bytes", peakExecMem.toDouble, "bytes"),
        ("spark.exchanges", exchanges.toDouble, "count"))
    }
}

object SparkTrace extends AdaptiveSparkPlanHelper {

  /** Exchange nodes of a query's final plan, descending into adaptive
    * query stages.
    */
  def exchangeCount(qe: QueryExecution): Int =
    collect(qe.executedPlan) { case e: Exchange => e }.size

  /** Runs `body` with both listeners installed and returns its value, its
    * wall seconds and the Spark metrics of exactly that interval.
    */
  def traced[A](spark: SparkSession, cores: Int)(body: => A)
      : (A, Double, Seq[(String, Double, String)]) = {
    BusSync.drain(spark.sparkContext)
    val t = new SparkTrace(spark)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t.plans)
    val t0 = System.nanoTime()
    var wall = 0.0
    val r = try body finally {
      wall = (System.nanoTime() - t0) / 1e9
      t.remove()
    }
    (r, wall, t.metrics(wall, cores))
  }
}
