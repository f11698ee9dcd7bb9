package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, regexp_extract}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.jobs.ExtractJob
import graft.model.InputDoc

/** Structured Streaming wrapper over the SAME batch parse core (SURVEY §2.8:
  * the reference has no streaming — this is the engine's incremental-ingest
  * surface, optional per north_rule but free because the per-row parse is
  * pure).
  *
  * `readStream` on the docs directory (new parquet files = new documents) →
  * the batch [[ExtractJob.extract]] on each micro-batch's own splits (no
  * shuffle) → `foreachBatch` write of the SAME result rows the batch job
  * writes, so downstream consumers and the analytics queries cannot tell
  * which path produced a row. Exactly-once: the streaming checkpoint
  * tracks consumed input files; the sink is idempotent per batch via an
  * epoch-tagged overwrite of results_stream/batch=<id>.
  */
object StreamingExtract {

  /** Start the incremental extraction stream.
    *
    * @param inDir   directory watched for new parquet doc files
    * @param outDir  output root (results_stream/ + checkpoint/)
    * @param trigger micro-batch trigger; Trigger.AvailableNow() drains the
    *                backlog then stops — the batch-parity mode used in tests
    */
  def start(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import spark.implicits._
    val schema = implicitly[org.apache.spark.sql.Encoder[InputDoc]].schema
    val stream: Dataset[InputDoc] = spark.readStream
      .schema(schema)
      .parquet(inDir)
      .as[InputDoc]

    stream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", s"$outDir/checkpoint")
      .foreachBatch { (batch: Dataset[InputDoc], batchId: Long) =>
        // overwrite of THIS batch's dir = idempotent replay on recovery
        ExtractJob.extract(batch.sparkSession, batch)
          .write.mode("overwrite")
          .parquet(s"$outDir/results_stream/batch=$batchId")
        ()
      }
      .start()
  }

  /** All rows extracted so far across micro-batches, with their `batch` id.
    * Reads both batch layouts: `batch=<id>/` and, from older builds,
    * `batch=<id>/bucket=<b>/`. A stream restarted from its checkpoint puts
    * the two side by side, which partition discovery rejects as
    * conflicting partition columns; so files are listed recursively under
    * the explicit row schema, and `batch` is taken from each file's path.
    */
  def readResults(spark: SparkSession, outDir: String): DataFrame =
    spark.read.schema(Encoders.product[ExtractJob.ExtractedRow].schema)
      .option("recursiveFileLookup", "true")
      .parquet(s"$outDir/results_stream")
      .withColumn("batch", regexp_extract(col("_metadata.file_path"),
        "/results_stream/batch=([0-9]+)/", 1).cast("long"))
}
