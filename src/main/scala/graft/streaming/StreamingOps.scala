package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming analytics over any streaming frame with the named columns
  * (SURVEY §2.8 — the reference has no streaming; these are the engine's
  * incremental counterparts of the batch metrics/dedup operators, built on
  * Structured Streaming's bounded-state primitives).
  *
  * Scale notes: both operators keep per-key state BOUNDED — the windowed
  * aggregation drops closed-window state once the watermark passes, and
  * the stateful dedup expires per-hash state on an event-time timeout.
  * Unbounded state is the one thing a 100 TB/day stream cannot afford.
  */
object StreamingOps {

  /** A parsed doc's identity + event time, as the dedup operator sees it. */
  final case class DocSeen(content_hash: String, doc_id: String,
      ingest_ts: java.sql.Timestamp)

  /** Per-window ingest metrics with a watermark: counts/spans/errors per
    * (event-time window, file_type). Late rows beyond `lateness` are
    * dropped and closed windows are emitted exactly once (Append mode) —
    * the streaming analog of the batch `unitMetrics` lineage rows.
    */
  def windowedIngestMetrics(
      parsed: DataFrame,
      eventTimeCol: String = "ingest_ts",
      windowLen: String = "1 minute",
      lateness: String = "2 minutes"): DataFrame =
    parsed
      .withWatermark(eventTimeCol, lateness)
      .groupBy(window(col(eventTimeCol), windowLen), col("file_type"))
      .agg(
        count(lit(1)).as("docs"),
        sum(col("n_spans")).as("spans"),
        sum(when(col("error") =!= "", 1L).otherwise(0L)).as("errors"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("file_type"), col("docs"), col("spans"), col("errors"))

  /** Exact streaming dedup, first-seen-wins, keyed on content hash —
    * `flatMapGroupsWithState` with event-time timeout (the custom-state
    * primitive): a hash's first document is emitted, later copies are
    * swallowed, and the per-hash state expires `ttl` past the watermark so
    * total state is bounded by the distinct hashes inside the lateness
    * horizon (a copy arriving after expiry re-emits — the standard
    * bounded-state tradeoff, same contract as dropDuplicatesWithinWatermark).
    * Within a micro-batch the winner is deterministic: min (ingest_ts,
    * doc_id).
    */
  def firstSeenDedup(
      docs: Dataset[DocSeen],
      lateness: String = "2 minutes",
      ttlMs: Long = 10 * 60 * 1000L): Dataset[DocSeen] = {
    import docs.sparkSession.implicits._
    docs
      .withWatermark("ingest_ts", lateness)
      .groupByKey(_.content_hash)
      .flatMapGroupsWithState[Long, DocSeen](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: String, rows: Iterator[DocSeen], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // single pass, O(1) memory: a viral duplicate (one hash with
            // millions of copies in a batch) must not buffer into a Seq
            val dup = state.exists
            var maxTs = Long.MinValue
            var winner: DocSeen = null
            rows.foreach { d =>
              val t = d.ingest_ts.getTime
              if (t > maxTs) maxTs = t
              if (!dup && (winner == null || t < winner.ingest_ts.getTime ||
                  (t == winner.ingest_ts.getTime && d.doc_id < winner.doc_id)))
                winner = d
            }
            state.setTimeoutTimestamp(maxTs + ttlMs)
            if (dup || winner == null) Iterator.empty
            else {
              state.update(1L)
              Iterator.single(winner)
            }
          }
      }
  }

  /** Streaming NEAR-dup flagging against a static corpus LSH index — the
    * continuous-ingest shape of d4/d7: each incoming document is checked
    * against the already-curated corpus without ever re-shuffling the
    * corpus. `index` is a static (doc_id, band, key) frame
    * ([[graft.ops.DedupOps.bandKeysOn]] over the corpus — at production
    * scale, written once at curation time and read as a table); `stream`
    * is a streaming (doc_id, text) frame.
    *
    * The stream side is fully STATELESS: one native MinHashSigs
    * evaluation per row, an in-row 4-band key explode, then a
    * stream-static inner equi-join on (band, key) — no watermark, no
    * state store, per-micro-batch cost = |batch| × bands index probes
    * regardless of how long the stream has run. Emits one row per
    * (incoming doc, corpus doc, band) candidate hit; exact-similarity
    * rescoring and cross-band dedup happen downstream per micro-batch
    * (`foreachBatch` + [[graft.ops.DedupOps]] machinery), where they are
    * ordinary batch operations on a vanishing fraction of rows.
    */
  def nearDupAgainstIndex(stream: DataFrame, index: DataFrame): DataFrame =
    graft.ops.DedupOps.bandKeysOn(stream)
      .withColumnRenamed("doc_id", "in_doc_id")
      .join(index.withColumnRenamed("doc_id", "corpus_doc_id"),
        Seq("band", "key"))
      .filter(col("in_doc_id") =!= col("corpus_doc_id"))
      .select(col("in_doc_id"), col("corpus_doc_id"), col("band"))
}
