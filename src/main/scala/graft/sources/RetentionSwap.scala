package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

/** Staged partition-swap DELETE for the extraction results table
  * (reference `storage.py:177-203` cleanup analog): the
  * `FileResumableExtract` layout, `results/file_id=<hex>` dirs. On Iceberg
  * this is `DELETE FROM results WHERE ...`, a copy-on-write snapshot commit
  * with no crash window; on path-based parquet it is the swap below.
  *
  * Protocol (per `deleteWhere` call):
  *  1. recover any interrupted previous swap (see [[recover]]);
  *  2. find affected partitions (those containing predicate hits; a row
  *     whose predicate evaluates to NULL is KEPT and not counted — SQL
  *     DELETE semantics, the caller wraps with coalesce);
  *  3. rewrite their survivors into `_retention_staging/<part>=<key>`;
  *  4. write the `_affected` intent file (each line `d:<key>` = fully
  *     deleted, no survivors, or `s:<key>` = survivors staged) — strictly
  *     AFTER the staging write commits, strictly BEFORE the first
  *     destructive step;
  *  5. per partition: delete the live dir, rename staging in (checked —
  *     a failed rename aborts loudly with the staging copy preserved);
  *  6. delete the staging dir only after every swap succeeded.
  *
  * Concurrency contract — CHECKED, not merely documented, via a lease file
  * at `<root>/_retention_lease` (a sibling of the staging dir, because the
  * staging parquet Overwrite would destroy anything inside it):
  *
  *  - [[deleteWhere]] acquires the lease (create-exclusive) before touching
  *    anything and releases it in a `finally`. A second concurrent
  *    `deleteWhere` on the same table fails LOUDLY instead of corrupting
  *    (its recover would otherwise discard the first call's intent-less
  *    staging mid-write). A lease older than `graft.retention.leaseStaleMs`
  *    (default 60s) is STALE — its holder is presumed killed (a kill leaves
  *    the lease behind; ordinary exceptions release it) — and is taken
  *    over.
  *  - Concurrent READERS recover with `discardIntentless = false` (roll
  *    forward only) and additionally REFUSE to roll forward while a FRESH
  *    lease exists: the intent file is present during an ACTIVE swap, not
  *    just after a crash, and a reader racing the live writer's swap loop
  *    could delete a just-swapped live dir (the survivors' only copy). A
  *    fresh lease means "writer may be alive — read the table as is"; the
  *    destructive swap window is freshness-protected because the writer
  *    re-touches the lease right before writing the intent file and
  *    periodically during the swap loop.
  */
private[graft] object RetentionSwap {

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The results table's partition column (the resume unit). */
  private val PartCol = "file_id"

  private def stagingPath(root: String) = new Path(s"$root/_retention_staging")

  private def leasePath(root: String) = new Path(s"$root/_retention_lease")

  /** How long a lease stays fresh after its last touch. Local-test
    * overridable; at production scale set it well above the longest
    * expected inter-touch gap (touches happen at acquire, after the
    * staging write, and every [[LeaseTouchEvery]] partitions of the swap
    * loop — all O(metadata), so the default is generous).
    */
  private def leaseStaleMs: Long =
    sys.props.get("graft.retention.leaseStaleMs").map(_.toLong).getOrElse(60000L)

  private val LeaseTouchEvery = 1000

  private def leaseIsFresh(f: FileSystem, root: String): Boolean =
    try {
      val st = f.getFileStatus(leasePath(root))
      System.currentTimeMillis() - st.getModificationTime < leaseStaleMs
    } catch { case _: java.io.FileNotFoundException => false }

  /** (Re)writes the lease file, refreshing its modification time. */
  private def touchLease(f: FileSystem, root: String): Unit = {
    val out = f.create(leasePath(root), true)
    try out.write(
      s"pid=${ProcessHandle.current().pid()}\n".getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Acquire the maintenance lease or fail loudly. A stale lease (holder
    * presumed killed) is taken over; a fresh one aborts — the caller is
    * racing a live maintenance process.
    */
  private def acquireLease(f: FileSystem, root: String): Unit = {
    if (f.exists(leasePath(root))) {
      if (leaseIsFresh(f, root))
        throw new java.io.IOException(
          s"retention: a fresh maintenance lease exists at ${leasePath(root)} — " +
            "another deleteWhere appears active on this table (stale after " +
            s"${leaseStaleMs}ms; override via -Dgraft.retention.leaseStaleMs)")
      f.delete(leasePath(root), false) // stale: take over
    }
    // create-exclusive: two racers past the exists() check still serialize
    // on the atomic create (HDFS; best-effort on RawLocalFileSystem)
    val out =
      try f.create(leasePath(root), false)
      catch {
        case e: java.io.IOException =>
          throw new java.io.IOException(
            s"retention: lost the lease race at ${leasePath(root)}", e)
      }
    try out.write(
      s"pid=${ProcessHandle.current().pid()}\n".getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** `DELETE FROM <root>/results WHERE predicate`, swapping only affected
    * `file_id=` partitions. `readLive` supplies the live results DataFrame
    * (read with the explicit results schema, so `file_id` stays a STRING).
    * Returns the number of rows removed.
    */
  def deleteWhere(
      spark: SparkSession,
      root: String,
      predicate: Column,
      readLive: () => DataFrame): Long = {
    val f0 = fs(spark, root)
    acquireLease(f0, root)
    try deleteWhereHeld(spark, root, predicate, readLive)
    finally f0.delete(leasePath(root), false) // kill −9 leaves it → staleness
  }

  private def deleteWhereHeld(
      spark: SparkSession,
      root: String,
      predicate: Column,
      readLive: () => DataFrame): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    recoverHeld(spark, root, discardIntentless = true)
    val hit = coalesce(predicate, lit(false)) // NULL predicate = keep (SQL DELETE)
    val results = readLive()
    val affected = results.filter(hit)
      .groupBy(col(PartCol)).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (affected.isEmpty) return 0L
    val deleted = affected.values.sum
    val survivors = results
      .filter(col(PartCol).isin(affected.keys.toSeq: _*) && !hit)
    val f = fs(spark, root)
    val staging = stagingPath(root)
    survivors.write.mode(SaveMode.Overwrite).partitionBy(PartCol)
      .parquet(staging.toString)
    // The swap intent, recorded BEFORE the first destructive step. Each
    // line carries the partition's recovery class, because the staging
    // listing alone cannot reconstruct it after a partial swap:
    //   d:<key> — fully deleted (no survivors; partitionBy wrote no staging
    //             dir): recovery must DELETE the live dir (a listing-driven
    //             recovery would resurrect exactly these partitions);
    //   s:<key> — has survivors in staging: recovery swaps them in — UNLESS
    //             the staging dir is already gone, which proves this
    //             partition's swap completed and the live dir already IS
    //             the survivors (deleting it then would destroy their only
    //             copy).
    val staged = f.listStatus(staging).iterator.map(_.getPath.getName)
      .collect { case n if n.startsWith(s"$PartCol=") =>
        n.stripPrefix(s"$PartCol=")
      }.toSet
    val intentBody = affected.keys.toSeq.sorted
      .map(k => (if (staged.contains(k)) "s:" else "d:") + k)
      .mkString("\n")
    // lease freshness must cover the destructive window that opens with the
    // intent write (the staging parquet write above can outlast staleness —
    // harmless, intent-absent staging is untouchable by readers)
    touchLease(f, root)
    val intent = f.create(new Path(staging, "_affected"), true)
    try intent.write(intentBody.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally intent.close()
    val resultsDir = new Path(s"$root/results")
    affected.keys.zipWithIndex.foreach { case (k, i) =>
      if (i > 0 && i % LeaseTouchEvery == 0) touchLease(f, root)
      val dst = new Path(resultsDir, s"$PartCol=$k")
      if (!f.delete(dst, true) && f.exists(dst))
        throw new java.io.IOException(s"retention: could not remove $dst")
      val src = new Path(staging, s"$PartCol=$k")
      if (f.exists(src) && !f.rename(src, dst))
        throw new java.io.IOException(
          s"retention: rename $src -> $dst failed; survivors preserved in staging")
    }
    f.delete(staging, true) // only after every swap succeeded
    deleted
  }

  /** Automatic crash recovery for an interrupted [[deleteWhere]] swap. The
    * `_affected` intent file decides the direction:
    *
    *  - intent ABSENT → the swap never started and the results dirs were
    *    never touched: ROLL BACK by discarding the partial staging dir —
    *    but ONLY when `discardIntentless` (maintenance entry points, which
    *    assume a single maintenance process). Readers pass `false` and
    *    leave intent-less staging untouched: the live table is consistent
    *    in that phase, and discarding would race an in-flight deleteWhere
    *    from another process (its staging deleted under it, then its swap
    *    silently skips the rename after deleting the live dir — the
    *    partition's only copy gone);
    *  - intent PRESENT → the swap was mid-flight: ROLL FORWARD per
    *    partition by its recorded class. `d:` partitions (fully deleted,
    *    never had a staging dir) get their live dir deleted — idempotent.
    *    `s:` partitions swap their staging survivors in — but ONLY while
    *    the staging dir still exists; its absence proves that partition's
    *    swap already completed and the live dir IS the survivors, so it is
    *    left alone (re-deleting it would destroy the only copy — the
    *    intent classes exist precisely because "already swapped" and
    *    "fully deleted" are indistinguishable from the staging listing).
    *
    * Lease gating (see the object scaladoc): a FRESH `_retention_lease`
    * means a live [[deleteWhere]] may be mid-swap. Readers
    * (`discardIntentless = false`) then return WITHOUT rolling forward —
    * racing the live writer's swap loop could delete a just-swapped live
    * dir. Maintenance callers (`discardIntentless = true`) fail loudly
    * instead: proceeding would race the active writer destructively.
    * A stale or absent lease (crashed or finished writer) recovers as
    * before.
    */
  def recover(
      spark: SparkSession,
      root: String,
      discardIntentless: Boolean): Unit = {
    val f = fs(spark, root)
    if (leaseIsFresh(f, root)) {
      if (discardIntentless)
        throw new java.io.IOException(
          s"retention recovery: a fresh maintenance lease exists at " +
            s"${leasePath(root)} — another deleteWhere appears active")
      return
    }
    recoverHeld(spark, root, discardIntentless)
  }

  /** [[recover]] body, lease check already passed (or lease held by the
    * calling [[deleteWhere]]).
    */
  private def recoverHeld(
      spark: SparkSession,
      root: String,
      discardIntentless: Boolean): Unit = {
    val f = fs(spark, root)
    val staging = stagingPath(root)
    if (!f.exists(staging)) return
    val intentFile = new Path(staging, "_affected")
    if (!f.exists(intentFile) && !discardIntentless) return
    if (f.exists(intentFile)) {
      val in = f.open(intentFile)
      val entries =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .map(_.trim).filter(_.nonEmpty).toList
        finally in.close()
      val resultsDir = new Path(s"$root/results")
      entries.foreach { e =>
        val (cls, k) = e.splitAt(2)
        val dst = new Path(resultsDir, s"$PartCol=$k")
        val src = new Path(staging, s"$PartCol=$k")
        cls match {
          case "d:" =>
            if (!f.delete(dst, true) && f.exists(dst))
              throw new java.io.IOException(
                s"retention recovery: could not remove $dst")
          case "s:" if f.exists(src) =>
            if (!f.delete(dst, true) && f.exists(dst))
              throw new java.io.IOException(
                s"retention recovery: could not remove $dst")
            if (!f.rename(src, dst))
              throw new java.io.IOException(
                s"retention recovery: rename $src -> $dst failed; " +
                  "survivors preserved in staging")
          case "s:" => () // swap already completed; dst holds the survivors
          case _ =>
            throw new java.io.IOException(
              s"retention recovery: unrecognized intent entry '$e'")
        }
      }
    }
    f.delete(staging, true)
  }
}
