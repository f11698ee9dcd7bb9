package graft.jobs

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.corpus.CorpusGen
import graft.parse.DocParser
import java.nio.file.Files

/** Retention delete on the file-granular results table: deleteWhere
  * removes exactly the matching rows via the RetentionSwap protocol, the
  * commit manifest stays intact (no input reprocessing, no resurrection),
  * and an interrupted swap self-heals on the next maintenance call AND on
  * the resume/read path.
  */
class FileRetentionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession("file-retention-spec", 8)

  private def hashes(out: String): Map[String, String] = {
    import spark.implicits._
    FileResumableExtract.readResults(spark, out)
      .select("doc_id", "spans").as[(String, Seq[graft.model.OutSpan])]
      .collect().map { case (d, s) => d -> DocParser.spanHash(s) }.toMap
  }

  test("deleteWhere on the file-granular store drops matching rows, keeps manifest + survivors intact") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val base = Files.createTempDirectory("graft_fret_").toString
    val in = s"$base/docs"
    spark.range(0, 200, 1, 4).map(i => CorpusGen.gen(i)).write.parquet(in)
    val out = s"$base/out"
    assert(FileResumableExtract.run(spark, in, out) == 200L)
    val before = hashes(out)
    val manifestBefore = FileResumableExtract.completedFileIds(spark, out)
    assert(manifestBefore.size == 4)

    // victims: every doc of one whole input file (exercises the
    // fully-deleted-partition d: path) plus a handful from other files
    val all = FileResumableExtract.readResults(spark, out)
      .select("doc_id", "file_id").as[(String, String)].collect()
    val fullFile = all.groupBy(_._2).maxBy(_._2.length)._1
    val victims = (all.filter(_._2 == fullFile).map(_._1) ++
      all.filter(_._2 != fullFile).take(5).map(_._1)).toSet
    assert(victims.nonEmpty && victims.size < 200)

    val deleted = FileResumableExtract.deleteWhere(
      spark, out, col("doc_id").isin(victims.toSeq: _*))
    assert(deleted == victims.size.toLong)

    val after = hashes(out)
    assert(after.keySet == before.keySet -- victims, "wrong rows removed")
    assert(after == before.view.filterKeys(!victims(_)).toMap,
      "a surviving row changed")
    assert(!new java.io.File(s"$out/results/file_id=$fullFile").exists(),
      "fully-deleted partition dir not removed")

    // manifest untouched: files stay committed, resume is still a no-op,
    // deleted docs are NOT resurrected from the still-present input
    assert(FileResumableExtract.completedFileIds(spark, out) == manifestBefore)
    assert(FileResumableExtract.run(spark, in, out) == 0L)
    assert(hashes(out).keySet == before.keySet -- victims)

    // deleting nothing is a no-op
    assert(FileResumableExtract.deleteWhere(spark, out, col("doc_id") === "no_such") == 0L)
    assert(hashes(out) == after)
  }

  test("retention composes with crash/resume/compaction: deleted docs never resurrect") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val base = Files.createTempDirectory("graft_fret_mix_").toString
    val in = s"$base/docs"
    spark.range(0, 80, 1, 8).map(i => CorpusGen.gen(i)).write.parquet(in)
    val allIds = FileResumableExtract.inputFiles(spark, in)
      .map(p => FileResumableExtract.fileId(
        new org.apache.hadoop.fs.Path(p).getName)).toSet
    val golden = {
      val o = s"$base/golden"
      assert(FileResumableExtract.run(spark, in, o) == 80L)
      hashes(o)
    }

    // Interleave partial/killed runs, manifest compaction, and retention
    // deletes over COMMITTED files (the single-maintenance contract: no
    // delete races an in-flight write). Committed files stay committed, so
    // a purged doc's file is never reprocessed — across ANY interleaving
    // the final table must be golden minus everything ever deleted.
    val rnd = new scala.util.Random(0x52455445L)
    val out = s"$base/out"
    val deleted = scala.collection.mutable.Set[String]()
    var safety = 0
    var deletes = 0
    while ((FileResumableExtract.completedFileIds(spark, out) != allIds
      || deletes < 3) && safety < 60) {
      safety += 1
      val done = FileResumableExtract.completedFileIds(spark, out)
      val pending = (allIds -- done).toSeq.sorted
      if (pending.nonEmpty) {
        val subset = rnd.shuffle(pending).take(1 + rnd.nextInt(pending.size)).toSet
        val fail = rnd.nextInt(4) match {
          case 0 => Some("rollback")
          case 1 => Some("write")
          case 2 => Some("metrics")
          case _ => None
        }
        try FileResumableExtract.run(spark, in, out,
          onlyFiles = Some(subset), failAfter = fail)
        catch { case FileResumableExtract.InjectedKill(_) => () }
      }
      if (rnd.nextBoolean()) FileResumableExtract.compactManifest(spark, out)
      if (rnd.nextInt(3) == 0 &&
        FileResumableExtract.completedFileIds(spark, out).nonEmpty) {
        // victims: current survivors whose file is committed
        val committed = FileResumableExtract.completedFileIds(spark, out)
        val candidates = FileResumableExtract.readResults(spark, out)
          .filter(col("file_id").isin(committed.toSeq: _*))
          .select("doc_id").as[String].collect().toSeq.sorted
        if (candidates.nonEmpty) {
          val victims = rnd.shuffle(candidates).take(1 + rnd.nextInt(3)).toSet
          val n = FileResumableExtract.deleteWhere(
            spark, out, col("doc_id").isin(victims.toSeq: _*))
          assert(n == victims.size.toLong, s"delete count $n != ${victims.size}")
          deleted ++= victims
          deletes += 1
        }
      }
    }
    assert(safety < 60, "mixed sweep did not converge")
    assert(FileResumableExtract.run(spark, in, out) == 0L) // fully resumed
    assert(deletes >= 3 && deleted.nonEmpty)

    val finalHashes = hashes(out)
    assert(finalHashes == golden.view.filterKeys(!deleted(_)).toMap,
      "final table != golden minus deletions (resurrection or loss)")
    // lineage counts PROCESSING, not retention: every doc processed once
    val docsIn = FileResumableExtract.readMetrics(spark, out)
      .agg(org.apache.spark.sql.functions.sum("docs_in")).head().getLong(0)
    assert(docsIn == 80L, s"lineage drifted: $docsIn")
  }

  test("interrupted retention swap self-heals: run/read roll forward, deleteWhere discards orphans") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val base = Files.createTempDirectory("graft_fret_rec_").toString
    val in = s"$base/docs"
    spark.range(0, 120, 1, 4).map(i => CorpusGen.gen(i)).write.parquet(in)
    val out = s"$base/out"
    assert(FileResumableExtract.run(spark, in, out) == 120L)
    val before = hashes(out)
    val f = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)

    // Simulate a kill in deleteWhere's data-loss window with all three
    // partition shapes:
    //   fx FULLY deleted (d:, live dir still present — recovery completes
    //      the delete), fy mid-swap (s:, survivors only in staging),
    //   fz already swapped (s:, staging gone — recovery must not touch it)
    val fids = FileResumableExtract.completedFileIds(spark, out).toSeq.sorted
    val Seq(fx, fy, fz) = fids.take(3)
    val xDocs = FileResumableExtract.readResults(spark, out)
      .filter(col("file_id") === fx).select("doc_id").as[String].collect().toSet
    val staging = new Path(s"$out/_retention_staging")
    f.mkdirs(staging)
    assert(f.rename(new Path(s"$out/results/file_id=$fy"),
      new Path(staging, s"file_id=$fy")))
    f.create(new Path(staging, "_SUCCESS"), true).close()
    val intent = f.create(new Path(staging, "_affected"), true)
    intent.write(s"d:$fx\ns:$fy\ns:$fz".getBytes("UTF-8")); intent.close()

    // a RESUME RUN (not just the next deleteWhere) must roll the swap
    // forward before planning: the manifest still lists fx/fy as committed,
    // so without recovery their half-swapped output would stay wrong
    assert(FileResumableExtract.run(spark, in, out) == 0L)
    assert(!f.exists(staging), "staging dir not cleaned up by run()")
    assert(!f.exists(new Path(s"$out/results/file_id=$fx")),
      "fully-deleted partition resurrected by recovery")
    assert(f.exists(new Path(s"$out/results/file_id=$fz")),
      "already-swapped partition destroyed by recovery")
    assert(hashes(out) == before.view.filterKeys(!xDocs(_)).toMap,
      "recovery lost or changed surviving rows")
    val after = hashes(out)

    // an UNCOMMITTED staging dir (no _affected intent: crash before the
    // swap started): readers and resume leave it alone (it may belong to a
    // live writer); the next deleteWhere — the maintenance entry point —
    // discards it
    f.mkdirs(new Path(staging, s"file_id=$fy"))
    f.create(new Path(staging, "_SUCCESS"), true).close()
    assert(hashes(out) == after) // readResults: no destructive self-heal
    assert(f.exists(staging), "reader discarded intent-less staging")
    assert(FileResumableExtract.run(spark, in, out) == 0L)
    assert(f.exists(staging), "resume run discarded intent-less staging")
    assert(FileResumableExtract.deleteWhere(spark, out, col("doc_id") === "no_such") == 0L)
    assert(!f.exists(staging), "maintenance did not discard orphaned staging")
    assert(hashes(out) == after)
  }

  test("maintenance lease: concurrent deleteWhere fails loudly; stale lease is taken over") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val base = Files.createTempDirectory("graft_fret_lease_").toString
    val in = s"$base/docs"
    spark.range(0, 60, 1, 4).map(i => CorpusGen.gen(i)).write.parquet(in)
    val out = s"$base/out"
    assert(FileResumableExtract.run(spark, in, out) == 60L)
    val before = hashes(out)
    val f = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = new Path(s"$out/_retention_lease")

    // a FRESH lease (another maintenance process active) → loud failure,
    // no mutation anywhere
    f.create(lease, true).close()
    val victim = before.keySet.head
    val ex = intercept[java.io.IOException] {
      FileResumableExtract.deleteWhere(spark, out, col("doc_id") === victim)
    }
    assert(ex.getMessage.contains("lease"))
    assert(hashes(out) == before, "failed acquire must not mutate the table")
    assert(f.exists(lease), "failed acquire must not release another's lease")

    // a STALE lease (holder killed) is taken over and the delete proceeds;
    // success releases the lease
    f.setTimes(lease, System.currentTimeMillis() - 24 * 3600 * 1000L, -1)
    assert(FileResumableExtract.deleteWhere(
      spark, out, col("doc_id") === victim) == 1L)
    assert(hashes(out) == before - victim)
    assert(!f.exists(lease), "lease not released after successful delete")
  }

  test("readers do not roll an intent-present swap forward while the writer's lease is fresh") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val base = Files.createTempDirectory("graft_fret_rgate_").toString
    val in = s"$base/docs"
    spark.range(0, 90, 1, 3).map(i => CorpusGen.gen(i)).write.parquet(in)
    val out = s"$base/out"
    assert(FileResumableExtract.run(spark, in, out) == 90L)
    val before = hashes(out)
    val f = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)

    // the ACTIVE-swap shape the round-4 advice flagged: intent present,
    // one partition staged, writer ALIVE (fresh lease). A reader rolling
    // forward here races the writer's own swap loop — the interleaving
    // reader-exists/writer-rename/reader-delete destroys the survivors'
    // only copy. With the lease gate the reader must leave everything
    // untouched.
    val fids = FileResumableExtract.completedFileIds(spark, out).toSeq.sorted
    val fy = fids.head
    val staging = new Path(s"$out/_retention_staging")
    f.mkdirs(staging)
    assert(f.rename(new Path(s"$out/results/file_id=$fy"),
      new Path(staging, s"file_id=$fy")))
    val intent = f.create(new Path(staging, "_affected"), true)
    intent.write(s"s:$fy".getBytes("UTF-8")); intent.close()
    f.create(new Path(s"$out/_retention_lease"), true).close()

    FileResumableExtract.readResults(spark, out) // reader while lease fresh
    assert(f.exists(new Path(staging, s"file_id=$fy")),
      "reader rolled forward under a fresh lease")
    assert(f.exists(staging), "reader touched staging under a fresh lease")

    // writer "crashes": lease goes stale → the next reader recovers
    f.setTimes(new Path(s"$out/_retention_lease"),
      System.currentTimeMillis() - 24 * 3600 * 1000L, -1)
    val healed = hashes(out)
    assert(!f.exists(staging), "stale-lease reader did not roll forward")
    assert(healed == before, "roll-forward lost rows")
  }
}
