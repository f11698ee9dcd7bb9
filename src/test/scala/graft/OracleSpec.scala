package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Every [[SparkEntry]] query with an oracle, at sf0.001, against its
  * DuckDB SQL: [[Verify.dump]] writes the results and
  * `tools/check_oracle.py` compares them row for row. A missing python3 or
  * duckdb fails the spec; it is not a reason to skip the compare.
  */
class OracleSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  test("every query with an oracle matches its DuckDB oracle at sf0.001") {
    val spark = TestSession("oracle-spec", 4)
    spark.sparkContext.setLogLevel("WARN")
    val out = Files.createTempDirectory("oracle").toFile
    try {
      Verify.dump(spark, sfDir, out.toString)
      val proc = new ProcessBuilder("python3", "tools/check_oracle.py", sfDir,
        out.toString).redirectErrorStream(true).start()
      val report = new String(proc.getInputStream.readAllBytes(), "UTF-8")
      val exit = proc.waitFor()
      assert(exit == 0, s"check_oracle.py exited $exit:\n$report")
      // one OK row per oracle; any other verdict row is a failure
      val lines = report.linesIterator.toSeq
      val ok = lines.filter(_.startsWith("OK ")).map(_.split(' ')(1)).toSet
      val missing = SparkEntry.oracleSql.keySet -- ok
      assert(missing.isEmpty, s"not OK: ${missing.toSeq.sorted}\n$report")
      val bad = lines.filter(l => Seq("MISSING", "ORACLE ERROR", "COLUMNS",
        "ROWCOUNT", "VALUES").exists(l.startsWith))
      assert(bad.isEmpty, report)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(out)
  }
}
