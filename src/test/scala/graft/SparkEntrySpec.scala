package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver query registry: every query is listed once, and the oracle map
  * is derived from the same entries, so the two cannot drift apart.
  */
class SparkEntrySpec extends AnyFunSuite {

  test("registry: 65 queries, 63 oracles, only a3 and a4 snapshot without one") {
    assert(SparkEntry.queries.size == 65)
    assert(SparkEntry.oracleSql.size == 63)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet ==
      Set("a3_signature_stats", "a4_usage_snapshot"))
  }
}
