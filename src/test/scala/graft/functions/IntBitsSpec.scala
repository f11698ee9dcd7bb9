package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** BitLength64 must equal `length(bin(x))` for EVERY long — the t8 oracle
  * mirrors the string form (`length(format('{:b}', …))`), so any drift
  * here silently breaks the oracle. Pinned three ways: interpreted eval
  * vs `Long.toBinaryString(x).length` on boundary values, and a DataFrame
  * pass (whole-stage codegen path) asserting column equality against
  * Spark's own `length(bin(x))` over boundaries + a seeded random sweep.
  */
class IntBitsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession("intbits-spec", 4)

  private val boundaries: Seq[Long] =
    Seq(0L, 1L, 2L, 3L, 63L, 64L, 65L, -1L, -2L, Long.MaxValue, Long.MinValue,
      Long.MaxValue - 1, Long.MinValue + 1) ++
      (0 to 62).flatMap(i => Seq((1L << i) - 1, 1L << i, (1L << i) + 1))

  test("interpreted eval equals Long.toBinaryString length on boundary values") {
    boundaries.foreach { x =>
      val got = BitLength64(org.apache.spark.sql.catalyst.expressions.Literal(x))
        .eval(null).asInstanceOf[Int]
      assert(got == java.lang.Long.toBinaryString(x).length, s"x=$x")
    }
  }

  test("codegen path equals Spark's own length(bin(x)) on boundaries + random sweep") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val rnd = new scala.util.Random(20260818)
    val xs = boundaries ++ Seq.fill(10000)(rnd.nextLong())
    val diff = xs.toDF("x")
      .select(IntBits.bitLength(col("x")).as("fast"),
        length(bin(col("x"))).as("ref"))
      .filter(col("fast") =!= col("ref"))
      .count()
    assert(diff == 0L)
  }
}
